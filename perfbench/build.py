"""Build file of the benchmark package.

Compiles the program (src/main/scala) together with the benchmark
(perfbench/src) using the Scala compiler and jars of the local Spark
install, into .bench_build/classes at the checkout root. A stamp of the
source hashes skips the compile when nothing changed.

    python3 perfbench/build.py      # build, print the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]


class BuildError(Exception):
    pass


def spark_jars():
    """The jars directory of the Spark install: $SPARK_HOME, else the one
    that owns `spark-submit` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("no Spark install found: set SPARK_HOME")
    return jars


def classpath(classes):
    return classes + os.pathsep + os.path.join(spark_jars(), "*")


def _sources():
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise BuildError("program sources missing: %s" % SOURCE_DIRS[0])
    found = []
    for d in SOURCE_DIRS:
        for dirpath, _, files in os.walk(d):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Compiles if the sources changed; returns the classes directory."""
    sources = _sources()
    digest = hashlib.sha256()
    for path in sources + [os.path.abspath(__file__)]:
        digest.update(path.encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(OUT, "classes.sha256")
    classes = os.path.join(OUT, "classes")
    if os.path.isfile(stamp) and open(stamp).read() == digest.hexdigest():
        return classes

    jars = spark_jars()
    compiler = [jar for n in ("compiler", "library", "reflect")
                for jar in _glob_prefix(jars, "scala-%s-2.13" % n)]
    if len(compiler) != 3:
        raise BuildError("Scala 2.13 compiler jars not found under %s" % jars)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(OUT, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-cp", os.path.join(jars, "*"), "@" + args_file]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return classes


def _glob_prefix(d, prefix):
    return [os.path.join(d, f) for f in sorted(os.listdir(d))
            if f.startswith(prefix + ".") and f.endswith(".jar")]


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(str(e))
