"""Month-end close benchmark.

Builds the program and the benchmark from source (see build.py), runs one
workload in a fresh JVM and prints, as the last line of stdout, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end figures, with --trace 1 the per-layer ones
(BENCHMARK.json names both). A line before it records the seed, the core
count and the input sizes.

A run is one JVM: set-up (session start, inputs generated from the seed,
and for the corpus its index and cluster table), then one timed operation.
That operation is longer than the --seconds window; --seconds is accepted
for the common benchmark interface.

    python3 perfbench/run.py --workload close_small --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --selfcheck
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_TIMEOUT_S = 170
SELFCHECK_TIMEOUT_S = 900
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(classes, work, main):
    """A JVM whose scratch files (Spark local dirs, temp files, warehouse)
    all stay under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx" + HEAP]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", build.classpath(classes), main]
    return cmd


def cores():
    """CPUs this process may run on, as `nproc` counts them"""
    return len(os.sched_getaffinity(0))


def run_jvm(classes, work, main, args, timeout=JVM_TIMEOUT_S):
    """Runs `main` with `args` and returns its exit code; the JVM's
    output goes to work/jvm.log."""
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(java_cmd(classes, work, main) + args,
                                stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return "timeout"


def jvm_log(work):
    with open(os.path.join(work, "jvm.log"), errors="replace") as log:
        return log.read()


def fail(work, code):
    sys.stderr.write(jvm_log(work)[-6000:])
    sys.exit("perfbench: JVM exit %s" % code)


def spec():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=[w["name"] for w in spec()["workloads"]])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selfcheck", action="store_true",
                    help="check the benchmark itself: trace determinism and the defect injector")
    args = ap.parse_args()
    if not args.selfcheck and (args.workload is None or args.seed is None or args.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    try:
        classes = build.build()
    except build.BuildError as e:
        sys.exit("perfbench: build failed: %s" % e)

    name = "selfcheck" if args.selfcheck else args.workload
    work = os.path.join(build.OUT, "run", "%s-%d" % (name, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if args.selfcheck:
            code = run_jvm(classes, work, "perfbench.SelfCheck",
                           ["--cores", str(cores()), "--work-dir", os.path.join(work, "data")],
                           SELFCHECK_TIMEOUT_S)
            verdicts = [l for l in jvm_log(work).splitlines() if l.startswith(("ok:", "FAIL:"))]
            print("\n".join(verdicts))
            if code != 0 and not any(l.startswith("FAIL:") for l in verdicts):
                fail(work, code)
            sys.exit(0 if code == 0 else 1)
        result_path = os.path.join(work, "result.json")
        code = run_jvm(classes, work, "perfbench.Main", [
            "--workload", args.workload, "--seed", str(args.seed), "--trace", str(args.trace),
            "--cores", str(cores()), "--work-dir", os.path.join(work, "data"),
            "--result", result_path])
        if code != 0 or not os.path.isfile(result_path):
            fail(work, code)
        with open(result_path) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = result["metrics"]
    wanted = [m["name"] for m in spec()["per_layer" if args.trace else "end_to_end"]]
    if sorted(metrics) != sorted(wanted) or any(metrics[m]["value"] is None for m in wanted):
        sys.exit("perfbench: metrics do not match BENCHMARK.json: %s" % sorted(metrics))
    for p in result["problems"]:
        sys.stderr.write("perfbench: check failed: %s\n" % p)
    print(json.dumps({"perfbench": result["info"]}))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed")} |
                     {"metrics": {m: metrics[m] for m in wanted}}))


if __name__ == "__main__":
    main()
