#!/usr/bin/env python3
"""Compare two monthly-close output trees.

    python3 tools/closediff.py DIR_A DIR_B

DIR_A and DIR_B are the output roots of two `Cli run` invocations (for
example the `--curated-dir`, `--star-dir`, `--bi-dir` and `--dashboard`
targets all placed under one directory per run). Every parquet dataset
(a directory holding `*.parquet` part files) is compared row for row
through DuckDB: the same columns with the same types, and the same rows
once both sides are sorted on every column, since part-file names and
order differ between runs. Every other file (CSV, HTML, text) is
compared byte for byte; `.crc` checksums are skipped. A file or dataset
present on one side only is a difference. A dot-named entry (a
`.stage_*` or `.aside_*` left by a publish, a `.csv_parts*` temp dir)
is debris no run should leave, so each one found in either tree is a
difference, even when both trees hold it.

Prints one line per difference and exits 1 if there is any, else prints
a one-line summary and exits 0.
"""
import os
import sys

import duckdb

SHOW = 10


def scan(root):
    """(parquet dataset dirs, other files, dot-named entries), all relative
    to `root`: a dataset is a directory named *.parquet or one holding
    *.parquet parts; a dot-named entry is reported, not descended into"""
    datasets, files, dotted = set(), set(), set()
    for dirpath, dirnames, filenames in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        for name in [d for d in dirnames if d.startswith(".")] + \
                [f for f in filenames if f.startswith(".") and not f.endswith(".crc")]:
            dotted.add(os.path.normpath(os.path.join(rel, name)))
        dirnames[:] = [d for d in dirnames if not d.startswith(".")]
        filenames = [f for f in filenames if not f.startswith(".")]
        if dirpath.endswith(".parquet") or any(f.endswith(".parquet") for f in filenames):
            datasets.add(rel)
            dirnames[:] = []
            continue
        for f in filenames:
            if not f.endswith(".crc"):
                files.add(os.path.normpath(os.path.join(rel, f)))
    return datasets, files, dotted


def table(con, path):
    """(column names and types, rows sorted on every column)"""
    parts = os.path.join(path, "**", "*.parquet").replace("'", "''")
    rel = con.sql("SELECT * FROM read_parquet('%s', hive_partitioning = true)" % parts)
    return list(zip(rel.columns, map(str, rel.types))), rel.order("ALL").fetchall()


def compare_dataset(con, a, b, rel):
    schema_a, rows_a = table(con, os.path.join(a, rel))
    schema_b, rows_b = table(con, os.path.join(b, rel))
    if schema_a != schema_b:
        return ["%s: schema differs: %s vs %s" % (rel, schema_a, schema_b)]
    if rows_a == rows_b:
        return []
    out = ["%s: sorted row %d: %r vs %r" % (rel, i, ra, rb)
           for i, (ra, rb) in enumerate(zip(rows_a, rows_b)) if ra != rb]
    if len(rows_a) != len(rows_b):
        out.append("%s: %d vs %d rows" % (rel, len(rows_a), len(rows_b)))
    return capped(rel, out)


def compare_file(a, b, rel):
    with open(os.path.join(a, rel), "rb") as fa, open(os.path.join(b, rel), "rb") as fb:
        da, db = fa.read(), fb.read()
    if da == db:
        return []
    la, lb = da.splitlines(), db.splitlines()
    out = ["%s: line %d: %r vs %r" % (rel, i + 1, x, y)
           for i, (x, y) in enumerate(zip(la, lb)) if x != y]
    if len(la) != len(lb):
        out.append("%s: %d vs %d lines" % (rel, len(la), len(lb)))
    return capped(rel, out)


def capped(rel, lines):
    if len(lines) <= SHOW:
        return lines
    return lines[:SHOW] + ["%s: ... %d more differences" % (rel, len(lines) - SHOW)]


def main(argv):
    if len(argv) != 3 or not all(os.path.isdir(d) for d in argv[1:]):
        sys.exit("usage: closediff.py DIR_A DIR_B (two existing directories)")
    a, b = argv[1], argv[2]
    (sets_a, files_a, dots_a), (sets_b, files_b, dots_b) = scan(a), scan(b)
    diffs = ["%s: dot-named entry in %s" % (rel, d)
             for d, dots in ((a, dots_a), (b, dots_b)) for rel in sorted(dots)]
    for rel in sorted(sets_a ^ sets_b):
        diffs.append("%s: parquet dataset only in %s" % (rel, a if rel in sets_a else b))
    for rel in sorted(files_a ^ files_b):
        diffs.append("%s: file only in %s" % (rel, a if rel in files_a else b))
    con = duckdb.connect()
    for rel in sorted(sets_a & sets_b):
        diffs += compare_dataset(con, a, b, rel)
    for rel in sorted(files_a & files_b):
        diffs += compare_file(a, b, rel)
    for d in diffs:
        print(d)
    if diffs:
        sys.exit(1)
    print("identical: %d parquet datasets, %d files" % (len(sets_a & sets_b), len(files_a & files_b)))


if __name__ == "__main__":
    main(sys.argv)
