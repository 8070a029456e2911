#!/usr/bin/env python3
"""Establish `perfbench/expected.json`: run each query workload once, compare
every entry's result with its DuckDB oracle (`SparkEntry.oracleSql`) on the
same tables under the oracle checker's rules, and record the result digest
only when all entries pass.

    python3 perfbench/establish.py
"""
import json
import os
import shutil
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import build  # noqa: E402
import digest  # noqa: E402
import run  # noqa: E402

BAD_ORACLE_TYPES = ("HUGEINT", "UHUGEINT")


def compare(got, rel):
    """None when the Spark result equals the oracle's, else the reason."""
    bad = [c for c, t in zip(rel.columns, rel.types) if str(t).upper() in BAD_ORACLE_TYPES]
    if bad:
        return f"oracle emits HUGEINT columns {bad}"
    want = rel.fetchdf()
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    kinds = [c for c in got.columns if got[c].dtype.kind != want[c].dtype.kind]
    if kinds:
        return f"dtype kinds differ in {kinds}"
    floats = {c for c in got.columns if got[c].dtype.kind == "f" and want[c].dtype.kind == "f"}
    if not digest.canon(got, floats).equals(digest.canon(want, floats)):
        return "values differ"
    return None


def main():
    root = os.path.dirname(HERE)
    bdir = run.build_dir(root)
    classpath = build.build(root, bdir)
    expected, failures = {}, []
    for name, spec in run.WORKLOADS.items():
        if spec["data"] is None:
            continue
        args = run.parse(["--workload", name, "--seed", "0", "--seconds", "0", "--trace", "0"])
        work = os.path.join(bdir, "runs", f"establish-{name}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        res = run.run_jvm(args, classpath, work, time.time())
        failures += res["errors"]
        con = duckdb.connect()
        for f in sorted(os.listdir(spec["data"])):
            if f.endswith(".parquet"):
                path = os.path.join(spec["data"], f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
        entries = {}
        for entry in spec["entries"]:
            got = digest.load(os.path.join(res["results_dir"], entry))
            why = compare(got, con.sql(res["oracle_sql"][entry]))
            if why:
                failures.append(f"{entry}: {why}")
                continue
            rows, sha = digest.digest(got)
            entries[entry] = {"rows": rows, "sha256": sha}
            print(f"PASS {entry} ({rows} rows)")
        expected[name] = {"data": os.path.relpath(spec["data"], HERE), "entries": entries}
        shutil.rmtree(work, ignore_errors=True)
    if failures:
        print("\n".join("FAIL " + f for f in failures))
        return 1
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=2, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
