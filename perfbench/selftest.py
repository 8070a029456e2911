#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale (a 2 MB corpus, the sf0.01
tables, one-second runs). It checks that:

  - every metric named in BENCHMARK.json is emitted with its unit, for
    `--trace 0` and `--trace 1`, and outputs pass their checks;
  - equal seeds give the same corpus and entry order, other seeds another;
  - a wrong expected digest raises `failed_share` above zero;
  - a listener that cannot drain in time gives a trace marked partial
    instead of a crash.

    python3 perfbench/selftest.py      # a few minutes
"""
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

failures = []


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        failures.append(what)


def bench(*argv):
    proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *argv],
                          cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        raise SystemExit(f"run.py {' '.join(argv)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().split("\n")
    return json.loads(lines[-2])["summary"], json.loads(lines[-1])


def units(result):
    return {k: v["unit"] for k, v in result["metrics"].items()}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    check(e2e == run.END_TO_END and layers == run.PER_LAYER, "BENCHMARK.json names the emitted metrics")
    check(sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS), "workloads match")
    tiny = ["--seconds", "1", "--corpus-mb", "2"]

    s1, r1 = bench("--workload", "index_build", "--seed", "7", "--trace", "0", *tiny)
    check(r1["correct"] and r1["failed"] == 0, "index_build output equals the reference index")
    check(units(r1) == e2e, "index_build --trace 0 emits every end-to-end metric with its unit")
    check(all(v["value"] > 0 for v in r1["metrics"].values()), "end-to-end metrics are nonzero")
    s2, r2 = bench("--workload", "index_build", "--seed", "7", "--trace", "1", *tiny)
    check(units(r2) == layers, "index_build --trace 1 emits every per-layer metric with its unit")
    check(r2["metrics"]["index.tokens"]["value"] > 0 and r2["metrics"]["exec.jobs"]["value"] > 0,
          "traced index_build counts tokens and jobs")
    with open(os.path.join(ROOT, s2["trace_file"])) as f:
        trace = json.load(f)
    names = {s["name"].split(":")[0] for s in trace["spans"]}
    check({"run", "pass", "entry", "builder", "action", "release"} <= names and trace["jobs"]
          and all(j["span"] >= 0 for j in trace["jobs"]), "trace file holds spans and tagged jobs")
    check(s1["corpus_sha256"] == s2["corpus_sha256"], "equal seeds give the same corpus")
    s3, _ = bench("--workload", "index_build", "--seed", "8", "--trace", "0", *tiny)
    check(s3["corpus_sha256"] != s1["corpus_sha256"], "another seed gives another corpus")

    bad = os.path.join(run.build_dir(ROOT), "selftest-expected.json")
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    entry = run.DRIVER_LOOPS[0]
    expected["driver_loops"]["entries"][entry]["sha256"] = "0" * 64
    with open(bad, "w") as f:
        json.dump(expected, f)
    s4, r4 = bench("--workload", "driver_loops", "--seed", "3", "--trace", "1", "--seconds", "1",
                   "--expected", bad, "--drain-ms", "100", "--listener-delay-ms", "200")
    check(r4["metrics"]["failed_share"]["value"] > 0 and not r4["correct"],
          "a wrong expected digest raises failed_share above zero")
    check(units(r4) == layers, "driver_loops --trace 1 emits every per-layer metric with its unit")
    check(s4["partial_trace"] and r4["metrics"]["trace.partial"]["value"] == 1,
          "a drain past its time limit writes a partial trace")
    s5, r5 = bench("--workload", "driver_loops", "--seed", "3", "--trace", "0", "--seconds", "1")
    check(r5["correct"] and r5["failed"] == 0, "driver_loops results match their digests")
    check(units(r5) == e2e, "driver_loops --trace 0 emits every end-to-end metric with its unit")
    check(s4["check_order"] == s5["check_order"] and s4["pass_orders"][0] == s5["pass_orders"][0],
          "equal seeds give the same entry order")
    os.remove(bad)
    print(f"{len(failures)} failed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
