#!/usr/bin/env python3
"""Benchmark of the Spark inverted-index engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It compiles the program and the harness
(`perfbench/build.py`), then runs one workload in a single JVM on
`local[<cores>]` with Bench's session shape (`SessionDefaults.harness`, AQE on,
32 shuffle partitions). Set-up (JVM, session, inputs, a checked cold run and
warm passes) is timed as `setup_s`; then whole passes run until `--seconds`
have passed. Every output is checked. The last stdout line is one JSON object
`{"correct", "attempted", "failed", "metrics"}`: end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`. The line before it is a
summary with sample counts, entry orders and the trace file.

Workloads:
  index_build   IndexJob.run on a seeded generated corpus; the 26 letter files
                must be byte-equal to a single-threaded reference index.
  driver_loops  q38, q358, q333, q263, q360 on the sf0.01 documents table; each
                result must match a digest established against the DuckDB oracle.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

DRIVER_LOOPS = ["q38_dedup_apply", "q358_leakage_safe_split", "q333_perplexity_gate",
                "q263_bpe_learn", "q360_bpe_apply"]
WORKLOADS = {
    "index_build": {"entries": ["index_build"], "data": None},
    "driver_loops": {"entries": DRIVER_LOOPS, "data": os.path.join(HERE, "data", "sf0.01")},
}
END_TO_END = {"wall_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "queries.builder_s": "s", "queries.builder_jobs": "count",
    "catalyst.plan_s": "s", "catalyst.analysis_s": "s", "catalyst.optimizer_s": "s",
    "catalyst.planning_s": "s",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.task_queue_s": "s", "exec.gc_s": "s",
    "exec.core_util": "share", "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB", "exec.failed_tasks": "count",
    "sources.input_mb": "MB", "sources.input_rows": "count", "sources.read_s": "s",
    "index.tokens": "count", "index.combine_ratio": "ratio", "index.words": "count",
    "index.agg_s": "s", "index.exchange_mb": "MB", "index.sort_s": "s", "index.write_mb": "MB",
    "index.finalize_s": "s", "index.corpus_mb_per_s": "MB/s",
    "persist.rdds": "count", "persist.peak_mb": "MB", "persist.release_s": "s",
    **{f"entry.{e}_{k}": u for w in WORKLOADS.values() for e in w["entries"]
       for k, u in (("s", "s"), ("jobs", "count"))},
    "trace.overhead_s": "s", "trace.partial": "count", "failed_share": "share",
}
CORPUS_MB = 12.0
JVM_TIMEOUT_S = 170
JAVA_OPTS = ["-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--corpus-mb", type=float, default=CORPUS_MB, help="index_build corpus size")
    p.add_argument("--expected", default=os.path.join(HERE, "expected.json"),
                   help="result digests of the query entries")
    p.add_argument("--drain-ms", type=int, default=10000, help="listener drain time limit")
    p.add_argument("--listener-delay-ms", type=int, default=0,
                   help="self-test hook: slow the listener so the drain limit trips")
    return p.parse_args(argv)


def build_dir(root):
    return os.path.join(root, ".bench_build")


def run_jvm(args, classpath, work, t0):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    data = WORKLOADS[args.workload]["data"] or work
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", work, "--data", data,
           "--corpus-mb", str(args.corpus_mb), "--t0-ms", str(int(t0 * 1000)),
           "--drain-ms", str(args.drain_ms), "--listener-delay-ms", str(args.listener_delay_ms),
           "--out", out]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S,
                                  cwd=work)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"JVM exceeded {JVM_TIMEOUT_S} s")
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"JVM exited with {proc.returncode}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def check_queries(args, res):
    """Digest the check run's results and the rows of every timed pass."""
    import digest
    with open(args.expected) as f:
        expected = json.load(f)[args.workload]["entries"]
    errors = []
    for entry in WORKLOADS[args.workload]["entries"]:
        want = expected.get(entry)
        try:
            rows, sha = digest.digest(digest.load(os.path.join(res["results_dir"], entry)))
        except Exception as e:  # a missing or unreadable result is a failed check
            errors.append(f"{entry}: {e}")
            continue
        if want is None or (rows, sha) != (want["rows"], want["sha256"]):
            errors.append(f"{entry}: digest {rows} rows {sha[:12]} != expected {want}")
        for p in res["passes"]:
            got = p["rows"].get(entry)
            if got is not None and want is not None and got != want["rows"]:
                errors.append(f"{entry}: pass returned {got} rows, expected {want['rows']}")
    return errors


def metrics(args, res, failed, attempted):
    untraced = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    wall = statistics.median(untraced)
    corpus_mb = res.get("corpus_bytes", 0) / 1e6
    if args.trace == 0:
        values = {"wall_s": wall, "setup_s": res["setup_s"], "peak_rss_mb": res["peak_rss_mb"]}
        units = END_TO_END
    else:
        values = {name: 0.0 for name in PER_LAYER}
        values.update(res["layers"])
        values["index.corpus_mb_per_s"] = corpus_mb / wall if corpus_mb else 0.0
        values["failed_share"] = failed / attempted
        units = PER_LAYER
    summary = {
        "workload": args.workload, "seed": args.seed, "cores": res["cores"],
        "wall_s": {"median": wall, "min": min(untraced), "max": max(untraced),
                   "samples": len(untraced)},
        "traced_passes": sum(1 for p in res["passes"] if p["traced"]),
        "setup_s": {"value": res["setup_s"], "samples": 1, "inputs_s": res["inputs_s"]},
        "corpus_mb": corpus_mb, "corpus_mb_per_s": corpus_mb / wall if corpus_mb else None,
        "corpus_sha256": res.get("corpus_sha256"),
        "check_order": res["check_order"], "pass_orders": [p["order"] for p in res["passes"]],
        "entry_s": [p["entry_s"] for p in res["passes"]],
        "trace_file": res.get("trace_file"), "partial_trace": res["partial"],
    }
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}, summary


def main(argv=None):
    args = parse(argv)
    root = os.path.dirname(HERE)
    bdir = build_dir(root)
    try:
        classpath = build.build(root, bdir)
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 1
    t0 = time.time()  # set-up starts once the build is done
    work = os.path.join(bdir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(args, classpath, work, t0)
        errors = list(res["errors"])
        if WORKLOADS[args.workload]["data"]:
            errors += check_queries(args, res)
        attempted = max(1, res["attempted"])
        failed = min(attempted, len(errors))
        values, summary = metrics(args, res, failed, attempted)
        summary["errors"] = errors
        if res.get("trace_file"):
            traces = os.path.join(bdir, "traces")
            os.makedirs(traces, exist_ok=True)
            dest = os.path.join(traces, f"{args.workload}-seed{args.seed}.json")
            shutil.copyfile(res["trace_file"], dest)
            summary["trace_file"] = os.path.relpath(dest, root)
    except Exception as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"summary": summary}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": values}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
