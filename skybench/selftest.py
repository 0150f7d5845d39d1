#!/usr/bin/env python3
"""Self-test of the benchmark: every workload at toy size.

    python3 skybench/selftest.py [workload ...]

For each workload (default: those of BENCHMARK.json plus run.py's extras)
it checks that
  * an untraced run is correct and prints every end-to-end metric,
  * a traced run prints every per-layer metric, and the layers the workload
    exercises are measured rather than filled in as bypassed,
  * the run record holds the seed, sizes, session config, revision,
    per-metric sample counts and the CPU calibration time,
  * a run whose answers are corrupted (one frontier row or one pair dropped
    before the check) reports failed queries (failed_frac > 0).
Exits non-zero on the first failure.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402  (same directory)

LAYERS = {
    "sky_uniform4d": ["spark.", "ops.", "mr.", "kernel.", "agg.", "sources.", "layout.", "trace."],
    "sky_anti3d": ["spark.", "ops.", "mr.", "kernel.", "agg.", "sources.", "layout.", "trace."],
    "sky_stream_anti2d": ["spark.", "stream.", "kernel.", "sources.", "trace."],
    "dedup_neardup": ["spark.", "dedup.", "caches.", "trace."],
}
RECORD_KEYS = ["seed", "workload_info", "spark_conf", "git_revision", "source_digest",
               "samples", "calibration_ms", "queries", "failures", "setup"]


def bench_run(workload, trace, *flags):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "3", "--trace", str(trace), "--toy", *flags]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{' '.join(cmd[1:])} exited {p.returncode}: {p.stderr[-2000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    rec_path = [l.split("record ", 1)[1] for l in p.stderr.splitlines()
                if l.startswith("skybench: record ")][-1]
    with open(os.path.join(ROOT, rec_path)) as fh:
        return result, json.load(fh)


def check(cond, msg):
    if not cond:
        raise AssertionError(msg)


def test(workload, bench):
    e2e = [m["name"] for m in bench["end_to_end"]]
    per_layer = [m["name"] for m in bench["per_layer"]]

    res, rec = bench_run(workload, 0)
    check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
          f"untraced run not correct: {res} {rec['failures']}")
    check(sorted(res["metrics"]) == sorted(e2e), f"end-to-end metrics {sorted(res['metrics'])}")
    for k in RECORD_KEYS:
        check(k in rec, f"record lacks {k}")
    check(rec["samples"]["query_ms"] == res["attempted"], "sample count differs from attempted")

    res, rec = bench_run(workload, 1)
    check(res["correct"], f"traced run not correct: {rec['failures']}")
    check(sorted(res["metrics"]) == sorted(per_layer), "per-layer metric set differs")
    own = [m for m in rec["bypassed_per_layer"]
           if any(m.startswith(p) for p in LAYERS[workload])]
    check(not own, f"layers this workload exercises were not measured: {own}")

    res, rec = bench_run(workload, 0, "--corrupt")
    check(res["failed"] > 0 and not res["correct"] and
          res["metrics"]["ok_frac"]["value"] < 1.0,
          f"corrupted answers were not caught: {res}")
    check(rec["failures"]["mismatch"] > 0, "corruption not recorded as a mismatch")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = sys.argv[1:] or [w["name"] for w in bench["workloads"]] + run.EXTRA_WORKLOADS
    for w in names:
        test(w, bench)
        print(f"selftest {w}: ok", flush=True)


if __name__ == "__main__":
    main()
