#!/usr/bin/env python3
"""Compare two sets of benchmark run records, per workload and metric.

    python3 skybench/compare.py BASE NEW

BASE and NEW are directories (or single files) of run records as written to
skybench/out/records/ by run.py. For every workload and end-to-end metric of
BENCHMARK.json it prints each side's median and quartiles over its untraced
runs, the change of the median, and a verdict against the metric's bound:

  failed       a NEW run has failed queries or an incorrect answer
  regression   NEW's median is worse than BASE's by more than the bound
  improved     better by more than BASE's own quartile spread
  unresolved   either side's quartile spread is wider than the bound
  same         otherwise

For traced runs it prints the per-layer medians and their change, and per
workload the tracing overhead: the traced runs' query p50 minus the untraced
runs' query p50. Exits non-zero on any "failed" or "regression" verdict.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    files = [path] if os.path.isfile(path) else \
        glob.glob(os.path.join(path, "**", "*.json"), recursive=True)
    out = []
    for f in files:
        if f.endswith(".spans.json"):
            continue
        try:
            with open(f) as fh:
                r = json.load(fh)
        except (OSError, ValueError):
            continue
        if isinstance(r, dict) and "workload" in r and "end_to_end" in r \
                and not r.get("toy") and not r.get("corrupt"):
            out.append(r)
    return out


def quartiles(vals):
    if len(vals) == 1:
        return vals[0], vals[0], vals[0]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return q1, med, q3


def series(records, workload, trace, section, name):
    return [r[section][name] for r in records
            if r["workload"] == workload and bool(r["trace"]) == trace
            and r[section].get(name) is not None]


def verdict(base, new, better, bound, new_failed):
    bq1, bmed, bq3 = quartiles(base)
    nq1, nmed, nq3 = quartiles(new)
    change = (nmed - bmed) / bmed if bmed else 0.0
    worse = change if better == "lower" else -change
    spread_b = (bq3 - bq1) / bmed if bmed else 0.0
    spread_n = (nq3 - nq1) / nmed if nmed else 0.0
    if new_failed:
        v = "failed"
    elif worse > bound:
        v = "regression"
    elif max(spread_b, spread_n) > bound:
        v = "unresolved"
    elif -worse > spread_b and -worse > 0:
        v = "improved"
    else:
        v = "same"
    return {"base": [bq1, bmed, bq3], "new": [nq1, nmed, nq3], "n": [len(base), len(new)],
            "change": change, "spread": [spread_b, spread_n], "verdict": v}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("new")
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    base, new = load(a.base), load(a.new)
    workloads = sorted({r["workload"] for r in base + new})
    report = {"end_to_end": {}, "per_layer": {}, "trace_overhead_ms": {}}
    for w in workloads:
        # a gain does not count when any query of a new run failed
        new_failed = any(r["failed"] > 0 or not r["correct"]
                         for r in new if r["workload"] == w)
        for m in bench["end_to_end"]:
            b = series(base, w, False, "end_to_end", m["name"])
            n = series(new, w, False, "end_to_end", m["name"])
            if b and n:
                report["end_to_end"][f"{w}/{m['name']}"] = \
                    verdict(b, n, m["better"], m["bound"], new_failed)
        for m in bench["per_layer"]:
            b = series(base, w, True, "per_layer", m["name"])
            n = series(new, w, True, "per_layer", m["name"])
            if b and n:
                bm, nm = statistics.median(b), statistics.median(n)
                report["per_layer"][f"{w}/{m['name']}"] = {
                    "base": bm, "new": nm, "delta": nm - bm,
                    "change": (nm - bm) / bm if bm else None}
        for side, recs in (("base", base), ("new", new)):
            t = series(recs, w, True, "per_layer", "trace.query_p50_ms")
            u = series(recs, w, False, "end_to_end", "query_p50_ms")
            if t and u:
                report["trace_overhead_ms"].setdefault(w, {})[side] = \
                    statistics.median(t) - statistics.median(u)
    print(f"{'workload/metric':44} {'base median':>13} {'new median':>13} "
          f"{'change':>8} {'spread b/n':>13}  verdict")
    for k, v in report["end_to_end"].items():
        print(f"{k:44} {v['base'][1]:13.4g} {v['new'][1]:13.4g} {v['change']:+8.1%} "
              f"{v['spread'][0]:6.1%}/{v['spread'][1]:<6.1%}  {v['verdict']}"
              f"  (n={v['n'][0]}/{v['n'][1]})")
    if report["per_layer"]:
        print(f"\n{'workload/per-layer metric':56} {'base':>13} {'new':>13} {'change':>8}")
        for k, v in report["per_layer"].items():
            ch = f"{v['change']:+8.1%}" if v["change"] is not None else "       -"
            print(f"{k:56} {v['base']:13.4g} {v['new']:13.4g} {ch}")
    for w, v in report["trace_overhead_ms"].items():
        print(f"\ntracing overhead {w}: " +
              ", ".join(f"{s} {ms:+.1f} ms" for s, ms in v.items()))
    if any(v["verdict"] in ("failed", "regression") for v in report["end_to_end"].values()):
        sys.exit(1)


if __name__ == "__main__":
    main()
