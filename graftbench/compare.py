#!/usr/bin/env python3
"""Compare two sets of graftbench results, metric by metric.

    python3 graftbench/compare.py BASE.jsonl NEW.jsonl

Each file holds run records as `run.py` appends them to
`.bench_build/graftbench/results.jsonl`. Untraced runs are compared on the
end-to-end metrics of BENCHMARK.json: per workload, each side's median and
quartiles, and whether NEW's median is worse than BASE's by more than the
metric's bound. A metric whose BASE spread (quartile distance / median) is
wider than its bound is reported as unresolved. Results from different hosts
are never compared: the command refuses when the host provenance differs.
"""
import json
import os
import statistics
import sys

HOST_KEYS = ("host", "nproc", "master", "driver_heap_mb", "jdk", "spark")


def load(path):
    with open(path) as fh:
        return [json.loads(ln) for ln in fh if ln.strip()]


def summary(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q = statistics.quantiles(vals, n=4)
    return q[0], statistics.median(vals), q[2]


def main():
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(sys.argv[1]), load(sys.argv[2])
    hosts = {tuple(r.get(k) for k in HOST_KEYS) for r in base + new}
    if len(hosts) != 1:
        print("refusing to compare results from different hosts:", file=sys.stderr)
        for h in sorted(hosts, key=str):
            print("  " + ", ".join(f"{k}={v}" for k, v in zip(HOST_KEYS, h)), file=sys.stderr)
        return 2
    spec_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
    with open(spec_path) as fh:
        spec = json.load(fh)
    worse = 0
    for w in [x["name"] for x in spec["workloads"]]:
        for m in spec["end_to_end"]:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            b = [r["result"]["metrics"][name]["value"] for r in base
                 if r["workload"] == w and not r["trace"] and name in r["result"]["metrics"]]
            n = [r["result"]["metrics"][name]["value"] for r in new
                 if r["workload"] == w and not r["trace"] and name in r["result"]["metrics"]]
            if not b or not n:
                continue
            bq1, bmed, bq3 = summary(b)
            nq1, nmed, nq3 = summary(n)
            change = (nmed - bmed) / bmed if bmed else 0.0
            spread = (bq3 - bq1) / bmed if bmed else 0.0
            regress = change > bound if lower else change < -bound
            verdict = ("WORSE" if regress else "ok") if spread <= bound else "unresolved"
            worse += verdict == "WORSE"
            print(f"{w:11s} {name:14s} base {bmed:.4g} [{bq1:.4g}, {bq3:.4g}] n={len(b)}  "
                  f"new {nmed:.4g} [{nq1:.4g}, {nq3:.4g}] n={len(n)}  "
                  f"{change:+.1%} (bound {bound:.0%})  {verdict}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main())
