#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py RUNS_A RUNS_B

RUNS_A and RUNS_B are directories of per-run result files, as
perfbench/run.py leaves them in .bench_build/results/ (copy that
directory aside after each set of runs). For every workload and
end-to-end metric it prints the median and quartiles of each set and
marks the pairing against the metric's bound from BENCHMARK.json:

  inside      B is not worse than A by more than the bound
  outside     B is worse by more than the bound, and the two
              interquartile ranges do not overlap
  unresolved  B is worse by more than the bound but the ranges overlap,
              or a set's own spread exceeds the bound, or a set has no runs

Metrics the runs report but BENCHMARK.json does not gate are listed after
the gated ones, without a verdict. It then prints the per-layer metrics
of the traced runs side by side.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    runs = {}
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        r = json.load(open(p))
        runs.setdefault((r["workload"], bool(r["trace"])), []).append(r)
    return runs


def quartiles(xs):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(a, b, better, bound):
    if not a or not b:
        return "unresolved"
    a1, am, a3 = quartiles(a)
    b1, bm, b3 = quartiles(b)
    if am == 0 or bm == 0:
        return "unresolved"
    worse = (bm - am) / am if better == "lower" else (am - bm) / am
    if worse <= bound:
        return "inside"
    if (a3 - a1) / am > bound or (b3 - b1) / bm > bound:
        return "unresolved"
    apart = b1 > a3 if better == "lower" else b3 < a1
    return "outside" if apart else "unresolved"


def fmt(v):
    return f"{v:.4g}"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    a, b = load(sys.argv[1]), load(sys.argv[2])
    workloads = [w["name"] for w in spec["workloads"]]

    print(f"{'workload':<8} {'metric':<30} {'A q1/med/q3':>28} {'B q1/med/q3':>28} "
          f"{'change':>8} {'bound':>6}  verdict")
    gated = [m["name"] for m in spec["end_to_end"]]
    for w in workloads:
        ra, rb = a.get((w, False), []), b.get((w, False), [])
        # metrics the runs report beyond the gated ones are shown without a verdict
        extra = sorted({k for r in ra + rb for k in r["e2e"]} - set(gated))
        for m in spec["end_to_end"] + [{"name": k, "better": None, "bound": "-"} for k in extra]:
            xa = [r["e2e"][m["name"]] for r in ra if r["e2e"].get(m["name"]) is not None]
            xb = [r["e2e"][m["name"]] for r in rb if r["e2e"].get(m["name"]) is not None]
            qa = "/".join(fmt(v) for v in quartiles(xa)) if xa else "-"
            qb = "/".join(fmt(v) for v in quartiles(xb)) if xb else "-"
            change = ""
            if xa and xb and statistics.median(xa) != 0:
                change = f"{100 * (statistics.median(xb) / statistics.median(xa) - 1):+.1f}%"
            v = verdict(xa, xb, m["better"], m["bound"]) if m["better"] else "-"
            print(f"{w:<8} {m['name']:<30} {qa:>28} {qb:>28} {change:>8} {m['bound']:>6}  {v}")
        fails = sum(r["failed"] for r in ra + rb)
        print(f"{w:<8} {'runs / wrong answers':<30} {len(ra):>28} {len(rb):>28}   failed ops: {fails}")

    print()
    print(f"{'workload':<8} {'per-layer metric (traced runs)':<34} {'A median':>12} {'B median':>12} {'change':>8}")
    for w in workloads:
        ra, rb = a.get((w, True), []), b.get((w, True), [])
        if not ra and not rb:
            print(f"{w:<8} (no traced runs)")
            continue
        for m in spec["per_layer"]:
            xa = [r["layers"][m["name"]] for r in ra if r["layers"].get(m["name"]) is not None]
            xb = [r["layers"][m["name"]] for r in rb if r["layers"].get(m["name"]) is not None]
            ma = statistics.median(xa) if xa else None
            mb = statistics.median(xb) if xb else None
            change = f"{100 * (mb / ma - 1):+.1f}%" if ma and mb is not None else ""
            print(f"{w:<8} {m['name']:<34} {fmt(ma) if ma is not None else '-':>12} "
                  f"{fmt(mb) if mb is not None else '-':>12} {change:>8}")


if __name__ == "__main__":
    main()
