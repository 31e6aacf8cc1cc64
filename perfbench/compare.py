#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

Usage: python3 perfbench/compare.py <base> <change>

<base> and <change> are each a directory of run records (what
``perfbench/run.py`` writes to ``.bench_out/runs``) or a single record.
For every workload and end-to-end metric it prints both sides' median
and quartiles, how many seed-matched pairs the change wins, and a
verdict against the metric's bound in BENCHMARK.json:

* worse      - the change's median is worse by more than the bound;
* better     - the change wins at least 9 of 10 pairs and the medians
               differ by more than the base's quartile spread;
* unresolved - either side's quartile spread exceeds the bound, unless
               every change run beats every base run (then better);
* same       - otherwise.

Traced runs (``--trace 1``) on both sides also get a per-layer diff:
each metric's median on both sides and their ratio, with its base.
"""
import json
import os
import statistics
import sys


def load(path):
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".json")]
             if os.path.isdir(path) else [path])
    out = []
    for f in files:
        with open(f) as fh:
            out.append(json.load(fh))
    return out


def quartiles(v):
    if len(v) == 1:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, statistics.median(v), q3


def pairs(a, b):
    """(base, change) values paired by seed, else in run order."""
    sa = {r["seed"]: r for r in a}
    sb = {r["seed"]: r for r in b}
    common = sorted(set(sa) & set(sb))
    if common:
        return [(sa[s], sb[s]) for s in common]
    return list(zip(a, b))


def verdict(av, bv, wins, npairs, bound, higher):
    better = (lambda x, y: x > y) if higher else (lambda x, y: x < y)
    qa, qb = quartiles(av), quartiles(bv)
    ma, mb = qa[1], qb[1]
    worse_by = ((ma - mb) if higher else (mb - ma)) / abs(ma) if ma else 0.0
    if worse_by > bound:
        return "worse"
    if npairs and wins >= 0.9 * npairs and better(mb, ma) and abs(mb - ma) > qa[2] - qa[0]:
        return "better"
    spread = max((q[2] - q[0]) / abs(q[1]) if q[1] else 0.0 for q in (qa, qb))
    if spread > bound:
        return "better" if all(better(y, x) for x in av for y in bv) else "unresolved"
    return "same"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    base, change = load(sys.argv[1]), load(sys.argv[2])
    for w in [x["name"] for x in bench["workloads"]]:
        a = [r for r in base if r["workload"] == w and not r["trace"]]
        b = [r for r in change if r["workload"] == w and not r["trace"]]
        if a and b:
            print(f"== {w}: {len(a)} base runs, {len(b)} change runs")
            print(f"  {'metric':<28} {'base q1/median/q3':>32} {'change q1/median/q3':>32}"
                  f" {'wins':>6}  verdict")
            for m in bench["end_to_end"]:
                k, higher = m["name"], m["better"] == "higher"
                av = [r["end_to_end"][k] for r in a]
                bv = [r["end_to_end"][k] for r in b]
                ps = pairs(a, b)
                wins = sum(1 for x, y in ps
                           if (y["end_to_end"][k] > x["end_to_end"][k]) == higher
                           and y["end_to_end"][k] != x["end_to_end"][k])
                fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
                print(f"  {k:<28} {fmt(quartiles(av)):>32} {fmt(quartiles(bv)):>32}"
                      f" {wins:>2}/{len(ps):<3}  {verdict(av, bv, wins, len(ps), m['bound'], higher)}"
                      f" (bound {m['bound']:.0%} {m['unit']})")
        ta = [r for r in base if r["workload"] == w and r["trace"]]
        tb = [r for r in change if r["workload"] == w and r["trace"]]
        if ta and tb:
            print(f"== {w} per layer: {len(ta)} base traced runs, {len(tb)} change traced runs")
            for m in bench["per_layer"]:
                k = m["name"]
                x = statistics.median(r["per_layer"][k] for r in ta)
                y = statistics.median(r["per_layer"][k] for r in tb)
                ratio = f"{y / x:.3f}x of base {x:.6g}" if x else f"base is 0, change {y:.6g}"
                print(f"  {k:<36} {x:>14.6g} -> {y:<14.6g} {m['unit']:<6} {ratio}")


if __name__ == "__main__":
    main()
