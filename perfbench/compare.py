#!/usr/bin/env python3
"""Compare two sets of benchmark results, A (the parent) and B (the change).

    python3 perfbench/compare.py A B

A and B are result files, or directories searched recursively for them,
as run.py writes under perfbench/out/results. Run the two sides in
alternation (ABAB...) with the same seeds and run length. For each
workload and metric it prints each side's median and quartiles, the
share of pairs B won (the i-th A run against the i-th B run, ties
counting for neither) and a verdict:

  gain        B wins at least 9/10 of the pairs and the medians differ by
              more than A's own spread (the distance between its quartiles)
  regression  B's median is worse than A's by more than the metric's bound
              (per-layer metrics have no bound: the gain rule, reversed)
  unresolved  A's spread is wider than the bound and B's runs do not all
              read better than A's
  same        none of the above
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_spec():
    """metric name -> (better, bound or None), from BENCHMARK.json."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    out = {m["name"]: (m["better"], m.get("bound")) for m in spec["end_to_end"]}
    out.update({m["name"]: (m["better"], None) for m in spec["per_layer"]})
    return out


def load_runs(path):
    """Result records under path, in the order they were written."""
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".json"))
    runs = []
    for p in files:
        with open(p) as f:
            r = json.load(f)
        if "result" in r:
            runs.append((os.path.getmtime(p), r))
    return [r for _, r in sorted(runs, key=lambda t: t[0])]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(a, b, better, bound):
    """The section-8 rule of the choosing-metrics guide, for one metric."""
    sign = 1 if better == "higher" else -1
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
    losses = sum(1 for x, y in pairs if sign * (y - x) < 0)
    qa1, ma, qa3 = quartiles(a)
    _, mb, _ = quartiles(b)
    spread = qa3 - qa1
    share = wins / len(pairs) if pairs else 0.0
    worse = sign * (ma - mb)  # > 0 when B is worse
    if pairs and wins >= 0.9 * len(pairs) and abs(mb - ma) > spread and sign * (mb - ma) > 0:
        v = "gain"
    elif bound is not None and ma and spread / abs(ma) > bound and not (
            a and b and min(sign * y for y in b) > max(sign * x for x in a)):
        v = "unresolved"
    elif bound is not None and ma and worse / abs(ma) > bound:
        v = "regression"
    elif bound is None and pairs and losses >= 0.9 * len(pairs) and abs(mb - ma) > spread:
        v = "regression"
    else:
        v = "same"
    return share, v


def main():
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    spec = load_spec()
    sides = [load_runs(p) for p in sys.argv[1:]]
    if not all(sides):
        print("compare: no result files on one side", file=sys.stderr)
        sys.exit(2)
    keys = sorted({(r["workload"], r["trace"]) for side in sides for r in side})
    print(f"{'workload':13} {'metric':42} {'A q1/median/q3':>32} {'B q1/median/q3':>32} {'B won':>6}  verdict")
    for wl, tr in keys:
        a_runs, b_runs = ([r for r in side if (r["workload"], r["trace"]) == (wl, tr)] for side in sides)
        names = [m for m in a_runs[0]["result"]["metrics"]] if a_runs else []
        for m in names:
            a = [r["result"]["metrics"][m]["value"] for r in a_runs if m in r["result"]["metrics"]]
            b = [r["result"]["metrics"][m]["value"] for r in b_runs if m in r["result"]["metrics"]]
            if not a or not b:
                continue
            better, bound = spec.get(m, ("lower", None))
            share, v = verdict(a, b, better, bound)
            fa = "/".join(f"{x:.4g}" for x in quartiles(a))
            fb = "/".join(f"{x:.4g}" for x in quartiles(b))
            print(f"{wl:13} {m:42} {fa:>32} {fb:>32} {share:6.0%}  {v} (n={len(a)}+{len(b)})")


if __name__ == "__main__":
    main()
