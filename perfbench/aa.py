#!/usr/bin/env python3
"""A/A comparison of two sets of benchmark runs.

Usage: python3 perfbench/aa.py <set_a_dir> <set_b_dir> [--benchmark BENCHMARK.json]

Each set is a directory holding the `record.json` files that
perfbench/run.py writes (one per run, under `perfbench/.work/runs/`).
For every workload and every end-to-end metric it prints both sets'
median and quartiles, each set's spread (quartile distance over the
median) and the verdict:

  agree       the medians differ by at most the metric's bound
  differ      they differ by more than the bound
  unresolved  a set's spread is wider than the bound, so a difference
              of that size could not be told from noise

`steady` marks a spread below a third of the bound. The exit status is
0 when every row agrees, else 1.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    """{(workload, metric): [values]} of the untraced runs under d."""
    out = {}
    files = sorted(glob.glob(os.path.join(d, "**", "record.json"), recursive=True))
    if not files:
        raise SystemExit(f"aa: no record.json under {d}")
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if r["context"]["trace"]:
            continue
        for k, m in r["metrics"].items():
            out.setdefault((r["context"]["workload"], k), []).append(m["value"])
    return out


def summary(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def compare(a, b, bounds):
    rows = []
    for key in sorted(set(a) & set(b)):
        workload, metric = key
        if metric not in bounds:
            continue
        bound = bounds[metric]
        qa, qb = summary(a[key]), summary(b[key])
        spread_a = (qa[2] - qa[0]) / qa[1]
        spread_b = (qb[2] - qb[0]) / qb[1]
        diff = (qb[1] - qa[1]) / qa[1]
        if max(spread_a, spread_b) > bound:
            verdict = "unresolved"
        else:
            verdict = "agree" if abs(diff) <= bound else "differ"
        steady = max(spread_a, spread_b) < bound / 3
        rows.append((workload, metric, len(a[key]), len(b[key]), qa, qb,
                     spread_a, spread_b, diff, bound, verdict, steady))
    return rows


def main(argv):
    ap = argparse.ArgumentParser(description="A/A comparison of two sets of benchmark runs")
    ap.add_argument("set_a")
    ap.add_argument("set_b")
    ap.add_argument("--benchmark", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    args = ap.parse_args(argv)
    with open(args.benchmark) as fh:
        bounds = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}
    rows = compare(load(args.set_a), load(args.set_b), bounds)
    if not rows:
        raise SystemExit("aa: the two sets share no workload and metric")
    print(f"{'workload':16} {'metric':12} {'nA':>3} {'nB':>3} {'A q1/med/q3':>28} {'B q1/med/q3':>28} "
          f"{'sprA':>6} {'sprB':>6} {'diff':>7} {'bound':>5}  verdict")
    for (w, m, na, nb, qa, qb, sa, sb, d, bound, verdict, steady) in rows:
        fa = "/".join(f"{x:.4g}" for x in qa)
        fb = "/".join(f"{x:.4g}" for x in qb)
        print(f"{w:16} {m:12} {na:3d} {nb:3d} {fa:>28} {fb:>28} {sa:6.3f} {sb:6.3f} {d:+7.3f} {bound:5.2f}  "
              f"{verdict}{' steady' if steady else ''}")
    return 0 if all(r[10] == "agree" for r in rows) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
