#!/usr/bin/env python3
"""Compare two sets of benchmark results (standard library only).

    python3 perfbench/compare.py PARENT.jsonl CHANGE.jsonl [--bench BENCHMARK.json]

Each input line is one run: {"workload": <name>, "result": <the result JSON
that perfbench/run.py prints last>}. Runs pair up by their order within a
workload (run i of the parent against run i of the change), so record both
sides interleaved, one pair at a time.

For every workload and end-to-end metric this prints each side's median and
quartiles, the share of pairs each side wins, and a verdict:

  unresolved  either side's spread (quartile distance over median) is wider
              than the metric's bound, so the sets cannot tell a change of
              that size from noise;
  worse       the change's median is worse than the parent's by more than
              the bound;
  better      the change wins at least nine tenths of the pairs and its
              median beats the parent's by more than the parent's spread;
  same        otherwise.

Exit code 1 when any metric is worse, else 0.
"""
import argparse
import json
import os
import statistics
import sys


def load(path):
    runs = {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                rec = json.loads(line)
                runs.setdefault(rec["workload"], []).append(rec["result"])
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / abs(med) if med else float("inf")


def verdict(parent, change, better, bound):
    """Returns (verdict, parent wins, change wins) for one metric."""
    sign = 1.0 if better == "higher" else -1.0
    pairs = list(zip(parent, change))
    change_wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    parent_wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    p_med, c_med = statistics.median(parent), statistics.median(change)
    if spread(parent) > bound or spread(change) > bound:
        return "unresolved", parent_wins, change_wins
    if sign * (p_med - c_med) > bound * abs(p_med):
        return "worse", parent_wins, change_wins
    q1, _, q3 = quartiles(parent)
    if pairs and change_wins >= 0.9 * len(pairs) and sign * (c_med - p_med) > q3 - q1:
        return "better", parent_wins, change_wins
    return "same", parent_wins, change_wins


def compare(parent, change, bench):
    rows = []
    for wl in sorted(set(parent) & set(change)):
        for m in bench["end_to_end"]:
            name = m["name"]
            p = [r["metrics"][name]["value"] for r in parent[wl] if name in r["metrics"]]
            c = [r["metrics"][name]["value"] for r in change[wl] if name in r["metrics"]]
            if not p or not c:
                continue
            v, pw, cw = verdict(p, c, m["better"], m["bound"])
            rows.append((wl, name, quartiles(p), quartiles(c), pw, cw, min(len(p), len(c)), v))
    return rows


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--bench", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"))
    a = ap.parse_args(argv)
    with open(a.bench) as f:
        bench = json.load(f)
    rows = compare(load(a.parent), load(a.change), bench)
    print(f"{'workload':12s} {'metric':28s} {'parent q1/med/q3':>32s} "
          f"{'change q1/med/q3':>32s} {'wins p:c':>9s}  verdict")
    for wl, name, p, c, pw, cw, n, v in rows:
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
        print(f"{wl:12s} {name:28s} {fmt(p):>32s} {fmt(c):>32s} {pw:>3d}:{cw:<3d}/{n:<2d} {v}")
    return 1 if any(r[-1] == "worse" for r in rows) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
