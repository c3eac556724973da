#!/usr/bin/env python3
"""Compares two result sets of the benchmark: a parent and a change.

    python3 perfbench/compare.py PARENT CHANGE [--bench BENCHMARK.json]

PARENT and CHANGE are files of result lines (or directories of such files)
as run.py appends them to `.bench_build/perfbench/results.jsonl`: one JSON
object per run with `workload`, `seed`, `trace` and `metrics`. Only untraced
runs count. For every workload and end-to-end metric it prints each side's
median and quartiles, the share of pairs the change won (pairs are matched
by seed, else by order; ties count for neither side) and a verdict:

  improved             the change won at least 9 of 10 pairs, the medians
                       differ by more than the parent's quartile spread and
                       the change's runs failed no more operations than the
                       parent's;
  no worse within bound  the change median is not worse than the parent's by
                       more than the metric's bound, and the parent's own
                       spread is within the bound (or every change run beat
                       every parent run);
  unresolved           fewer than 10 pairs, or the parent's spread is wider
                       than the bound, so "unchanged" cannot be told from
                       noise;
  regressed            the change median is worse by more than the bound.
"""
import argparse
import json
import os
import statistics
import sys


def load(path):
    files = [os.path.join(path, f) for f in sorted(os.listdir(path))] \
        if os.path.isdir(path) else [path]
    runs = []
    for fp in files:
        with open(fp) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    r = json.loads(line)
                    if r.get("trace", 0) == 0 and "workload" in r:
                        runs.append(r)
    return runs


def quartiles(v):
    if len(v) == 1:
        return v[0], v[0], v[0]
    q1, med, q3 = statistics.quantiles(v, n=4)
    return q1, med, q3


MIN_PAIRS = 10


def verdict(parent, change, bound, better, failed=(0, 0)):
    """Returns (verdict, share of pairs the change won, quartiles of both).
    `parent` and `change` are (seed, value) lists; `failed` is the number of
    failed operations over the parent's and over the change's runs."""
    sign = 1 if better == "higher" else -1
    by_seed_p = {r[0]: r[1] for r in parent}
    by_seed_c = {r[0]: r[1] for r in change}
    seeds = [s for s in by_seed_p if s in by_seed_c]
    if seeds and len(seeds) == min(len(parent), len(change)):
        pairs = [(by_seed_p[s], by_seed_c[s]) for s in seeds]
    else:
        pairs = list(zip([p[1] for p in parent], [c[1] for c in change]))
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    won = wins / len(pairs) if pairs else 0.0
    pv, cv = [p[1] for p in parent], [c[1] for c in change]
    pq, cq = quartiles(pv), quartiles(cv)
    spread = pq[2] - pq[0]
    gain = sign * (cq[1] - pq[1])  # > 0: the change is better
    base = abs(pq[1]) or 1.0
    if len(pairs) < MIN_PAIRS:
        v = "unresolved"
    elif won >= 0.9 and gain > spread and failed[1] <= failed[0]:
        v = "improved"
    elif -gain / base > bound:
        v = "regressed"
    elif spread / base <= bound or all(sign * (c - p) > 0 for c in cv for p in pv):
        v = "no worse within bound"
    else:
        v = "unresolved"
    return v, won, pq, cq


def compare(parent_runs, change_runs, bench):
    rows = []
    for w in sorted({r["workload"] for r in parent_runs} & {r["workload"] for r in change_runs}):
        for m in bench["end_to_end"]:
            name = m["name"]
            p = [(r["seed"], r["metrics"][name]["value"]) for r in parent_runs
                 if r["workload"] == w and name in r["metrics"]]
            c = [(r["seed"], r["metrics"][name]["value"]) for r in change_runs
                 if r["workload"] == w and name in r["metrics"]]
            if p and c:
                failed = tuple(sum(r.get("failed", 0) for r in runs if r["workload"] == w)
                               for runs in (parent_runs, change_runs))
                v, won, pq, cq = verdict(p, c, m["bound"], m["better"], failed)
                rows.append((w, name, m["unit"], len(p), pq, len(c), cq, won, v))
    return rows


def main(argv=None):
    ap = argparse.ArgumentParser(description="Compare two benchmark result sets.")
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--bench", default=os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCHMARK.json"))
    a = ap.parse_args(argv)
    with open(a.bench) as f:
        bench = json.load(f)
    rows = compare(load(a.parent), load(a.change), bench)
    if not rows:
        sys.exit("no workload with untraced runs on both sides")
    print(f"{'workload':<11}{'metric':<17}{'unit':<7}{'parent median [q1, q3] (n)':<36}"
          f"{'change median [q1, q3] (n)':<36}{'won':>6}  verdict")
    for w, name, unit, np_, pq, nc, cq, won, v in rows:
        ps = f"{pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}] ({np_})"
        cs = f"{cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}] ({nc})"
        print(f"{w:<11}{name:<17}{unit:<7}{ps:<36}{cs:<36}{won:>6.2f}  {v}")


if __name__ == "__main__":
    main()
