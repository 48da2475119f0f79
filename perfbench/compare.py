#!/usr/bin/env python3
"""Compare two sets of benchmark run records (parent vs change).

    python3 perfbench/compare.py <parent records dir> <change records dir>

Records are the JSON files perfbench/run.py leaves in
<build>/records-<source hash>/, one directory per state of the sources.
For every workload and metric the tool prints each side's median and
quartiles, the share of pairs the change won, and a verdict:

  improved    the change won at least 9/10 of the pairs (ties count for
              neither side) and the medians differ, in the better direction,
              by more than the parent's quartile distance;
  no worse    the change's median is not worse than the parent's by more
              than the metric's bound;
  unresolved  the parent's own spread is wider than the bound, unless every
              change run beats every parent run; also any metric without a
              bound (per-layer metrics) that did not improve or regress;
  worse       the change's median is worse than the parent's by more than
              the bound, or a per-layer metric meets the improved rule in
              the wrong direction.

Runs pair up by seed when both sides ran the seed, otherwise in the order
they started. End-to-end metrics come from untraced runs, per-layer metrics
from traced runs.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out = []
    for p in files:
        with open(p) as f:
            r = json.load(f)
        if "workload" in r and "end_to_end" in r:
            out.append(r)
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def pairs(base, new):
    """(base value, new value) pairs: same seed first, then start order."""
    by_seed = {}
    for r in base:
        by_seed.setdefault(r["seed"], []).append(r)
    matched, rest_n = [], []
    for r in sorted(new, key=lambda r: r["started"]):
        if by_seed.get(r["seed"]):
            matched.append((by_seed[r["seed"]].pop(0), r))
        else:
            rest_n.append(r)
    rest_b = sorted((r for rs in by_seed.values() for r in rs), key=lambda r: r["started"])
    return matched + list(zip(rest_b, rest_n))


def verdict(base, new, better, bound, won):
    """base/new: value lists; better: 'lower' or 'higher'; bound: share or None."""
    sign = 1.0 if better == "lower" else -1.0
    mb, mn = statistics.median(base), statistics.median(new)
    q1, q3 = quartiles(base)
    spread = q3 - q1
    gain = sign * (mb - mn)
    if won >= 0.9 and gain > spread:
        return "improved"
    if bound is None:
        lost = 1.0 - won
        return "worse" if lost >= 0.9 and -gain > spread else "unresolved"
    all_better = all(sign * (b - n) > 0 for b in base for n in new)
    if mb != 0 and spread / abs(mb) > bound and not all_better:
        return "unresolved"
    if -gain > bound * abs(mb):
        return "worse"
    return "no worse"


def compare(base_records, new_records, bench):
    """Yields one row per (workload, metric) present on both sides."""
    specs = [(m, "end_to_end", 0) for m in bench["end_to_end"]] + \
            [(m, "per_layer", 1) for m in bench["per_layer"]]
    workloads = [w["name"] for w in bench["workloads"]]
    for wl in workloads:
        for m, section, trace in specs:
            b = [r for r in base_records if r["workload"] == wl and r["trace"] == trace
                 and m["name"] in r[section]]
            n = [r for r in new_records if r["workload"] == wl and r["trace"] == trace
                 and m["name"] in r[section]]
            if not b or not n:
                continue
            bv = [r[section][m["name"]] for r in b]
            nv = [r[section][m["name"]] for r in n]
            ps = pairs(b, n)
            sign = 1.0 if m["better"] == "lower" else -1.0
            wins = sum(1 for x, y in ps if sign * (x[section][m["name"]] - y[section][m["name"]]) > 0)
            won = wins / len(ps) if ps else 0.0
            yield {
                "workload": wl, "metric": m["name"], "unit": m["unit"],
                "base_median": statistics.median(bv), "base_q": quartiles(bv),
                "new_median": statistics.median(nv), "new_q": quartiles(nv),
                "runs": (len(bv), len(nv)), "pairs": len(ps), "won": won,
                "verdict": verdict(bv, nv, m["better"], m.get("bound"), won),
            }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--benchmark", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    a = ap.parse_args(argv)
    with open(a.benchmark) as f:
        bench = json.load(f)
    rows = list(compare(load(a.base), load(a.new), bench))
    if not rows:
        print("no workload/metric has records on both sides", file=sys.stderr)
        return 1
    w = max(len(r["workload"]) for r in rows)
    print(f"{'workload':<{w}} {'metric':<32} {'parent median [q1, q3]':<30} "
          f"{'change median [q1, q3]':<30} {'runs':<7} {'won':>5}  verdict")
    for r in rows:
        b = f"{r['base_median']:.4g} [{r['base_q'][0]:.4g}, {r['base_q'][1]:.4g}]"
        n = f"{r['new_median']:.4g} [{r['new_q'][0]:.4g}, {r['new_q'][1]:.4g}]"
        print(f"{r['workload']:<{w}} {r['metric'] + ' (' + r['unit'] + ')':<32} {b:<30} {n:<30} "
              f"{r['runs'][0]}/{r['runs'][1]:<5} {r['won']:>5.2f}  {r['verdict']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
