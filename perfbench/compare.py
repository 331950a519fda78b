#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py <base.jsonl> <change.jsonl>

Each file holds run records as run.py appends them to
.bench_build/results.jsonl (one JSON object per run: workload, seed, trace,
result). For every workload and end-to-end metric of the untraced runs it
prints each side's median and quartiles, the pairs the change won (runs
paired by seed where both sides have it, else in order) and a verdict
against the bound in BENCHMARK.json (read from the current directory):

  gain        the change won at least 9 of 10 pairs and the medians differ
              by more than the base's own quartile spread
  regression  the change's median is worse by more than the bound
  unresolved  the base's quartile spread exceeds the bound and not every
              change run beats every base run
  same        none of the above

For the traced runs it prints each per-layer metric's medians side by side.
"""
import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import report  # noqa: E402
import stats  # noqa: E402


def load(path):
    runs = defaultdict(list)
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                runs[(r["workload"], r["trace"])].append(r)
    return runs


def values(rs, metric):
    return {r["seed"]: r["result"]["metrics"][metric]["value"]
            for r in rs if metric in r["result"]["metrics"]}


def classify(base, change, paired, better, bound):
    """Verdict for `change` against `base` (lists of values), as described
    in the module docstring; `paired` lists (base, change) value pairs and
    `better` is "lower" or "higher"."""
    sign = 1.0 if better == "lower" else -1.0
    q1, med_a, q3 = stats.quartiles(base)
    med_b = stats.median(change)
    if bound is not None and med_a:
        spread = (q3 - q1) / abs(med_a)
        all_better = all(sign * (b - a) < 0 for a in base for b in change)
        if spread > bound and not all_better:
            return "unresolved"
        if sign * (med_b - med_a) / abs(med_a) > bound:
            return "regression"
    won = sum(1 for a, b in paired if sign * (b - a) < 0)
    if paired and won >= 0.9 * len(paired) and sign * (med_b - med_a) < -(q3 - q1):
        return "gain"
    return "same"


def pairs(a, b):
    common = sorted(set(a) & set(b))
    if common:
        return [(a[s], b[s]) for s in common]
    return list(zip(a.values(), b.values()))


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, change = load(sys.argv[1]), load(sys.argv[2])
    bounds = {}
    if os.path.exists("BENCHMARK.json"):
        spec = json.load(open("BENCHMARK.json"))
        bounds = {m["name"]: (m["better"], m["bound"]) for m in spec["end_to_end"]}
    workloads = sorted({w for w, _ in base} | {w for w, _ in change})
    for w in workloads:
        a_runs, b_runs = base.get((w, 0), []), change.get((w, 0), [])
        print(f"== {w}: {len(a_runs)} base runs, {len(b_runs)} change runs")
        print(f"  {'metric':24s} {'base q1/med/q3':>30s} {'change q1/med/q3':>30s} "
              f"{'won':>7s}  verdict")
        for name, _unit in report.END_TO_END:
            a, b = values(a_runs, name), values(b_runs, name)
            if not a or not b:
                continue
            better, bound = bounds.get(name, ("lower", None))
            sign = 1.0 if better == "lower" else -1.0
            ps = pairs(a, b)
            won = sum(1 for x, y in ps if sign * (y - x) < 0)
            qa, qb = stats.quartiles(list(a.values())), stats.quartiles(list(b.values()))
            v = classify(list(a.values()), list(b.values()), ps, better, bound)
            fa = "/".join(f"{x:.4g}" for x in qa)
            fb = "/".join(f"{x:.4g}" for x in qb)
            print(f"  {name:24s} {fa:>30s} {fb:>30s} {won:>3d}/{len(ps):<3d}  {v}")
        a_tr, b_tr = base.get((w, 1), []), change.get((w, 1), [])
        if a_tr and b_tr:
            print(f"  per-layer medians ({len(a_tr)} / {len(b_tr)} traced runs)")
            for name, unit in report.PER_LAYER + report.READ_LAYER:
                a, b = values(a_tr, name), values(b_tr, name)
                if not a or not b:
                    continue
                ma, mb = stats.median(list(a.values())), stats.median(list(b.values()))
                if ma == 0 and mb == 0:
                    continue
                rel = f"{(mb - ma) / ma:+.1%}" if ma else "new"
                print(f"    {name:40s} {ma:12.4g} {mb:12.4g} {unit:6s} {rel}")


if __name__ == "__main__":
    main()
