#!/usr/bin/env python3
"""Summarize alternating perfbench pairs: a parent checkout against a change.

Usage: python3 tools/pairs.py <dir>

<dir> holds one subdirectory per workload; each holds the last-line JSON
results of `perfbench/run.py`, one file per run, named
`<side>-<seed>.json`, where <side> is the basename of the checkout that
ran it. The side called `parent` is the baseline; there must be exactly
one other side.

For each workload and each end-to-end metric in the repo's
BENCHMARK.json (read, never written) it prints a markdown table row: the
parent's median, quartiles (linear interpolation) and min-max, the
change's median and quartiles, the change/parent ratio of medians, the
change's wins over the pairs (seeds run by both sides) and whether the
metric is resolved. Next to the wins it gives the wins within each
block of ten consecutive seeds (3300-3309, 3310-3319, ...), so a gain or
loss that only one block of runs carries shows. A metric is resolved
when the parent's own min-max range, relative to its median, is inside
the metric's bound, or the change's min-max range lies wholly on the
better side of the parent's. Below each table it names
the metrics whose change median is worse than the parent's by more than
the bound, the metrics that meet the gain rule (at least ten pairs, wins
in >= 9 of 10 of them and a median gap above the parent's interquartile
range), and every run that is not correct, has failed events or printed
no result.
"""
import json
import os
import statistics
import sys

PARENT = "parent"
BENCHMARK = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def fmt(x):
    a = abs(x)
    if a >= 1000:
        return f"{x:,.0f}"
    if a >= 100:
        return f"{x:.1f}"
    return f"{x:.2f}"


def load_runs(folder):
    """{side: {seed: result or None}} for the *.json files in folder."""
    runs = {}
    for f in sorted(os.listdir(folder)):
        path = os.path.join(folder, f)
        if not f.endswith(".json") or not os.path.isfile(path):
            continue
        side, _, seed = f[:-len(".json")].rpartition("-")
        if not side or not seed.isdigit():
            continue
        lines = [l for l in open(path).read().splitlines() if l.startswith("{")]
        runs.setdefault(side, {})[int(seed)] = json.loads(lines[-1]) if lines else None
    return runs


def workloads(root):
    subs = sorted(d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d)))
    found = [(d, load_runs(os.path.join(root, d))) for d in subs]
    return [(d, r) for d, r in found if r]


def value(res, name):
    if res is None:
        return None
    return (res.get("metrics", {}).get(name) or {}).get("value")


def blocks(seeds, won):
    """' (3301-3305: 5/5, 3311-3315: 0/5)': wins per block of ten seeds."""
    groups = {}
    for s in seeds:
        groups.setdefault(s // 10, []).append(s)
    if len(groups) < 2:
        return ""
    return " (" + ", ".join(f"{g[0]}-{g[-1]}: {sum(s in won for s in g)}/{len(g)}"
                            for _, g in sorted(groups.items())) + ")"


def table(name, runs, metrics):
    others = [s for s in runs if s != PARENT]
    if PARENT not in runs or len(others) != 1:
        sys.exit(f"{name}: expected side '{PARENT}' and one other side, got {sorted(runs)}")
    change = others[0]
    p_runs, c_runs = runs[PARENT], runs[change]
    seeds = sorted(set(p_runs) & set(c_runs))
    print(f"### {name}: {change} vs {PARENT}, {len(seeds)} pairs "
          f"(seeds {', '.join(map(str, seeds))})\n")
    print("| metric | parent median | parent quartiles | parent min-max | change median "
          "| change quartiles | change/parent | change wins | resolved |")
    print("|---|---|---|---|---|---|---|---|---|")
    worse, gains = [], []
    for m in metrics:
        key, lower, bound = m["name"], m["better"] == "lower", m["bound"]
        pv = [v for v in (value(p_runs[s], key) for s in seeds) if v is not None]
        cv = [v for v in (value(c_runs[s], key) for s in seeds) if v is not None]
        if not pv or not cv:
            print(f"| {key} | — | — | — | — | — | — | — | no values |")
            continue
        pmed, cmed = statistics.median(pv), statistics.median(cv)
        (pq1, pq3), (cq1, cq3) = quartiles(pv), quartiles(cv)
        pairs = {s: (value(p_runs[s], key), value(c_runs[s], key)) for s in seeds}
        pairs = {s: (p, c) for s, (p, c) in pairs.items() if p is not None and c is not None}
        won = {s for s, (p, c) in pairs.items() if (c < p if lower else c > p)}
        wins = len(won)
        spread = (max(pv) - min(pv)) / pmed if pmed else float("inf")
        apart = max(cv) < min(pv) if lower else min(cv) > max(pv)
        resolved = "yes" if spread <= bound else \
            "yes (ranges apart)" if apart else \
            f"no (parent range {spread:.0%} > bound {bound:.0%})"
        ratio = cmed / pmed if pmed else float("nan")
        print(f"| {key} | {fmt(pmed)} | {fmt(pq1)}-{fmt(pq3)} | {fmt(min(pv))}-{fmt(max(pv))} "
              f"| {fmt(cmed)} | {fmt(cq1)}-{fmt(cq3)} | {ratio:.3f} | {wins}/{len(pairs)}{blocks(sorted(pairs), won)} "
              f"| {resolved} |")
        if (ratio - 1 if lower else 1 - ratio) > bound:
            worse.append(f"{key} ({ratio:.3f})")
        if len(pairs) >= 10 and wins * 10 >= 9 * len(pairs) \
                and abs(cmed - pmed) > pq3 - pq1 \
                and (cmed < pmed if lower else cmed > pmed):
            gains.append(key)
    print()
    print(f"Worse than the parent by more than the bound: {', '.join(worse) or 'none'}.")
    print(f"Gain rule met (>= 10 pairs, >= 9 of 10 wins, median gap > parent IQR): "
          f"{', '.join(gains) or 'none'}.")
    bad = []
    for side in (PARENT, change):
        for seed, res in sorted(runs[side].items()):
            if res is None:
                bad.append(f"{side}-{seed}: no result")
            elif not res.get("correct") or res.get("failed", 0) > 0:
                bad.append(f"{side}-{seed}: correct={res.get('correct')} "
                           f"failed={res.get('failed')}")
    print(f"Runs not correct or with failures: {'; '.join(bad) or 'none'}.")
    unpaired = sorted(set(p_runs) ^ set(c_runs))
    if unpaired:
        print(f"Seeds run by one side only: {', '.join(map(str, unpaired))}.")
    print()
    return not worse and not bad


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    root = sys.argv[1]
    with open(BENCHMARK) as fh:
        metrics = json.load(fh)["end_to_end"]
    found = workloads(root)
    if not found:
        sys.exit(f"no <workload>/<side>-<seed>.json results under {root}")
    ok = all([table(name, runs, metrics) for name, runs in found])
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
