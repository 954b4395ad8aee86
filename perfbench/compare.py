#!/usr/bin/env python3
"""Compare two sets of benchmark runs, or report the spread of one.

    python3 perfbench/compare.py PARENT_DIR [CHANGE_DIR]

Each directory holds one file per run, named `<workload>-<seed>.json`
(or `.out`), whose last line is run.py's JSON result; perfbench/repeat.py
writes them. Runs of the two sets are paired by workload and seed.

With one directory it prints, per workload and metric, the median, the
quartiles and the spread (quartile distance / median) against the
metric's bound from BENCHMARK.json.

With two it adds, per workload and metric, the change's median and
quartiles, the share of pairs the change wins, the failed-operation
share of each side, and a verdict by this rule:

  improved     the change wins at least 9/10 of the pairs (ties count
               for neither), the medians differ by more than the
               parent's own quartile distance, and no more operations
               fail than at the parent;
  worse        the change's median is worse than the parent's by more
               than the metric's bound (per-layer metrics have none:
               by the improved rule, mirrored);
  unresolved   the parent's spread is wider than the bound, unless
               every change run beats every parent run;
  within bound otherwise.
"""
import json
import os
import re
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_spec():
    path = os.path.join(HERE, "..", "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    bound = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    return better, bound


def load_runs(d):
    """{workload: {seed: result}} from the run files in `d`."""
    runs = {}
    for name in sorted(os.listdir(d)):
        m = re.match(r"^(\w+?)-(\d+)\.(json|out)$", name)
        if not m:
            continue
        with open(os.path.join(d, name)) as f:
            lines = [x for x in f.read().splitlines() if x.strip()]
        try:
            res = json.loads(lines[-1])
        except (IndexError, ValueError):
            print("skipping %s: no result line" % name, file=sys.stderr)
            continue
        runs.setdefault(m.group(1), {})[int(m.group(2))] = res
    return runs


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def values(runs, metric):
    return {s: r["metrics"][metric]["value"] for s, r in runs.items()
            if metric in r.get("metrics", {})}


def failed_share(runs):
    att = sum(r["attempted"] for r in runs.values())
    return sum(r["failed"] for r in runs.values()) / att if att else 0.0


def verdict(pv, cv, pairs, better, bound, more_failures):
    q1, pm, q3 = quartiles(sorted(pv))
    cm = statistics.median(cv)
    iqr = q3 - q1
    sign = 1 if better == "higher" else -1
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    losses = sum(1 for p, c in pairs if sign * (c - p) < 0)
    n = len(pairs)
    all_better = min(sign * c for c in cv) > max(sign * p for p in pv)
    if bound is not None and pm and iqr / abs(pm) > bound and not all_better:
        return "unresolved", wins, n
    if n and wins >= 0.9 * n and abs(cm - pm) > iqr and not more_failures:
        return "improved", wins, n
    if bound is None:
        if n and losses >= 0.9 * n and abs(cm - pm) > iqr:
            return "worse", wins, n
    elif pm and sign * (cm - pm) < -bound * abs(pm):
        return "worse", wins, n
    return "within bound", wins, n


def main():
    if len(sys.argv) not in (2, 3):
        raise SystemExit(__doc__)
    better, bound = load_spec()
    parent = load_runs(sys.argv[1])
    change = load_runs(sys.argv[2]) if len(sys.argv) == 3 else None
    for w in sorted(parent):
        pr = parent[w]
        print("== %s: %d parent runs, failed share %.3g" % (w, len(pr), failed_share(pr)), end="")
        if change is not None:
            cr = change.get(w, {})
            more_failures = failed_share(cr) > failed_share(pr)
            print("; %d change runs, failed share %.3g" % (len(cr), failed_share(cr)), end="")
        print()
        metrics = sorted({m for r in pr.values() for m in r["metrics"]},
                         key=lambda m: (m not in bound, m))
        for m in metrics:
            pv_map = values(pr, m)
            pv = sorted(pv_map.values())
            q1, pm, q3 = quartiles(pv)
            spread = (q3 - q1) / abs(pm) if pm else 0.0
            b = bound.get(m)
            line = "  %-36s parent %12.4f [%12.4f, %12.4f] spread %.3f" % (m, pm, q1, q3, spread)
            if b is not None:
                line += " bound %.2f%s" % (b, "" if spread < b / 3 else " (spread >= bound/3)")
            if change is not None:
                cv_map = values(change.get(w, {}), m)
                if cv_map:
                    cq1, cm, cq3 = quartiles(sorted(cv_map.values()))
                    pairs = [(pv_map[s], cv_map[s]) for s in pv_map if s in cv_map]
                    v, wins, n = verdict(pv, list(cv_map.values()), pairs,
                                         better.get(m, "lower"), b, more_failures)
                    line += " | change %12.4f [%12.4f, %12.4f] wins %d/%d: %s" % (
                        cm, cq1, cq3, wins, n, v)
            print(line)


if __name__ == "__main__":
    main()
