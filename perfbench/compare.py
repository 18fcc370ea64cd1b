#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE NEW [--benchmark BENCHMARK.json]

BASE and NEW are each a directory of run records (the JSON files run.py
writes to .perfbench/results/) or a single file with a JSON list of them.
For every workload and end-to-end metric, the tool prints each side's
median and quartiles, the pair wins of NEW (runs paired by seed) and a
verdict:

  improved    NEW wins at least 9 of 10 pairs, ties counting for neither,
              and the medians differ by more than BASE's own spread (the
              distance between its quartiles);
  worse       NEW's median is worse than BASE's by more than the metric's
              bound in BENCHMARK.json;
  unresolved  either side's spread, as a share of its median, is wider than
              the bound, and not every NEW run reads better than every BASE
              run;
  unchanged   otherwise.

Per-layer metrics of traced runs are listed with medians and no verdict.
When one set holds both traced and untraced runs of a workload, the tracing
overhead (traced median minus untraced median) is printed for each
end-to-end metric.
"""
import argparse
import glob
import json
import os
import statistics
import sys


def load(path):
    if os.path.isdir(path):
        runs = []
        for f in sorted(glob.glob(os.path.join(path, "*.json"))):
            with open(f) as fh:
                runs.append(json.load(fh))
        return runs
    with open(path) as fh:
        return json.load(fh)


def quartiles(values):
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def values(runs, workload, trace, kind, metric):
    return {r["seed"]: r[kind][metric] for r in runs
            if r["workload"] == workload and r["trace"] == trace and metric in r.get(kind, {})}


def verdict(base, new, bound, lower_better):
    """Return (verdict, wins, pairs) for two seed -> value maps."""
    better = (lambda a, b: a < b) if lower_better else (lambda a, b: a > b)
    seeds = sorted(set(base) & set(new))
    if seeds:
        pairs = [(base[s], new[s]) for s in seeds]
    else:  # no common seeds: pair runs in order
        pairs = list(zip(sorted(base.values()), sorted(new.values())))
    wins = sum(1 for b, n in pairs if better(n, b))
    bq1, bmed, bq3 = quartiles(list(base.values()))
    nq1, nmed, nq3 = quartiles(list(new.values()))
    if pairs and wins >= 0.9 * len(pairs) and abs(nmed - bmed) > (bq3 - bq1) and better(nmed, bmed):
        return "improved", wins, len(pairs)
    worse_by = (nmed - bmed) if lower_better else (bmed - nmed)
    if worse_by > bound * abs(bmed):
        return "worse", wins, len(pairs)
    spread = max((bq3 - bq1) / abs(bmed) if bmed else 0.0, (nq3 - nq1) / abs(nmed) if nmed else 0.0)
    all_better = all(better(n, b) for n in new.values() for b in base.values())
    if spread > bound and not all_better:
        return "unresolved", wins, len(pairs)
    return "unchanged", wins, len(pairs)


def fmt(v):
    return f"{v:.4g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--benchmark", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"))
    args = ap.parse_args()
    with open(args.benchmark) as fh:
        bench = json.load(fh)
    base, new = load(args.base), load(args.new)
    for w in [w["name"] for w in bench["workloads"]]:
        print(f"== {w}")
        print(f"  {'metric':26} {'base q1/med/q3':>26} {'new q1/med/q3':>26}  wins  verdict")
        for m in bench["end_to_end"]:
            b = values(base, w, 0, "end_to_end", m["name"])
            n = values(new, w, 0, "end_to_end", m["name"])
            if not b or not n:
                continue
            v, wins, pairs = verdict(b, n, m["bound"], m["better"] == "lower")
            bq, nq = quartiles(list(b.values())), quartiles(list(n.values()))
            print(f"  {m['name']:26} {'/'.join(map(fmt, bq)):>26} {'/'.join(map(fmt, nq)):>26}"
                  f"  {wins}/{pairs}  {v}  (n={len(b)}/{len(n)})")
        for label, runs in (("base", base), ("new", new)):
            over = []
            for m in bench["end_to_end"]:
                t0 = values(runs, w, 0, "end_to_end", m["name"])
                t1 = values(runs, w, 1, "end_to_end", m["name"])
                if t0 and t1:
                    d = statistics.median(t1.values()) - statistics.median(t0.values())
                    over.append(f"{m['name']} {d:+.4g}")
            if over:
                print(f"  tracing overhead ({label}): " + ", ".join(over))
        layers = [m["name"] for m in bench["per_layer"]]
        rows = []
        for m in layers:
            b = values(base, w, 1, "per_layer", m)
            n = values(new, w, 1, "per_layer", m)
            if b or n:
                bm = fmt(statistics.median(b.values())) if b else "-"
                nm = fmt(statistics.median(n.values())) if n else "-"
                rows.append(f"    {m:34} {bm:>12} {nm:>12}")
        if rows:
            print(f"  per-layer medians (traced runs){'':6} {'base':>12} {'new':>12}")
            print("\n".join(rows))
    return 0


if __name__ == "__main__":
    sys.exit(main())
