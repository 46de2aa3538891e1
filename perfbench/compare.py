#!/usr/bin/env python3
"""Compare two benchmark result sets, or summarize one.

    python3 perfbench/compare.py BASE_DIR [CHANGE_DIR]

A result set is a directory of the records ``run.py`` writes to
``perfbench/.results/`` (copy it aside between commits). With one set,
print each (workload, end-to-end metric) median, quartiles and spread,
and each workload's tracing overhead. With two, add per row the pair
wins and a verdict, following the benchmark's rules:

- ``better``: the change wins at least 9 of 10 pairs (ties count for
  neither) and the medians differ by more than the base's quartile
  spread;
- ``worse-than-bound``: the change's median is worse than the base's by
  more than the metric's bound in ``BENCHMARK.json``;
- ``unresolved``: the base's own quartile spread is wider than the
  bound, unless every change run beats every base run;
- ``within-bound`` otherwise.

Runs pair by seed (in seed order when the sets share none). Traced
runs give a per-layer diff of the medians of each layer's own measures
(``build_s``, ``run_s`` — its self time — ``jobs``, ...).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path: str) -> list[dict]:
    runs = []
    for f in sorted(glob.glob(os.path.join(path, "*.json"))):
        with open(f) as fh:
            runs.append(json.load(fh))
    if not runs:
        raise SystemExit(f"no result records in {path}")
    return runs


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def series(runs, workload: str, trace: int, metric: str) -> dict[int, float]:
    """seed -> value (the last run of a seed wins)."""
    return {r["seed"]: r["metrics"][metric]["value"] for r in runs
            if r["workload"] == workload and r["trace"] == trace
            and metric in r.get("metrics", {})}


def verdict(base: dict, change: dict, better: str, bound: float) -> tuple[str, str]:
    b, c = list(base.values()), list(change.values())
    bq1, bmed, bq3 = quartiles(b)
    cmed = statistics.median(c)
    sign = 1 if better == "higher" else -1
    pairs = [(base[s], change[s]) for s in base if s in change]
    if not pairs:  # different seeds: pair in seed order
        pairs = list(zip((base[s] for s in sorted(base)),
                         (change[s] for s in sorted(change))))
    wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
    losses = sum(1 for x, y in pairs if sign * (y - x) < 0)
    worse_by = sign * (bmed - cmed) / abs(bmed) if bmed else 0.0
    if worse_by > bound:
        v = "worse-than-bound"
    elif (pairs and wins >= 0.9 * len(pairs)
          and abs(cmed - bmed) > (bq3 - bq1)):
        v = "better"
    elif bmed and (bq3 - bq1) / abs(bmed) > bound and not (
            min(sign * x for x in c) > max(sign * x for x in b)):
        v = "unresolved"
    else:
        v = "within-bound"
    return v, f"{wins}/{len(pairs)} won, {losses} lost"


def main(argv) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    sets = [load(p) for p in argv]
    workloads = [w["name"] for w in bench["workloads"]]

    print("workload metric unit | base median [q1, q3] spread"
          + (" | change median [q1, q3] | pairs | verdict" if len(sets) == 2 else ""))
    for w in workloads:
        for m in bench["end_to_end"]:
            base = series(sets[0], w, 0, m["name"])
            if not base:
                continue
            q1, med, q3 = quartiles(list(base.values()))
            row = (f"{w} {m['name']} {m['unit']} | {med:.6g} [{q1:.6g}, {q3:.6g}] "
                   f"{(q3 - q1) / abs(med) if med else float('nan'):.3f} (n={len(base)})")
            if len(sets) == 2:
                change = series(sets[1], w, 0, m["name"])
                if change:
                    c1, cmed, c3 = quartiles(list(change.values()))
                    v, pairs = verdict(base, change, m["better"], m["bound"])
                    row += f" | {cmed:.6g} [{c1:.6g}, {c3:.6g}] | {pairs} | {v}"
            print(row)

    for i, runs in enumerate(sets):
        for w in workloads:
            traced = [r["traced_rows_per_s"] for r in runs
                      if r["workload"] == w and r["trace"] == 1 and "traced_rows_per_s" in r]
            plain = list(series(runs, w, 0, "rows_per_s").values())
            if traced and plain:
                t, p = statistics.median(traced), statistics.median(plain)
                print(f"set {i} {w} tracing overhead: traced rows_per_s {t:.6g} "
                      f"vs untraced {p:.6g} ({(p - t) / p:+.1%} slower traced)")

    if len(sets) == 2:
        print("per-layer metric | base median | change median | change")
        for m in bench["per_layer"]:
            vals = [[r["metrics"][m["name"]]["value"] for r in runs
                     if r["trace"] == 1 and m["name"] in r.get("metrics", {})]
                    for runs in sets]
            if all(vals):
                b, c = statistics.median(vals[0]), statistics.median(vals[1])
                rel = f"{(c - b) / b:+.1%}" if b else "n/a"
                print(f"{m['name']} | {b:.6g} | {c:.6g} | {rel}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
