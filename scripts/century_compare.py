#!/usr/bin/env python3
"""Growth exponents across the 1x -> 10x -> 100x probe scales.

Usage: scripts/century_compare.py RUN_1x.json RUN_10x.json RUN_100x.json

Each file is either a graft.Audit record file (`Audit <dir> @century`,
exec1_ms/exec2_ms per record) or an older CENTURY_PROBE_*.json snapshot
(exec1/exec2 in seconds per query).

For each probed query, fits the log-log slope of exec time vs data
scale on both steps (1->10 and 10->100) and over the whole range
(least-squares on the three points). exponent ~1.0 = linear in data,
~0 = floor-dominated (planning/codegen), >1.15 on the 10->100 step
flags super-linear behavior worth a plan read. exec2 (steady re-run)
is the headline column; exec1 is shown because for cache-building
operators (q_dedup_cluster) the build IS the operator and exec2 only
re-reads the published cache.
"""
import json
import math
import sys


def load(path):
    """{query: {"exec1": s, "exec2": s}} from either file format."""
    with open(path) as f:
        d = json.load(f)
    if isinstance(d["queries"], dict):
        return d
    return {"queries": {q["query"]: {"exec1": q["exec1_ms"] / 1000,
                                     "exec2": q["exec2_ms"] / 1000}
                        for q in d["queries"]}}


def main():
    runs = [load(p) for p in sys.argv[1:4]]
    scales = [1.0, 10.0, 100.0]
    names = sorted(set.intersection(*(set(r["queries"]) for r in runs)))
    print("| query | exec2 1x/10x/100x (s) | step 1->10 | step 10->100 | "
          "fit | exec1 10->100 |")
    print("|---|---|---|---|---|---|")
    # Clamp every timing to 1ms before any log: the probe's %.3f
    # formatting can round a floor-bound query to 0.000, and log10(0)
    # would kill the script — whether it appears as a divisor OR a
    # numerator (step ratios and the fit alike).
    def lg_ratio(num, den):
        return math.log10(max(num, 1e-3) / max(den, 1e-3))

    for n in names:
        t = [r["queries"][n]["exec2"] for r in runs]
        t1 = [r["queries"][n]["exec1"] for r in runs]
        s10 = lg_ratio(t[1], t[0])
        s100 = lg_ratio(t[2], t[1])
        # least-squares slope of log t vs log scale over the 3 points
        xs = [math.log10(s) for s in scales]
        ys = [math.log10(max(v, 1e-3)) for v in t]
        mx, my = sum(xs) / 3, sum(ys) / 3
        fit = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / \
            sum((x - mx) ** 2 for x in xs)
        e100 = lg_ratio(t1[2], t1[1])
        print(f"| {n} | {t[0]:.2f}/{t[1]:.2f}/{t[2]:.2f} | {s10:.2f} | "
              f"{s100:.2f} | {fit:.2f} | {e100:.2f} |")
    print("\nexponent = log10(time ratio) per 10x data step; 1.0 = linear, "
          "<0.2 = floor-bound, >1.15 = investigate")


if __name__ == "__main__":
    main()
