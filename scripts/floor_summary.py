#!/usr/bin/env python3
"""Aggregate two audit record files (graft.Audit's AUDIT.json, or the
older FLOOR_AUDIT_*.json snapshots) into the per-query fixed-floor
decomposition table for SCALE.md: suite-level component sums at each
scale factor, the cross-scale deltas that separate fixed from marginal
cost, and the outlier queries on each component.

Usage: scripts/floor_summary.py SMALL.json BIG.json

In an Audit record exec2_ms is a fresh steady execution and jobs/tasks
count that steady pass. In a FLOOR_AUDIT snapshot exec2_ms re-read the
cold pass's final stage only (no shuffle map stage re-ran), and
jobs/tasks summed both passes."""
import json
import sys


def load(path):
    with open(path) as f:
        d = json.load(f)
    return {q["query"]: q for q in d["queries"]}


def passes(data):
    """What exec2_ms and jobs/tasks mean in this file."""
    if all("checksum" in q for q in data.values()):
        return "steady pass"
    return "both passes; exec2 = final-stage re-read"


def comp(q):
    return {
        "build": q["build_ms"],
        "catalyst": q["plan_ms"],
        # exec1 - exec2: codegen/JIT and other first-execution costs (in a
        # FLOOR_AUDIT snapshot also every shuffle map stage of the query)
        "cold_extra": max(0.0, q["exec1_ms"] - q["exec2_ms"]),
        "steady_exec": q["exec2_ms"],
        "cold_total": q["build_ms"] + q["plan_ms"] + q["exec1_ms"],
        "jobs": q["jobs"],
        "tasks": q["tasks"],
        "task_ms": q["task_ms"],
    }


def main():
    small = load(sys.argv[1] if len(sys.argv) > 1 else "FLOOR_AUDIT_r15_sf0.001.json")
    big = load(sys.argv[2] if len(sys.argv) > 2 else "FLOOR_AUDIT_r15_sf0.1.json")
    shared = sorted(set(small) & set(big))
    print(f"queries in both: {len(shared)}  (small only: {len(set(small)-set(big))}, big only: {len(set(big)-set(small))})")

    for label, data in (("small", small), ("big", big)):
        cs = [comp(data[n]) for n in shared]
        tot = {k: sum(c[k] for c in cs) for k in cs[0]}
        print(f"\n== {label} suite sums over {len(cs)} queries ({passes(data)}) ==")
        for k in ("build", "catalyst", "cold_extra", "steady_exec", "cold_total"):
            print(f"  {k:12s} {tot[k]/1000:8.1f} s   (median {sorted(c[k] for c in cs)[len(cs)//2]:7.1f} ms)")
        print(f"  jobs {tot['jobs']} tasks {tot['tasks']} task_time {tot['task_ms']/1000:.1f} s"
              f"  ({passes(data)})")

    print("\n== cross-scale growth (small -> big) ==")
    for k in ("build", "catalyst", "cold_extra", "steady_exec"):
        a = sum(comp(small[n])[k] for n in shared)
        b = sum(comp(big[n])[k] for n in shared)
        print(f"  {k:12s} {a/1000:7.1f} s -> {b/1000:7.1f} s  ({b/a:4.2f}x)")

    print("\n== top 10 by steady-exec growth (the data-bound queries) ==")
    grow = sorted(shared, key=lambda n: -(comp(big[n])["steady_exec"] - comp(small[n])["steady_exec"]))
    for n in grow[:10]:
        a, b = comp(small[n])["steady_exec"], comp(big[n])["steady_exec"]
        print(f"  {n:24s} {a:8.1f} -> {b:8.1f} ms")

    print("\n== top 10 fixed floor at big (build+catalyst+cold_extra) ==")
    fixed = sorted(shared, key=lambda n: -(comp(big[n])["build"] + comp(big[n])["catalyst"] + comp(big[n])["cold_extra"]))
    for n in fixed[:10]:
        c = comp(big[n])
        print(f"  {n:24s} build {c['build']:7.1f}  catalyst {c['catalyst']:6.1f}  cold_extra {c['cold_extra']:7.1f} ms")

    print(f"\n== top 10 by job count at big ({passes(big)}) ==")
    for n in sorted(shared, key=lambda n: -big[n]["jobs"])[:10]:
        print(f"  {n:24s} jobs {big[n]['jobs']:3d}  tasks {big[n]['tasks']:5d}")


if __name__ == "__main__":
    main()
