#!/usr/bin/env python3
"""Count the code-generation cache keys of one benchmark run.

    python3 scripts/codegen_keys.py [--workload corpus_dedup] [--seed 7] \
        [--seconds 6] [--log FILE]

Runs one perfbench workload JVM, built and launched exactly as
`perfbench/run.py` does (through `perfbench/build.py`'s `java_command`),
with `codegen_keys.log4j2.properties` as its log configuration. That file
puts Spark's `CodeGenerator` at DEBUG: it logs the generated source of
every cache miss, then "Code generated in N ms", from the compiling
thread. Spark caches a compiled class under (context class loader,
source); in local mode the driver threads and the executor's task
threads carry different loaders, so the key is taken here as (role,
source digest), with role = executor for task threads, else driver.

The run is split on perfbench's stderr phase lines (set-up, reference,
warm-up, timed). Printed per phase: compiles by driver and executor
thread, compile ms, distinct sources and distinct keys. For the timed
passes also the compiles per pass and how many of them re-compile a key
compiled earlier in the run (a cache eviction, not a new source). The
last line of standard output is the same summary as one JSON object.
`--log` keeps the raw stderr. Exits with the benchmark JVM's code.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import build  # noqa: E402

CONFIG = os.path.join(HERE, "codegen_keys.log4j2.properties")
EVENT = re.compile(r"^log4j\|(?P<thread>[^|]*)\|(?P<level>[A-Z]+)\|CodeGenerator\|(?P<msg>.*)$")
PHASE = re.compile(r"^perfbench: [\d.]+ s: (?P<what>.*)$")
GENERATED = re.compile(r"Code generated in (?P<ms>[\d.]+) ms")
# the phase each stderr phase line closes, and the one it opens
NEXT = {"set-up done": "reference", "reference done": "warm-up",
        "warm-up passes done": "timed"}
PHASES = ("set-up", "reference", "warm-up", "timed")


def role(thread):
    return "executor" if thread.startswith("Executor task launch worker") else "driver"


def parse(lines):
    """(compiles, timed pass count): one (phase, role, source digest, ms)
    per cache miss, in log order."""
    phase, passes, pending, compiles = "set-up", 0, {}, []
    for line in lines:
        m = PHASE.match(line)
        if m:
            what = m.group("what")
            if what in NEXT:
                phase = NEXT[what]
            elif what.endswith(" timed passes done"):
                phase, passes = "after", int(what.split()[0])
            continue
        m = EVENT.match(line)
        if not m:
            continue
        thread, msg = m.group("thread"), m.group("msg")
        g = GENERATED.search(msg)
        if m.group("level") == "DEBUG" and msg.startswith("\\n"):
            # the source, newlines escaped: one event, one line
            pending[thread] = hashlib.sha1(msg.encode()).hexdigest()
        elif g and thread in pending:
            compiles.append((phase, role(thread), pending.pop(thread), float(g.group("ms"))))
    return compiles, passes


def summarize(compiles, passes):
    out, seen = {}, set()
    for ph in PHASES:
        cs = [c for c in compiles if c[0] == ph]
        keys = {(c[1], c[2]) for c in cs}
        out[ph] = {
            "compiles": len(cs),
            "driver": sum(c[1] == "driver" for c in cs),
            "executor": sum(c[1] == "executor" for c in cs),
            "compile_ms": round(sum(c[3] for c in cs), 1),
            "distinct_sources": len({c[2] for c in cs}),
            "distinct_keys": len(keys),
            "recompiled_keys": sum((c[1], c[2]) in seen for c in cs),
        }
        seen |= keys
    t = out["timed"]
    out["timed_passes"] = passes
    if passes:
        out["per_timed_pass"] = {k: round(t[k] / passes, 1)
                                 for k in ("compiles", "compile_ms", "recompiled_keys")}
    return out


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", default="corpus_dedup")
    p.add_argument("--seed", type=int, default=7)
    p.add_argument("--seconds", type=float, default=6)
    p.add_argument("--log", help="write the JVM's stderr here")
    a = p.parse_args()

    def log(msg):
        print(msg, file=sys.stderr, flush=True)

    try:
        jars = build.build(log)
    except build.BuildError as e:
        log(f"codegen_keys: build failed: {e}")
        return 2
    work = build.fresh_dir(os.path.join(build.OUT, "runs", f"codegen_keys-{a.workload}"))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", "0", "--work", work]
    cmd = build.java_command(jars, work, "graft.perfbench.Main", args)
    cmd.insert(1, f"-Dlog4j2.configurationFile={CONFIG}")
    try:
        r = subprocess.run(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.PIPE, text=True, errors="replace")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.log:
        with open(a.log, "w", encoding="utf-8") as f:
            f.write(r.stderr)
    compiles, passes = parse(r.stderr.splitlines())
    s = summarize(compiles, passes)
    print(f"{a.workload} seed {a.seed}: {len(compiles)} compiles, {passes} timed passes")
    print(f"{'phase':10s} {'compiles':>8s} {'driver':>7s} {'executor':>8s} {'ms':>8s} "
          f"{'sources':>8s} {'keys':>5s} {'recompiled':>10s}")
    for ph in PHASES:
        x = s[ph]
        print(f"{ph:10s} {x['compiles']:8d} {x['driver']:7d} {x['executor']:8d} "
              f"{x['compile_ms']:8.0f} {x['distinct_sources']:8d} {x['distinct_keys']:5d} "
              f"{x['recompiled_keys']:10d}")
    if passes:
        t = s["per_timed_pass"]
        print(f"per timed pass: {t['compiles']} compiles ({t['compile_ms']:.0f} ms), "
              f"{t['recompiled_keys']} of them keys compiled earlier in the run")
    results = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if results:
        s["result"] = json.loads(results[-1])
    print(json.dumps(s))
    return r.returncode


if __name__ == "__main__":
    sys.exit(main())
