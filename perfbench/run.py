#!/usr/bin/env python3
"""Run one workload of the repository benchmark.

    python3 perfbench/run.py --workload <joint_call|store_churn|corpus_dedup> \
        --seed <n> --seconds <s> --trace <0|1> [--corrupt-reference]

Builds the program and the benchmark from source when they changed
(build.py), then runs the workload in one Spark local-mode JVM (one slot
per core) and relays its output. The last line of standard output is the
result object {"correct", "attempted", "failed", "metrics"}; the line
before it holds sample counts, input sizes, the error rate and the
format decisions. A traced run also writes every span to
.bench_build/perfbench/traces/<workload>-seed<n>.json.

Exits 1 when an output does not match its reference, 2 when the program
cannot be built, 3 when the run overruns its time limit.
"""

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("joint_call", "store_churn", "corpus_dedup")
RUN_LIMIT_S = 170


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    p.add_argument("--corrupt-reference", action="store_true",
                   help="plant a wrong reference digest; the run must fail")
    a = p.parse_args()
    # a terminated run still stops its compiler or JVM (see the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))

    try:
        jars = build.build(log)
    except build.BuildError as e:
        log(f"perfbench: build failed: {e}")
        return 2

    work = build.fresh_dir(os.path.join(build.OUT, "runs", a.workload))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work]
    if a.corrupt_reference:
        args.append("--corrupt-reference")
    cmd = build.java_command(jars, work, "graft.perfbench.Main", args)
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"perfbench: run exceeded {RUN_LIMIT_S} s")
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()

    trace = os.path.join(work, "trace.json")
    if os.path.isfile(trace):
        dest = os.path.join(build.OUT, "traces", f"{a.workload}-seed{a.seed}.json")
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        os.replace(trace, dest)
        log(f"perfbench: spans written to {os.path.relpath(dest, build.ROOT)}")
    shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.decode("utf-8", "replace").splitlines() if l.startswith("{")]
    if proc.returncode not in (0, 1) or not lines:
        log(f"perfbench: benchmark JVM exited {proc.returncode} without a result")
        return proc.returncode or 1
    for line in lines:
        print(line)
    return proc.returncode


if __name__ == "__main__":
    t0 = time.time()
    code = main()
    log(f"perfbench: done in {time.time() - t0:.1f} s, exit {code}")
    sys.exit(code)
