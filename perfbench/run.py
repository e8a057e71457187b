"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload compact|read|dml --seed N \\
        --seconds S --trace 0|1

Builds the library from source on first use (see build.py), then runs the
workload in one JVM on local[nproc] and prints, as its last stdout line,
{"correct", "attempted", "failed", "metrics"}. --trace 1 prints the
per-layer metrics instead of the end-to-end ones and writes every span to
perfbench/out/spans-<workload>-<seed>.json.

Self-test options: --scale tiny (inputs of sf0.001 size), --perturb 1 (one expected answer is wrong, so the run must report a
failure), --digest 1 (print a fingerprint of the seed's inputs and exit).
"""

import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
from build import HERE, build, fresh, java

JVM_TIMEOUT_S = 170


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=["compact", "read", "dml"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "tiny"], default="full")
    p.add_argument("--perturb", type=int, choices=[0, 1], default=0)
    p.add_argument("--digest", type=int, choices=[0, 1], default=0)
    a = p.parse_args()

    archive = build()
    work = os.path.join(HERE, "work")
    fresh(work)
    spans = ""
    if a.trace:
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        spans = os.path.join(HERE, "out", f"spans-{a.workload}-{a.seed}.json")
    cmd = java(work, archive, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--scale", a.scale, "--spans", spans,
        "--perturb", str(a.perturb), "--digest", str(a.digest)])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"perfbench: run exceeded {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = stdout.rstrip("\n").split("\n")
    if proc.returncode != 0:
        print("\n".join(lines[:-1]), file=sys.stderr)
        sys.exit(f"perfbench: benchmark JVM exited with {proc.returncode}")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
