"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py

1. Each workload at tiny size (sf0.001-sized inputs) passes its checks.
2. A negative control: one perturbed expected answer makes the run
   report a failure: `correct` false, or no result and a non-zero exit
   when the perturbed unit was the only one of its kind.
3. Two different seeds produce different inputs; one seed, the same.
Exits 0 when all hold.
"""

import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
WORKLOADS = ["compact", "read", "dml"]


def run(*args, may_fail=False):
    """The last stdout line, or None for a non-zero exit when `may_fail`."""
    r = subprocess.run([sys.executable, RUN, *args], stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        if may_fail:
            return None
        raise SystemExit(f"selftest: run.py {' '.join(args)} exited {r.returncode}")
    return r.stdout.strip().splitlines()[-1]


def result(workload, seed, trace=0, perturb=0):
    last = run("--workload", workload, "--seed", str(seed), "--seconds", "4",
               "--trace", str(trace), "--scale", "tiny", "--perturb", str(perturb),
               may_fail=bool(perturb))
    return None if last is None else json.loads(last)


def main():
    failures = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in WORKLOADS:
        r = result(w, 1)
        expect(r["correct"] and r["failed"] == 0 and r["attempted"] >= 2,
               f"{w}: tiny run passes its checks ({r['attempted']} attempted)")
        t = result(w, 1, trace=1)
        expect(t["correct"] and "other_ms" in t["metrics"], f"{w}: traced tiny run passes")
        n = result(w, 1, perturb=1)
        expect(n is None or (not n["correct"] and n["failed"] >= 1),
               f"{w}: a perturbed expected answer is reported as a failure")
        d1, d2, d1b = (run("--workload", w, "--seed", s, "--seconds", "1", "--digest", "1")
                       for s in ("1", "2", "1"))
        expect(d1 != d2 and d1 == d1b, f"{w}: seeds 1 and 2 give different inputs, seed 1 the same twice")
    if failures:
        raise SystemExit(f"selftest: {len(failures)} failed")
    print("selftest: all passed")


if __name__ == "__main__":
    main()
