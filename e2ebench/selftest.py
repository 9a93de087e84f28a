#!/usr/bin/env python3
"""Self-test of the benchmark: every workload at a tiny size must pass its
correctness check, and must reject a planted wrong answer.

    python3 e2ebench/selftest.py     # from the root of a checkout

Runs run.py twice per workload (about 5 minutes in all, most of it JVM
and Spark start-up) and exits non-zero if any expectation fails.
"""
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
TINY = {
    "ingest": ["--records", "5000"],
    "query": ["--records", "5000"],
    "stream": [],
    "entries": ["--entries", "x105_adamic_adar,x86_dedup_eval"],
}


def run(workload, extra):
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", "11",
           "--seconds", "2", "--trace", "0"] + TINY[workload] + extra
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    failures = [l for l in lines if l.startswith("failure ")]
    return p.returncode, result, failures


def main():
    bad = 0
    for w in TINY:
        code, result, _ = run(w, [])
        ok = code == 0 and result is not None and result["correct"] and result["failed"] == 0
        print(f"{w:8s} clean run:    {'ok' if ok else 'FAILED'} (exit {code}, {result})")
        bad += not ok
        code, result, failures = run(w, ["--plant-wrong"])
        caught = (code != 0 and result is not None and not result["correct"]
                  and result["failed"] >= 1 and failures)
        print(f"{w:8s} planted error: {'rejected' if caught else 'NOT CAUGHT'}"
              f" (exit {code}; {failures[0] if failures else 'no failure record'})")
        bad += not caught
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
