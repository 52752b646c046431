#!/usr/bin/env python3
"""Planted-wrong-answer self-check of the benchmark.

    python3 perfbench/selfcheck.py

Runs one short ``censo_query`` run with the committed fingerprint of
``q1_agg`` replaced by a wrong one. The check passes only if that run
reports ``"correct": false`` with at least one failed op, and no time for
``q1_agg`` appears among its op samples. A clean run of the same seed must
still report ``"correct": true``.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
KEY = "q1_agg"


def run(*extra):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", "censo_query", "--seed", "7",
                        "--seconds", "1", "--trace", "0", *extra],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(f"selfcheck: benchmark exited {p.returncode}")
    result = json.loads(p.stdout.strip().split("\n")[-1])
    with open(os.path.join(ROOT, ".bench_build", "results",
                           "censo_query-seed7-trace0.json")) as fh:
        return result, json.load(fh)


def main():
    planted, art = run("--plant", KEY)
    timed = {name for name, _ in art["op_samples_s"]}
    problems = []
    if planted["correct"]:
        problems.append("planted run reported correct: true")
    if planted["failed"] < 1:
        problems.append("planted run reported no failed op")
    if KEY in timed:
        problems.append(f"planted run reported a time for {KEY}")
    clean, _ = run()
    if not clean["correct"] or clean["failed"]:
        problems.append("clean run did not report correct: true")
    for p in problems:
        print("FAIL", p)
    if problems:
        sys.exit(1)
    print(f"PASS: planted {KEY} fingerprint -> correct=false, "
          f"failed={planted['failed']}/{planted['attempted']}, no {KEY} time; "
          f"clean run correct")


if __name__ == "__main__":
    main()
