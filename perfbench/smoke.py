#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload named in BENCHMARK.json runs
once at a tiny scale, untraced and traced, with all its output checks, and
must print a correct result holding exactly the metrics BENCHMARK.json lists.

    python3 perfbench/smoke.py

Exits 0 when every run passes.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def judge(proc, metrics):
    """Returns what is wrong with one run, or None."""
    try:
        result = json.loads(proc.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        result = None
    if proc.returncode != 0 or result is None:
        return f"exit {proc.returncode}, no result"
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        return f"{result['failed']} of {result['attempted']} passes failed"
    if set(result["metrics"]) != metrics:
        return f"metrics differ from BENCHMARK.json: {sorted(set(result['metrics']) ^ metrics)}"
    return None


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {0: {m["name"] for m in spec["end_to_end"]},
            1: {m["name"] for m in spec["per_layer"]}}
    failures = []
    for w in [w["name"] for w in spec["workloads"]]:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", "7", "--seconds", "0", "--trace", str(trace),
                   "--scale", "0.02", "--warmup", "0", "--min-passes", "2"]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                  stderr=subprocess.DEVNULL, text=True)
            problem = judge(proc, want[trace])
            if problem:
                failures.append(f"{w} trace={trace}: {problem}")
            print(f"{w} trace={trace}: {'FAIL' if problem else 'ok'}", flush=True)
    for f in failures:
        print(f, file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
