#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload initial_load --seed 1 --seconds 10 --trace 0

Workloads: initial_load, rerun_delta, jdbc_upsert, neardup_dedup (see
perfbench/README.md). Run from the root of the repository. The first run
compiles the program and the benchmark (perfbench/build.py); the JVM then
generates the seeded inputs under perfbench/.work, warms up, measures for
--seconds and checks every pass's output. --trace 1 reports the per-layer
metrics instead of the end-to-end ones and writes the spans to
perfbench/.traces/<workload>-seed<seed>.json.

Exit code 0 with the result line; any other code, and no result line, when the
build, the set-up or the run fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

HERE = build.HERE
ROOT = build.ROOT
WORK = build.WORK
TRACES = os.path.join(HERE, ".traces")
WORKLOADS = ["initial_load", "rerun_delta", "jdbc_upsert", "neardup_dedup"]
JVM_TIMEOUT_S = 170


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size relative to the benchmark's (smoke tests use 0.01)")
    ap.add_argument("--warmup", type=float, default=8,
                    help="seconds of warm-up passes before timing (at least one pass)")
    ap.add_argument("--min-passes", type=int, default=3)
    return ap.parse_args(argv)


def clear_stale_work():
    """Removes work directories of runs whose process is gone."""
    if not os.path.isdir(WORK):
        return
    for name in os.listdir(WORK):
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)


def run(args):
    build.ensure_built()
    clear_stale_work()
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    jvm = build.jvm_command(work, [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--scale", str(args.scale), "--warmup", str(args.warmup),
        "--min-passes", str(args.min_passes), "--traces", TRACES], build.archive_options())
    try:
        proc = subprocess.run(jvm, cwd=ROOT, stdout=subprocess.PIPE,
                              timeout=JVM_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] run exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 1, None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = proc.stdout.splitlines()
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    for line in lines[:-1] if result else lines:
        print(line, file=sys.stderr if result is None else sys.stdout)
    return (0 if result else 1), result


def main(argv):
    args = parse(argv)
    try:
        code, result = run(args)
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 1
    if result is not None:
        print(json.dumps(result), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
