#!/usr/bin/env python3
"""Benchmark command.

Usage: python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source on first use (see build.py), runs one
workload in a fresh JVM and prints the JVM's JSON result as the last line
of stdout. Workloads and metrics are described in BENCHMARK.json. A traced
run also writes its spans to .bench_build/traces/<workload>-seed<n>.jsonl.
"""
import argparse
import json
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
DATA = ROOT / "perfbench" / "data" / "sf0.01"
EXPECTED = ROOT / "perfbench" / "expected.tsv"
WORKLOADS = ("stream_replay", "batch_queries")
# a run past this is stopped and fails (the benchmark's own budget is 180 s)
LIMIT_S = 170


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not DATA.is_dir() or not EXPECTED.is_file():
        print(f"perfbench: benchmark data missing ({DATA}, {EXPECTED})", file=sys.stderr)
        return 2
    build.build()
    work = build.BUILD / "work" / f"{a.workload}-{a.seed}-{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    trace_out = build.BUILD / "traces" / f"{a.workload}-seed{a.seed}.jsonl"
    args = ["--workload", a.workload, "--seed", a.seed, "--seconds", a.seconds,
            "--trace", a.trace, "--data", DATA, "--work", work / "run",
            "--expected", EXPECTED, "--trace-out", trace_out]
    cmd = build.java_command("graft.perfbench.Main", args, work)
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: run exceeded {LIMIT_S} s, stopped", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        print(f"perfbench: run failed (exit {proc.returncode})", file=sys.stderr)
        return proc.returncode or 1
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("perfbench: malformed result line", file=sys.stderr)
        return 1
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
