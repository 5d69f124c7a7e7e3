#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise each metric.

Usage: python3 perfbench/spread.py --workload <name> [--seeds 1-10] [--seconds 20]
                                   [--trace 0|1] [--out summary.json]

For each metric it prints the median, the quartiles
(statistics.quantiles(values, n=4)) and the spread: the inter-quartile
distance as a share of the median. With --out it also writes the raw
values and that summary as JSON.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def seeds(spec: str) -> list:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    values, failures = {}, 0
    for s in seeds(a.seeds):
        r = subprocess.run([sys.executable, str(RUN), "--workload", a.workload, "--seed", str(s),
                            "--seconds", str(a.seconds), "--trace", str(a.trace)],
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        for line in r.stderr.splitlines():
            if line.startswith("perfbench:"):
                print(f"seed {s}: {line}", file=sys.stderr)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"seed {s}: run failed (exit {r.returncode})", file=sys.stderr)
            failures += 1
            continue
        res = json.loads(lines[-1])
        if not res["correct"]:
            failures += 1
        print(f"seed {s}: correct={res['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), file=sys.stderr)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    summary = {}
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
        summary[k] = {"median": med, "q1": q1, "q3": q3,
                      "spread": (q3 - q1) / med if med else 0.0, "n": len(vs)}
        print(f"{k:34s} median {med:12.5g}  q1 {q1:12.5g}  q3 {q3:12.5g}  "
              f"spread {summary[k]['spread']:.3f}")
    if a.out:
        Path(a.out).write_text(json.dumps({"workload": a.workload, "seeds": a.seeds,
                                           "seconds": a.seconds, "values": values,
                                           "summary": summary}, indent=1) + "\n")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
