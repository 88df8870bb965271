#!/usr/bin/env python3
"""Self-test of the benchmark: every workload, untraced and traced, exits 0,
checks out correct and prints no end-to-end metric that reads 0.

    python3 perfbench/selftest.py [--seconds 2] [--seed 1]

run.py itself refuses a result whose metric names or units differ from
BENCHMARK.json, so a run that exits 0 printed every metric with its unit.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=float, default=2)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = 0
    for w in spec["workloads"]:
        for trace in (0, 1):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"], "--seed",
                 str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True)
            try:
                r = json.loads(p.stdout.strip().splitlines()[-1])
                ok = p.returncode == 0 and r["correct"] is True
                if not trace:
                    ok = ok and all(v["value"] != 0 for v in r["metrics"].values())
            except (IndexError, ValueError, KeyError):
                ok = False
            print(f"{'ok  ' if ok else 'FAIL'} {w['name']} trace={trace}")
            if not ok:
                bad += 1
                sys.stderr.write(p.stderr[-3000:])
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
