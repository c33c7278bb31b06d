#!/usr/bin/env python3
"""Tracing overhead: run one workload untraced and traced on the same
seed and print traced minus untraced for the end-to-end latencies the
traced run also reports (``trace.op_p50_s``, ``trace.batch_p50_s``).

    python3 perfbench/overhead.py --workload etl_cycle --seed 1 [--seconds 10]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _metrics(args, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True,
                         text=True, timeout=900, check=True).stdout
    return {n: v["value"] for n, v in json.loads(out.strip().splitlines()[-1])["metrics"].items()}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    plain, traced = _metrics(args, 0), _metrics(args, 1)
    report = {}
    for name in ("op_p50_s", "batch_p50_s"):
        t = traced[f"trace.{name}"]
        report[name] = {"untraced": plain[name], "traced": t,
                        "overhead_s": t - plain[name],
                        "overhead_ratio": (t - plain[name]) / plain[name]}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "tracing_overhead": report}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
