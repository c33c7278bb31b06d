#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale: one untraced and one
traced run of every workload in BENCHMARK.json (smallest inputs, one
cycle each). Asserts that each run exits 0, reports correct with at
least one attempted op and no failures, that every end-to-end (untraced)
and per-layer (traced) metric named in BENCHMARK.json is emitted with
its unit, that end-to-end values are positive, and that the
correctness checks ran.

    python3 perfbench/selftest.py [--workload NAME]

Takes a few minutes on a 4-core host; prints one line per run and
exits non-zero on the first problem.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    assert p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}:\n" + \
        "\n".join(lines[-3:]) + p.stderr[-3000:]
    detail = json.loads(lines[-2].split(" ", 1)[1])
    return json.loads(lines[-1]), detail


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    for wl in [args.workload] if args.workload else names:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res, detail = _run(wl, trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] is True, detail
            assert res["attempted"] >= 1 and res["failed"] == 0, res
            assert detail["checks"] and all(detail["checks"].values()), detail["checks"]
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {n: v["unit"] for n, v in res["metrics"].items()}
            assert got == want, f"{wl} {key}: missing {set(want) - set(got)}, " \
                f"extra {set(got) - set(want)}, units {got} vs {want}"
            if trace == 0:
                zero = [n for n, v in res["metrics"].items() if not v["value"] > 0]
                assert not zero, f"{wl}: non-positive end-to-end metrics {zero}"
            print(f"ok {wl} trace={trace}: {len(got)} metrics, "
                  f"{res['attempted']} ops, checks {sorted(detail['checks'])}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
