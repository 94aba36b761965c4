#!/usr/bin/env python3
"""Per-layer report: one untraced and one traced run of a workload.

Run from the root of a checkout::

    python3 cdcbench/layers.py --workload cdc_pipeline --seed 1 --seconds 10

Prints the traced run's self-time table (one row per span name), its
per-layer metrics, and the tracing overhead: the traced run's median
operation latency and CPU time per operation minus the untraced run's.
Spans of lazy calls (``pipeline.transform``, ``upsert.latest_by_key``,
``expectations.row_gate``) hold plan-build time only; the work they
describe executes inside ``parquet_sink.overwrite`` and is counted there.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys


def run(args, trace: int) -> tuple[dict, dict]:
    cmd = [
        sys.executable,
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(trace),
    ]
    out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True).stdout
    lines = out.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()

    plain_detail, plain = run(args, 0)
    detail, traced = run(args, 1)
    print(f"{'span':36s} {'calls':>6s} {'total_s':>9s} {'self_s':>9s} {'jobs':>6s}")
    for r in detail["self_time"]:
        print(f"{r['span']:36s} {r['calls']:6d} {r['total_s']:9.3f} {r['self_s']:9.3f} {r['jobs']:6d}")
    print()
    for name, m in traced["metrics"].items():
        print(f"{name:48s} {m['value']:14.4f} {m['unit']}")
    print()
    for name, base in (
        ("latency_p50_s", plain_detail["latency_p50_s"]),
        ("cpu_s_per_op", plain["metrics"]["cpu_s_per_op"]["value"]),
    ):
        with_trace = traced["metrics"][f"trace.{name}"]["value"]
        print(
            f"tracing overhead on {name}: {with_trace - base:+.3f} s "
            f"({(with_trace - base) / base:+.1%} of {base:.3f} s untraced)"
        )
    ok = plain["correct"] and traced["correct"]
    print("correct" if ok else "INCORRECT")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
