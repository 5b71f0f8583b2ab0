"""Traced run report: per-layer metrics of each workload plus the
tracing overhead, measured from two traced and two untraced runs of the
same seed in the order untraced, traced, traced, untraced (medians of
each side). Writes perfbench/results/traced_run.json.

    python3 perfbench/trace_report.py --seed 7 --seconds 15
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

import common

WORKLOADS = ["trade_stream", "dashboard_refresh"]


def run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(common.BENCH_DIR, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=common.ROOT, capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    return json.loads(out[-2]), json.loads(out[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    report = {}
    for workload in WORKLOADS:
        runs = [run(workload, args.seed, args.seconds, trace) for trace in (0, 1, 1, 0)]
        plain = [runs[0][1], runs[3][1]]
        detail, traced = runs[1]
        untraced_e2e = {k: [r["metrics"][k]["value"] for r in plain] for k in plain[0]["metrics"]}
        traced_e2e = {k: [runs[i][0]["traced_end_to_end"][k] for i in (1, 2)] for k in untraced_e2e}
        detail.pop("traced_end_to_end")
        report[workload] = {
            "seed": args.seed,
            "seconds": args.seconds,
            "correct": all(r[1]["correct"] for r in runs),
            "end_to_end_untraced": untraced_e2e,
            "end_to_end_traced": traced_e2e,
            "tracing_overhead": {
                k: statistics.median(traced_e2e[k]) / statistics.median(v) - 1 for k, v in untraced_e2e.items()
            },
            "per_layer": {k: v["value"] for k, v in traced["metrics"].items()},
            **detail,
        }
    os.makedirs(os.path.join(common.BENCH_DIR, "results"), exist_ok=True)
    with open(os.path.join(common.BENCH_DIR, "results", "traced_run.json"), "w") as fh:
        json.dump(report, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
