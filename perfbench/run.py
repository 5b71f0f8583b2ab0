"""Benchmark entry point.

    python3 perfbench/run.py --workload trade_stream --seed 1 --seconds 10 --trace 0

Runs one workload against the library in this checkout and prints, as
the last line of standard output, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics when
``--trace 0``, the per-layer metrics when ``--trace 1``. The line before
it holds the host record, workload details and any gate failures.
BENCHMARK.json names the workloads and metrics; README.md in this
directory says what each measures and which end-to-end metric each
per-layer metric should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

import common


def metric_units(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares."""
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


# Span names whose summed self time is reported as a per-layer metric
# when the workload does not measure that layer more directly.
SPAN_LAYERS = {"generator.trades_build": "generator.trades_build_s", "generator.trades_exec": "generator.trades_exec_s"}


def main() -> int:
    t_proc = common.process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["trade_stream", "dashboard_refresh"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(common.ROOT, common.PACKAGE)):
        print(f"library package {common.PACKAGE} not found next to {common.BENCH_DIR}", file=sys.stderr)
        return 2
    args.work = os.path.join(common.WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    common.prepare_environment(args.work)
    sys.path.insert(0, common.ROOT)
    try:
        return measure(args, t_proc)
    finally:
        shutil.rmtree(args.work, ignore_errors=True)


def measure(args, t_proc: float) -> int:
    if args.workload == "trade_stream":
        import trade_stream as workload
    else:
        import dashboard_refresh as workload

    cpus = common.cpu_count()
    host = common.HostRecord()
    tracer = common.Tracer(bool(args.trace), f"{args.workload}-{args.seed}-{int(time.time())}")
    layers: dict[str, float] = {}

    with tracer.span("session.start"):
        spark = common.start_session(cpus)
    t_session = time.time()
    try:
        with tracer.span("session.warm"):
            common.warm_query(spark)
        t_warm = time.time()
        layers["session.start_s"] = t_session - t_proc
        layers["session.warm_s"] = t_warm - t_session

        result = workload.run(spark, args, tracer, layers)
        result["metrics"]["setup_s"] = t_warm - t_proc
        layers["session.peak_rss_mb"] = result["info"]["peak_rss_mb"] = common.peak_rss_mb(spark)
        host_record = host.finish(spark, cpus, args.seed)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        common.stop_session(spark)

    if args.trace and args.workload == "trade_stream":
        layers["ingest.catchup_rows_per_s_1core"] = workload.single_core_catchup(args, result.pop("staged"), tracer)
    result.pop("staged", None)

    detail = {"workload": args.workload, "host": host_record, "info": result["info"], "problems": result["problems"]}
    if args.trace:
        self_times = tracer.self_times()
        for span, metric in SPAN_LAYERS.items():
            layers.setdefault(metric, self_times.get(span, 0.0))
        units = metric_units("per_layer")
        metrics = {name: {"value": layers.get(name, 0), "unit": unit} for name, unit in units.items()}
        detail["traced_end_to_end"] = result["metrics"]
        detail["self_times_s"] = self_times
        detail["unlisted_layers"] = sorted(set(layers) - set(units))
        tracer.write(os.path.join(common.WORK_ROOT, f"spans-{args.workload}.json"))
    else:
        units = metric_units("end_to_end")
        metrics = {name: {"value": result["metrics"][name], "unit": unit} for name, unit in units.items()}

    print(json.dumps(detail))
    print(json.dumps({
        "correct": not result["problems"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
