"""Workload ``dashboard_refresh``: one closed-loop client that refreshes
the reference dashboard.

A refresh builds and collects the ten ``dash_*`` registry frames, which
is what the Streamlit page renders every poll. The data is small
(20,000 generated trades, fixed by the registry at seed 42), so driver
plan construction and the fixed cost of each job dominate; scan and
shuffle do almost no work.

The first refresh warms the session (it runs on a cold JVM) and is not
timed; refreshes then repeat back to back for ``--seconds``, and at
least ``MIN_TIMED_REFRESHES`` times. The frames of the first and the
last refresh are checked against their DuckDB twins; a frame that
raises in any refresh counts as failed.
"""

from __future__ import annotations

import time

import common
import gates

GENERATOR_ROWS = 20_000
# A refresh takes about as long as a short run, so a run times at least
# this many even when --seconds has passed.
MIN_TIMED_REFRESHES = 2


def oracle_results(names: list[str]) -> dict[str, tuple[list[str], list[tuple]]]:
    import duckdb

    from real_time_streaming_system_with_apache_kafka_spark import registry

    sql = registry.all_oracles()
    con = duckdb.connect()
    try:
        out = {}
        for name in names:
            cur = con.execute(sql[name])
            out[name] = ([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def refresh(spark, frames: dict, tracer, refresh_no: int) -> list[dict]:
    """Build and collect every frame once; one record per frame."""
    sc = spark.sparkContext
    records = []
    with tracer.span("dashboard.refresh", refresh=refresh_no):
        for name, fn in frames.items():
            rec = {"frame": name}
            group = f"perfbench-{refresh_no}-{name}"
            try:
                with tracer.span("dashboard.frame", frame=name):
                    if tracer.enabled:
                        sc.setJobGroup(f"{group}-build", name)
                    t0 = time.perf_counter()
                    with tracer.span("dashboard.build"):
                        df = fn(spark, "")
                    t1 = time.perf_counter()
                    if tracer.enabled:
                        sc.setJobGroup(f"{group}-exec", name)
                    with tracer.span("dashboard.collect"):
                        rows = df.collect()
                    t2 = time.perf_counter()
                rec.update(build_s=t1 - t0, exec_s=t2 - t1, cols=df.columns, rows=[tuple(r) for r in rows])
                if tracer.enabled:
                    rec["build_jobs"] = common.jobs_in_group(spark, f"{group}-build")
                    rec["jobs"] = rec["build_jobs"] + common.jobs_in_group(spark, f"{group}-exec")
            except Exception as exc:  # a failed frame is counted, the loop goes on
                rec["error"] = repr(exc)
            records.append(rec)
    if tracer.enabled:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return records


def check(records: list[dict], expected: dict) -> list[str]:
    bad = []
    for rec in records:
        if "error" in rec:
            bad.append(f"{rec['frame']}: {rec['error'][:200]}")
            continue
        cols, rows = expected[rec["frame"]]
        msg = gates.frame_matches(rec["cols"], rec["rows"], cols, rows)
        if msg:
            bad.append(f"{rec['frame']}: {msg}")
    return bad


def run(spark, args, tracer, layers: dict) -> dict:
    from real_time_streaming_system_with_apache_kafka_spark import registry

    frames = {k: v for k, v in registry.all_queries().items() if k.startswith("dash_")}
    expected = oracle_results(list(frames))

    first = refresh(spark, frames, tracer, 0)
    timed: list[list[dict]] = []
    refresh_s: list[float] = []
    if tracer.enabled:
        before, _ = common.sql_metric_totals(spark, -1)
    start = time.perf_counter()
    while len(timed) < MIN_TIMED_REFRESHES or time.perf_counter() - start < args.seconds:
        t = time.perf_counter()
        timed.append(refresh(spark, frames, tracer, len(timed) + 1))
        refresh_s.append(time.perf_counter() - t)

    # The first and the last refresh are checked against the oracles; in
    # the others a frame fails only if it raised.
    middle = [r for rs in timed[:-1] for r in rs]
    problems = check(first, expected) + check(timed[-1], expected)
    problems += [f"{r['frame']}: {r['error'][:200]}" for r in middle if "error" in r]
    frame_s = [r["build_s"] + r["exec_s"] for rs in timed for r in rs if "error" not in r]

    if tracer.enabled:
        ok = [rs for rs in timed if all("error" not in r for r in rs)]
        layers["dashboard.build_s"] = common.median([sum(r["build_s"] for r in rs) for rs in ok])
        layers["dashboard.exec_s"] = common.median([sum(r["exec_s"] for r in rs) for rs in ok])
        layers["dashboard.jobs"] = common.median([sum(r["jobs"] for r in rs) for rs in ok])
        layers["dashboard.build_jobs"] = common.median([sum(r["build_jobs"] for r in rs) for rs in ok])
        _, sql = common.sql_metric_totals(spark, before)
        layers["dashboard.shuffle_write_bytes"] = sql.get("shuffle bytes written", 0.0) / len(timed)
        layers.update(generator_probe(spark, tracer))

    return {
        "attempted": len(first) + len(middle) + len(timed[-1]),
        "failed": len(problems),
        "problems": problems,
        "metrics": {
            "cycle_s": common.median(refresh_s),
            "latency_p50_s": common.median(frame_s),
        },
        "info": {"refresh_s": refresh_s, "frames_timed": len(frame_s)},
    }


def generator_probe(spark, tracer, reps: int = 3) -> dict:
    """The 20k-row generator plan every frame starts from, built and run
    on its own (noop sink)."""
    from real_time_streaming_system_with_apache_kafka_spark import generator

    build, run = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        with tracer.span("generator.trades_build"):
            df = generator.trades(spark, GENERATOR_ROWS)
        t1 = time.perf_counter()
        with tracer.span("generator.trades_exec"):
            df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        build.append(t1 - t0)
        run.append(t2 - t1)
    return {"generator.trades_build_s": common.median(build), "generator.trades_exec_s": common.median(run)}
