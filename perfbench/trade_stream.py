"""Workload ``trade_stream``: restart-and-follow over the wire format.

The reference consumer restarts with ``auto_offset_reset=earliest``: it
first drains the backlog, then follows the live topic. Here the topic
is a directory of JSON-lines files read by
``ingest.read_trade_stream_from_json_dir`` and two standing queries run
on it:

- ``ingest``: ``dedup_trades`` -> ``sinks.start_parquet_append``;
- ``minute``: ``dedup_trades`` -> ``windowed.minute_activity_stream``
  -> ``sinks.start_parquet_append``.

Catch-up: the queries start over a first backlog of ``CATCHUP_FILES``
files; then more backlogs of the same size land at once, and each is
drained. The start and the first ``CATCHUP_WARMUP`` backlogs warm the
JVM and are not timed. Live: ``dropper.py`` (its own process, open loop) moves one file
in every ``ROWS_PER_FILE / RATE`` seconds for ``--seconds``; a file's
latency runs from its due time to the commit of the batch that holds
it, in whichever query commits it last.

Commit times and batch contents come from the checkpoints the engine
writes (file-source, offset and commit logs), so the untraced run
registers nothing in the engine. The traced run adds a
StreamingQueryListener for the per-batch breakdown.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
import subprocess
import sys
import time
from decimal import Decimal

import common
import gates

ROWS_PER_FILE = 200
# Wire lines per second in the live phase. On a 4-vCPU host the queries
# keep up with it (the backlog stays bounded) while batches stay small:
# a 10,000-line backlog drains at about twice this rate.
RATE = 2_000
CATCHUP_FILES = 50  # one backlog: 10,000 lines
CATCHUP_WARMUP = 1  # untimed backlogs after the cold start
CATCHUP_ROUNDS = 5  # timed backlogs; their median is cycle_s
BACKLOG_FILES = CATCHUP_FILES * (1 + CATCHUP_WARMUP + CATCHUP_ROUNDS)
MAX_FILES_PER_TRIGGER = 50  # a backlog drains in a few large batches
DUP_SHARE = 0.05  # byte-identical redeliveries
DUP_MAX_DISTANCE = 100  # lines between a trade and its redelivery
MALFORMED_SHARE = 0.001
# A run whose dropper sent any file later than this after its due time
# did not hold the open-loop schedule and is invalid.
LATE_BOUND_MS = 250.0
DURATION_PARTS = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"]


class Staged:
    """Wire files of one seed plus the expected results."""

    def __init__(self):
        self.files: list[list[str]] = []  # lines per file
        self.originals_by_file: list[list[str]] = []  # content keys
        self.malformed = 0
        self.minutes: dict[str, tuple[int, float]] = {}


def content_key(line: str) -> str:
    return hashlib.md5(line.encode()).hexdigest()


def stage(spark, seed: int, n_files: int, tracer) -> Staged:
    """Generate the trades of ``seed`` and lay them out as wire lines in
    event-time order, with redeliveries and malformed lines mixed in."""
    from real_time_streaming_system_with_apache_kafka_spark import generator
    from real_time_streaming_system_with_apache_kafka_spark.streaming import ingest

    n_trades = int(n_files * ROWS_PER_FILE / (1 + DUP_SHARE + MALFORMED_SHARE)) + 1
    with tracer.span("generator.trades_build"):
        trades = generator.trades(spark, n_trades, seed=seed)
        wire_df = ingest.to_wire_json(trades)
    with tracer.span("generator.trades_exec"):
        wire = wire_df.toPandas()["value"].tolist()

    rng = random.Random(seed)
    lines: list[str] = []
    first_line: list[int] = []  # line index of each original
    redeliver: dict[int, list[str]] = {}
    malformed_at: list[int] = []
    for i, line in enumerate(wire):
        first_line.append(len(lines))
        lines.append(line)
        if rng.random() < DUP_SHARE:
            redeliver.setdefault(i + rng.randint(1, DUP_MAX_DISTANCE), []).append(line)
        lines.extend(redeliver.pop(i, []))
        if rng.random() < MALFORMED_SHARE:
            malformed_at.append(len(lines))
            lines.append(_malformed(line, rng))

    staged = Staged()
    staged.files = [lines[k : k + ROWS_PER_FILE] for k in range(0, n_files * ROWS_PER_FILE, ROWS_PER_FILE)]
    staged.originals_by_file = [[] for _ in staged.files]
    n_lines = n_files * ROWS_PER_FILE
    kept = [line for pos, line in zip(first_line, wire) if pos < n_lines]
    for pos, line in zip(first_line, kept):
        staged.originals_by_file[pos // ROWS_PER_FILE].append(content_key(line))
    staged.minutes = minute_reference(kept)
    staged.malformed = sum(1 for pos in malformed_at if pos < n_lines)
    return staged


def minute_reference(lines: list[str]) -> dict[str, tuple[int, float]]:
    """Batch recompute of the minute query from valid, distinct wire
    lines: minute -> (trade count, exact notional sum as a double)."""
    acc: dict[str, tuple[int, Decimal]] = {}
    for line in lines:
        rec = json.loads(line, parse_float=str)
        minute = rec["timestamp"][:16]
        n, total = acc.get(minute, (0, Decimal(0)))
        acc[minute] = (n + 1, total + Decimal(rec["notional_value"]))
    return {m: (n, float(total)) for m, (n, total) in acc.items()}


def _malformed(line: str, rng: random.Random) -> str:
    if rng.random() < 0.5:
        return line[: len(line) // 2]  # bad JSON: cut before the timestamp
    rec = json.loads(line)
    rec["timestamp"] = "2026-13-45T99:99:99.000000"  # try_cast yields null
    return json.dumps(rec, separators=(",", ":"))


def write_files(staged: Staged, first: int, last: int, directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for i in range(first, last):
        with open(os.path.join(directory, f"part-{i:06d}.json"), "w") as fh:
            fh.write("\n".join(staged.files[i]) + "\n")


def start_queries(spark, watched: str, out: str):
    from real_time_streaming_system_with_apache_kafka_spark.streaming import ingest, sinks, windowed

    def source():
        return ingest.read_trade_stream_from_json_dir(spark, watched, MAX_FILES_PER_TRIGGER)

    q_ingest = sinks.start_parquet_append(
        ingest.dedup_trades(source()), f"{out}/ingest", f"{out}/ckpt-ingest"
    )
    q_minute = sinks.start_parquet_append(
        windowed.minute_activity_stream(ingest.dedup_trades(source())),
        f"{out}/minute",
        f"{out}/ckpt-minute",
    )
    return {"ingest": q_ingest, "minute": q_minute}


def file_commit_times(checkpoint: str) -> dict[str, tuple[int, float]]:
    """file name -> (batch id, commit time), from the query's checkpoint.

    The file-source log lists the files of each source offset; the
    offset log names the source offset each batch ends at (batches
    without new files keep the previous one); the commit log entry of a
    batch is written when the batch is done.
    """
    def entries(sub: str):
        d = os.path.join(checkpoint, sub)
        for name in os.listdir(d):
            if not name.startswith("."):
                with open(os.path.join(d, name)) as fh:
                    yield name, fh.read().splitlines()

    file_offset = {
        os.path.basename(e["path"]): e["batchId"]
        for _, lines in entries("sources/0")
        for e in map(json.loads, lines[1:])
    }
    batch_end = sorted(
        (int(name), json.loads(lines[2])["logOffset"])
        for name, lines in entries("offsets")
        if name.isdigit()
    )
    commits = os.path.join(checkpoint, "commits")
    committed = {
        int(n): os.stat(os.path.join(commits, n)).st_mtime for n in os.listdir(commits) if n.isdigit()
    }
    out = {}
    for f, offset in file_offset.items():
        batch = next((b for b, end in batch_end if end >= offset), None)
        if batch in committed:
            out[f] = (batch, committed[batch])
    return out


class ProgressLog:
    """Benchmark-side StreamingQueryListener: keeps every progress event."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        self.spark = spark
        spark.streams.addListener(self.listener)

    def close(self):
        self.spark.streams.removeListener(self.listener)


def _parse_ts(text: str) -> float:
    return dt.datetime.strptime(text, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc).timestamp()


def catch_up(spark, staged: Staged, out: str, warmup: int, rounds: int, tracer) -> tuple[dict, list[float]]:
    """Start both queries over a first backlog (cold), then land
    ``warmup + rounds`` further backlogs of ``CATCHUP_FILES`` files at
    once and drain each. Returns the running queries and the drain time
    of each of the last ``rounds`` backlogs: from its landing to the
    commit of its last file in both queries."""
    watched = f"{out}/watched"
    write_files(staged, 0, CATCHUP_FILES, watched)
    with tracer.span("stream.restart"):
        queries = start_queries(spark, watched, out)
        for q in queries.values():
            q.processAllAvailable()
    times = []
    for r in range(1, warmup + rounds + 1):
        first, last = r * CATCHUP_FILES, (r + 1) * CATCHUP_FILES
        landing = f"{out}/landing-{r}"
        write_files(staged, first, last, landing)
        names = sorted(os.listdir(landing))
        with tracer.span("stream.backlog", round=r):
            t0 = time.time()
            for name in names:
                os.rename(os.path.join(landing, name), os.path.join(watched, name))
            for q in queries.values():
                q.processAllAvailable()
        done = max(
            t
            for name in queries
            for f, (_, t) in file_commit_times(f"{out}/ckpt-{name}").items()
            if f in names
        )
        if r > warmup:
            times.append(done - t0)
    return queries, times


def run(spark, args, tracer, layers: dict) -> dict:
    work = args.work
    n_live = max(1, int(round(args.seconds * RATE / ROWS_PER_FILE)))
    t_stage = time.time()
    staged = stage(spark, args.seed, BACKLOG_FILES + n_live, tracer)
    t_stage = time.time() - t_stage
    progress = ProgressLog(spark) if tracer.enabled else None

    with tracer.span("stream.catchup"):
        queries, drain_s = catch_up(spark, staged, work, CATCHUP_WARMUP, CATCHUP_ROUNDS, tracer)
    catchup_s = common.median(drain_s)

    staging = f"{work}/staging"
    write_files(staged, BACKLOG_FILES, BACKLOG_FILES + n_live, staging)
    times_path = f"{work}/dropper.json"
    with tracer.span("stream.live"):
        dropper = subprocess.Popen(
            [sys.executable, os.path.join(common.BENCH_DIR, "dropper.py"),
             "--src", staging, "--dst", f"{work}/watched",
             "--interval", str(ROWS_PER_FILE / RATE), "--out", times_path]
        )
        try:
            dropper.wait(timeout=args.seconds * 3 + 30)
        finally:
            if dropper.poll() is None:
                dropper.kill()
                dropper.wait()
        for q in queries.values():
            q.processAllAvailable()
    watermark = (queries["minute"].lastProgress or {}).get("eventTime", {}).get("watermark", "")
    for q in queries.values():
        q.stop()
    if progress:
        progress.close()

    with open(times_path) as fh:
        sent = json.load(fh)["files"]
    commit = {
        name: file_commit_times(f"{work}/ckpt-{name}") for name in queries
    }
    done_at = {
        f["file"]: max(commit[name][f["file"]][1] for name in queries) for f in sent
    }
    latencies = [done_at[f["file"]] - f["due"] for f in sent]
    late_ms = max(1000.0 * (f["sent"] - f["due"]) for f in sent)

    # Gates: every valid trade lands exactly once; minute totals equal
    # the batch recompute over the same staged lines.
    from pyspark.sql import functions as F
    from real_time_streaming_system_with_apache_kafka_spark.streaming import ingest

    t_gates = time.time()
    sink = spark.read.parquet(f"{work}/ingest")
    landed = (
        ingest.to_wire_json(sink).select(F.md5("value").alias("k")).toPandas()["k"].tolist()
    )
    failed_files, unexpected = gates.exactly_once(staged.originals_by_file, landed)
    minutes = [
        (r[0], int(r[1]), float(r[2]))
        for r in spark.read.parquet(f"{work}/minute")
        .select(F.date_format("window_start", "yyyy-MM-dd'T'HH:mm"), "n_trades", "sum_notional")
        .collect()
    ]
    minute_problems = gates.minute_totals(staged.minutes, minutes, watermark[:16])
    t_gates = time.time() - t_gates
    problems = [f"{len(failed_files)} files not landed exactly once"] if failed_files else []
    if unexpected:
        problems.append(f"{unexpected} sink rows match no staged trade")
    problems += minute_problems[:5]
    if late_ms > LATE_BOUND_MS:
        problems.append(f"dropper ran {late_ms:.0f} ms late (bound {LATE_BOUND_MS:.0f} ms): run invalid")

    if tracer.enabled:
        layers.update(_layers(spark, staged, work, sent, commit, progress.events, queries, late_ms, tracer))
        if layers["ingest.malformed_dropped"] != staged.malformed:
            problems.append(
                f"malformed dropped {layers['ingest.malformed_dropped']} != injected {staged.malformed}"
            )

    return {
        "staged": staged,
        "attempted": BACKLOG_FILES + n_live,
        "failed": len(failed_files),
        "problems": problems,
        "metrics": {
            "cycle_s": catchup_s,
            "latency_p50_s": common.median(latencies),
        },
        "info": {
            "latency_p90_s": common.percentile(latencies, 90),
            "catchup_rows_per_s": CATCHUP_FILES * ROWS_PER_FILE / catchup_s,
            "catchup_drain_s": drain_s,
            "live_files": n_live,
            "live_rows_per_s": RATE,
            "generator_late_ms": late_ms,
            "windows_checked": len(minutes),
            "stage_s": t_stage,
            "gates_s": t_gates,
        },
    }


def _layers(spark, staged, work, sent, commit, events, queries, late_ms, tracer) -> dict:
    from pyspark.sql import functions as F
    from real_time_streaming_system_with_apache_kafka_spark.streaming import ingest

    ids = {name: str(q.id) for name, q in queries.items()}
    backlog = {f"part-{i:06d}.json" for i in range(BACKLOG_FILES)}
    last_catchup = {
        name: max(b for f, (b, _) in commit[name].items() if f in backlog) for name in queries
    }
    phases: dict[str, list[dict]] = {"catchup": [], "live": []}
    ops: dict[str, list[dict]] = {"dedup": [], "window": []}
    for ev in events:
        name = next((n for n, i in ids.items() if i == ev["id"]), None)
        if name is None or not ev.get("numInputRows"):
            continue
        phase = "catchup" if ev["batchId"] <= last_catchup[name] else "live"
        phases[phase].append(ev)
        start = _parse_ts(ev["timestamp"])
        dur = ev["durationMs"]
        parent = tracer.add(f"stream.{name}.batch", start, start + dur.get("triggerExecution", 0) / 1000)
        at = start
        for part in DURATION_PARTS:
            ms = dur.get(part, 0)
            tracer.add(f"stream.{name}.{part}", at, at + ms / 1000, parent)
            at += ms / 1000
        for op in ev.get("stateOperators") or []:
            if name == "ingest" and op["operatorName"] == "dedupeWithinWatermark":
                ops["dedup"].append(op)
            if name == "minute" and op["operatorName"] == "stateStoreSave":
                ops["window"].append(op)

    out: dict[str, float] = {}
    for phase, evs in phases.items():
        out[f"batch.{phase}.count"] = len(evs)
        out[f"batch.{phase}.rows_median"] = common.median([e["numInputRows"] for e in evs])
        for part in DURATION_PARTS:
            out[f"batch.{phase}.{part}_ms"] = common.median([e["durationMs"].get(part, 0) for e in evs])
    out["ingest.dedup_state_rows"] = max((o["numRowsTotal"] for o in ops["dedup"]), default=0)
    out["ingest.dedup_state_bytes"] = max((o["memoryUsedBytes"] for o in ops["dedup"]), default=0)
    out["ingest.dedup_commit_ms"] = common.median([o["commitTimeMs"] for o in ops["dedup"]])
    out["windowed.state_rows"] = max((o["numRowsTotal"] for o in ops["window"]), default=0)
    out["windowed.commit_ms"] = common.median([o["commitTimeMs"] for o in ops["window"]])
    out["windowed.rows_dropped_by_watermark"] = sum(o["numRowsDroppedByWatermark"] for o in ops["window"])

    parts = [os.path.join(work, "ingest", n) for n in os.listdir(f"{work}/ingest") if n.endswith(".parquet")]
    out["sinks.files_written"] = len(parts)
    out["sinks.bytes_written"] = sum(os.path.getsize(p) for p in parts)

    done = sorted(max(commit[n][f["file"]][1] for n in commit) for f in sent)
    backlog_max, k = 0, 0
    for i, f in enumerate(sent):
        while k < len(done) and done[k] <= f["sent"]:
            k += 1
        backlog_max = max(backlog_max, i + 1 - k)
    out["source.backlog_max_files"] = backlog_max
    out["source.generator_late_ms"] = late_ms

    # Batch probe of the decoder over every staged line.
    lines = sum(len(f) for f in staged.files)
    raw = spark.read.text(f"{work}/watched")
    raw.write.format("noop").mode("overwrite").save()  # warm the file listing
    with tracer.span("ingest.decode_probe"):
        t = time.time()
        parsed = ingest.parse_wire(raw).select(F.count(F.lit(1))).collect()[0][0]
        took = time.time() - t
    out["ingest.decode_rows_per_s"] = lines / took
    out["ingest.malformed_dropped"] = lines - parsed
    return out


def single_core_catchup(args, staged: Staged, tracer) -> float:
    """Catch-up of the same backlog on ``local[1]``: the scaling baseline."""
    spark = common.start_session(1)
    try:
        out = f"{args.work}/one-core"
        with tracer.span("stream.catchup_1core"):
            queries, drain_s = catch_up(spark, staged, out, 0, 1, tracer)
        for q in queries.values():
            q.stop()
        return CATCHUP_FILES * ROWS_PER_FILE / drain_s[0]
    finally:
        common.stop_session(spark)
