"""Streaming analytics: windowed aggregation + break alerting
(SURVEY.md W1/W5, reference dashboard.py:236-243 and :117-122).

The reference recomputes per-minute aggregates from a 5000-row snapshot
every 5 s poll; here the same query is *incremental* — the state store
carries per-window partial aggregates, each micro-batch touches only
the windows its rows hit, and the watermark both bounds state and
defines late-data semantics (the reference has none: its LIMIT-500
snapshot silently forgets old rows, SURVEY.md W3).

Watermark rule: every windowed ``*_stream`` aggregation here bounds its
state by the event-time watermark on ``timestamp`` (``hll_distinct_stream``
needs none: its state is bounded by construction). The watermark is
declared once per query: a function whose input already carries one
(e.g. the output of ``ingest.dedup_trades``) keeps it, and a function
over a raw stream declares ``ingest.WATERMARK``. No function takes a
watermark argument.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_streaming_system_with_apache_kafka_spark.streaming.ingest import (
    _ensure_watermark,
)


def minute_activity_stream(trades: DataFrame) -> DataFrame:
    """W1 streaming twin of ``operators/windows.py::minute_activity``:
    per-minute trade count + notional sum (dashboard.py:236-243)."""
    return (
        _ensure_watermark(trades).groupBy(F.window(F.col("timestamp"), "1 minute").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_trades"),
            F.sum(F.col("notional_value").cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_notional"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_trades",
            "sum_notional",
        )
    )


def minute_partials_stream(trades: DataFrame) -> DataFrame:
    """Mergeable minute partials — the streaming counterpart of
    ``w9_cascaded_rollup``: emits the EXACT decimal sum (not the
    presentation double) plus the count, so hour/day rollups
    re-aggregate the stored partials losslessly instead of rescanning
    raw events. This is the continuous-aggregate maintenance contract:
    the materialized level keeps mergeable state; presentation values
    (doubles, averages) derive at query time."""
    return (
        _ensure_watermark(trades).groupBy(F.window(F.col("timestamp"), "1 minute").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_trades"),
            F.sum(F.col("notional_value").cast("decimal(38,6)")).alias("sv_dec"),
        )
        .select(F.col("w.start").alias("window_start"), "n_trades", "sv_dec")
    )


def minute_distinct_stream(trades: DataFrame) -> DataFrame:
    """Per-minute DISTINCT counterparty count — the streaming form of
    COUNT(DISTINCT), which streaming aggregations do not support
    directly. Two chained stateful operators (supported since Spark
    3.4): stage 1 keeps one row per (window, counterparty) via
    ``dropDuplicates``, stage 2 is a plain count per window of the
    survivors. The dedup key uses the ``window()`` column — NOT a
    date_trunc-derived minute — because only the window struct carries
    the event-time watermark metadata that lets the state store EVICT
    closed windows (a truncated-timestamp key column loses the
    metadata and the dedup state would grow forever; docdedup.py
    documents the same pitfall). At scale the bounded state is the
    open windows' distinct-key sets — exactly the memory any exact
    distinct must pay; the HLL/bitmap rollups (operators/analytics.py)
    are the batch answers when that state is too large.

    Stream/batch equivalence pinned in tests/test_streaming.py against
    the raw wire's distinct (minute, counterparty) pairs."""
    per = _ensure_watermark(trades).select(
        F.window(F.col("timestamp"), "1 minute").alias("w"),
        "counterparty",
    ).dropDuplicates(["w", "counterparty"])
    return (
        per.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_counterparties"))
        .select(F.col("w.start").alias("window_start"), "n_counterparties")
    )


def break_alerts(trades: DataFrame) -> DataFrame:
    """W5: break detection (dashboard.py:117-122) as a standing filter
    query — stateless, so it works in append mode with no watermark."""
    return trades.filter(F.col("status").contains("Break")).select(
        "trade_id",
        "instrument",
        "counterparty",
        "status",
        "notional_value",
        "timestamp",
    )


def session_window_stream(trades: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """W6 gap-fill: native ``session_window`` sessions — dynamic-length
    windows that close after ``gap`` of silence per key, state bounded
    by the watermark. The batch twin (lag + gap cumsum over the events
    table) is ``operators/analytics.py::sessionize_events``."""
    return (
        _ensure_watermark(trades).groupBy(
            F.session_window(F.col("timestamp"), gap).alias("w"),
            F.col("counterparty"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_trades"),
            F.sum(F.col("notional_value").cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_notional"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "counterparty",
            "n_trades",
            "sum_notional",
        )
    )


def minute_checksum_stream(trades: DataFrame) -> DataFrame:
    """Per-minute order-insensitive stream fingerprint — the streaming
    twin of ``operators/extras.py::reconcile_checksum``: each row
    hashes to a 60-bit integer (md5 over trade_id, engine-portable)
    and the per-window SUM of row hashes plus the count is the
    window's signature. Sums commute, so the signature is independent
    of arrival order, micro-batch boundaries, and partitioning — the
    cheap continuous check that a stream landed completely in a sink
    (compare window signatures computed downstream; any lost or
    duplicated row flips the sum). Pure windowed aggregation: one
    stateful operator, watermark-bounded state."""
    rowhash = F.conv(F.substring(F.md5(F.col("trade_id")), 1, 15), 16, 10).cast(
        "decimal(38,0)"
    )
    return (
        _ensure_watermark(trades).groupBy(F.window(F.col("timestamp"), "1 minute").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(rowhash).cast("string").alias("hash_sum"),
        )
        .select(F.col("w.start").alias("window_start"), "n_rows", "hash_sum")
    )


def ohlc_bars_stream(trades: DataFrame) -> DataFrame:
    """Per-minute OHLC price bars per instrument — the streaming twin
    of ``operators/timeseries.py::ts_ohlc_bars``: open/close are
    arg-min/arg-max over the TOTAL order (timestamp, trade_id), so the
    bar is deterministic on tied timestamps and identical to the batch
    recompute over the same wire data; the volume sum is decimal-exact
    then presented as double (one conversion). min_by/max_by are
    incremental-aggregation-safe: each micro-batch folds into the
    stored (key, value) partial, watermark-bounded state per
    (instrument, window)."""
    ordkey = F.struct(F.col("timestamp"), F.col("trade_id"))
    return (
        _ensure_watermark(trades).groupBy(
            "instrument", F.window(F.col("timestamp"), "1 minute").alias("w")
        )
        .agg(
            F.min_by("price", ordkey).alias("open"),
            F.max("price").alias("high"),
            F.min("price").alias("low"),
            F.max_by("price", ordkey).alias("close"),
            F.count(F.lit(1)).alias("n_trades"),
            F.sum(F.col("notional_value").cast("decimal(38,6)"))
            .cast("double")
            .alias("volume"),
        )
        .select(
            "instrument",
            F.col("w.start").alias("window_start"),
            "open",
            "high",
            "low",
            "close",
            "n_trades",
            "volume",
        )
    )


def vwap_bars_stream(trades: DataFrame) -> DataFrame:
    """Per-minute VWAP per instrument — the streaming twin of
    ``operators/timeseries.py::ts_vwap_bars`` on the trade wire
    schema: volume-weighted average price from two exact decimal sums
    (price x quantity, quantity), converted to double once at
    emission. Pure commutative sums, so the bar is independent of
    arrival order and micro-batch boundaries (the stream/batch
    equivalence test drains it both ways); watermark-bounded state per
    (instrument, window) — the execution-quality number every trading
    dashboard refreshes, maintained incrementally instead of the
    reference's full pandas recompute per poll (dashboard.py:236-303).
    """
    pq = (F.col("price") * F.col("quantity")).cast("decimal(38,8)")
    return (
        _ensure_watermark(trades).groupBy(
            "instrument", F.window(F.col("timestamp"), "1 minute").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_trades"),
            F.sum(F.col("quantity").cast("decimal(38,2)")).alias("sum_qty"),
            F.sum(pq).alias("sum_pq"),
        )
        .select(
            "instrument",
            F.col("w.start").alias("window_start"),
            "n_trades",
            F.col("sum_qty").cast("double").alias("total_qty"),
            (F.col("sum_pq") / F.col("sum_qty"))
            .cast("double")
            .alias("vwap"),
        )
    )


def hll_distinct_stream(trades: DataFrame) -> DataFrame:
    """Bounded-state distinct-trade estimator: HyperLogLog registers
    over ``trade_id`` maintained incrementally — the streaming twin of
    ``operators/sketches.py::sketch_hll_distinct``'s register build
    (same hash/bucket/rho math via ``hll_register_cols``; equality
    pinned in tests/test_streaming.py).

    The point at cluster scale: W4's exact dedup
    (``dropDuplicatesWithinWatermark``) keeps one state row PER
    DISTINCT ID inside the watermark (the streaming soak measured
    ~118k rows); these registers answer "how many distinct trades so
    far" with HLL_M integer rows FOREVER, because the register update
    (max) is exactly the merge Spark's incremental aggregation applies
    across micro-batches — arrival order and batch boundaries cannot
    change a max. No watermark needed: state is O(HLL_M) by
    construction, not by eviction."""
    from real_time_streaming_system_with_apache_kafka_spark.operators.sketches import (
        hll_register_cols,
    )

    bucket, rho = hll_register_cols("trade_id")
    return (
        trades.select(bucket, rho)
        .groupBy("bucket")
        .agg(F.max("rho").alias("m"))
    )
