"""Micro-fixture edge cases (FIXTURES.md §3): empty inputs, div-by-zero
guards, top-K ties, duplicate keys, and late-data-vs-watermark
semantics — the failure modes the reference only guards with runtime
ternaries (dashboard.py:65-68, :83-87)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from real_time_streaming_system_with_apache_kafka_spark.functions.exact import ratio
from real_time_streaming_system_with_apache_kafka_spark.schemas import TRADE_WIRE_SCHEMA
from real_time_streaming_system_with_apache_kafka_spark.streaming import ingest, sinks, windowed


def test_empty_input_aggregate(spark):
    empty = spark.createDataFrame([], "status string, notional double")
    row = empty.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("notional").alias("total"),
    ).collect()[0]
    assert row["n"] == 0 and row["total"] is None


def test_ratio_guard_divide_by_zero(spark):
    df = spark.createDataFrame([(0, 0)], "num int, den int")
    row = df.select(ratio(F.col("num"), F.col("den"), "r")).collect()[0]
    assert row["r"] == 0.0  # dashboard.py:83-87 ternary semantics


def test_topk_tie_break_deterministic(spark):
    rows = [("a", 100.0, 1), ("b", 100.0, 2), ("c", 100.0, 3), ("d", 50.0, 4)]
    df = spark.createDataFrame(rows, "k string, v double, id int")
    got = [
        r["k"]
        for r in df.orderBy(F.col("v").desc(), F.col("id")).limit(2).collect()
    ]
    assert got == ["a", "b"]  # ties resolved by id, never by partition order


def test_dedup_first_write_wins_batch(spark):
    rows = [("t1", "2026-01-05T09:30:00", 1.0), ("t1", "2026-01-05T09:30:05", 2.0)]
    df = spark.createDataFrame(rows, "trade_id string, timestamp string, v double")
    out = df.orderBy("timestamp").dropDuplicates(["trade_id"]).collect()
    assert len(out) == 1


def test_malformed_json_yields_null_struct(spark):
    df = spark.createDataFrame([("{bad",), (None,)], "value string")
    parsed = ingest.parse_wire(df)
    assert parsed.count() == 0


def test_late_rows_dropped_by_watermark(spark, tmp_path):
    """Streaming W3: a row older than the advanced watermark must not
    update its (already finalized) window."""
    wire = tmp_path / "stream"
    wire.mkdir()

    def msg(trade_id: str, ts: str):
        base = {f.name: None for f in TRADE_WIRE_SCHEMA.fields}
        base.update(
            trade_id=trade_id,
            notional_value=100.0,
            status="Settled",
            timestamp=ts,
        )
        return json.dumps(base)

    # Batch 1: rows 09:30 and 09:40 -> watermark advances to 09:38.
    (wire / "b1.txt").write_text(
        msg("a1", "2026-01-05T09:30:00") + "\n" + msg("a2", "2026-01-05T09:40:00") + "\n"
    )
    stream = ingest.read_trade_stream_from_json_dir(spark, str(wire))
    agg = windowed.minute_activity_stream(stream)
    q = sinks.start_memory_sink(agg, "late_test", output_mode="update")
    q.processAllAvailable()
    # Batch 2: a1-window late row (09:30, behind watermark) + on-time row.
    (wire / "b2.txt").write_text(
        msg("late", "2026-01-05T09:30:30") + "\n" + msg("a3", "2026-01-05T09:41:00") + "\n"
    )
    q.processAllAvailable()
    q.stop()
    out = spark.sql("SELECT * FROM late_test").collect()
    by_window = {}
    for r in out:
        by_window.setdefault(str(r["window_start"]), []).append(r["n_trades"])
    # The 09:30 window was emitted once (batch 1) and never re-emitted:
    # the late row was dropped, not merged.
    assert by_window["2026-01-05 09:30:00"] == [1]
    # The on-time 09:41 row did produce an update.
    assert "2026-01-05 09:41:00" in by_window


def test_rank_family_closed_forms_match_real_window_functions(spark, tmp_path):
    """The analytic ntile/percent_rank/cume_dist derivation must equal
    the REAL window functions for every small group size — including
    n=1 (percent_rank's 0/0 guard) and n<k (each row its own tile),
    paths the big fixture groups never exercise."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from real_time_streaming_system_with_apache_kafka_spark.operators import extras

    # Groups of size 1, 2, 3, 4, 5, 7, 11 — keys unique within group.
    rows = []
    key = 0
    for gi, size in enumerate([1, 2, 3, 4, 5, 7, 11]):
        for j in range(size):
            rows.append((key, f"g{gi}", float(1000 - j)))
            key += 1
    pdf = pd.DataFrame(rows, columns=["o_orderkey", "o_orderpriority", "o_totalprice"])
    df = spark.createDataFrame(pdf)
    path = tmp_path / "orders.parquet"
    df.coalesce(1).write.mode("overwrite").parquet(str(path) + ".dir")
    # The operator loads "orders" from sf_dir; write a mini sf_dir.
    import shutil

    shutil.move(str(path) + ".dir", str(tmp_path / "orders.parquet"))

    got = {
        r.o_orderkey: (r.rnk, r.drnk, r.quartile, r.pct_rank, r.cume)
        for r in extras.wf_rank_family(spark, str(tmp_path)).collect()
    }
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    want = {
        r.o_orderkey: (r.rnk, r.drnk, r.quartile, r.pct_rank, r.cume)
        for r in df.select(
            "o_orderkey",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("quartile"),
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
        ).collect()
    }
    assert got == want


def test_gopher_keep_is_rule_conjunction(spark, sf_dir):
    """`keep` must equal the AND of the six rule columns row-for-row,
    and the gates must actually discriminate on this corpus (not all
    true / all false)."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import curation

    rows = curation.quality_gopher_gates(spark, sf_dir).collect()
    rules = [
        "rule_word_count", "rule_mean_word_len", "rule_alpha_words",
        "rule_symbol_ratio", "rule_stopwords", "rule_unique_ratio",
    ]
    for r in rows:
        assert r["keep"] == all(r[k] for k in rules)
    kept = sum(r["keep"] for r in rows)
    assert 0 < kept < len(rows)


def test_quartiles_are_ordered_and_in_range(spark, sf_dir):
    from real_time_streaming_system_with_apache_kafka_spark.operators import extras

    for r in extras.agg_quartiles_exact(spark, sf_dir).collect():
        assert r["min_qty"] <= r["q25"] <= r["median"] <= r["q75"] <= r["max_qty"]


def test_share_of_total_sums_to_100(spark, sf_dir):
    from real_time_streaming_system_with_apache_kafka_spark.operators import extras

    shares = [r["share_pct"] for r in extras.wf_share_of_total(spark, sf_dir).collect()]
    assert abs(sum(shares) - 100.0) < 1e-9


def test_cascaded_rollup_matches_direct_day_aggregate(spark, sf_dir):
    """The minute->hour->day cascade must be indistinguishable from
    aggregating the raw table straight to days (mergeability)."""
    from pyspark.sql import functions as F

    from real_time_streaming_system_with_apache_kafka_spark.operators import windows
    from real_time_streaming_system_with_apache_kafka_spark.sources.tables import load

    cascade = windows.cascaded_rollup_day(spark, sf_dir).collect()
    ev = load(spark, "events", sf_dir)
    direct = (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day_ts"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total_value"),
            (F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
             / F.count(F.lit(1))).alias("avg_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .orderBy("day_ts")
        .collect()
    )
    assert [tuple(r) for r in cascade] == [tuple(r) for r in direct]
