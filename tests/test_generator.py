"""Statistical + invariant validation of the seeded trade generator
(SURVEY.md §7.1 step 5: status frequencies ~ weights, fee bps within
bounds, derived-column rules exact, determinism across runs and
partitionings)."""

from __future__ import annotations

import datetime as dt
import hashlib

import pytest
from pyspark.sql import functions as F

from real_time_streaming_system_with_apache_kafka_spark import generator
from real_time_streaming_system_with_apache_kafka_spark.schemas import TRADE_SCHEMA

N = 20_000


@pytest.fixture(scope="module")
def gen(spark):
    df = generator.trades(spark, N)
    df.cache()
    yield df
    df.unpersist()


def test_schema_matches_canonical(gen):
    # Names and types must match the single canonical declaration;
    # nullability flags differ (when-ladder expressions are nullable).
    got = [(f.name, f.dataType) for f in gen.schema.fields]
    want = [(f.name, f.dataType) for f in TRADE_SCHEMA.fields]
    assert got == want
    assert gen.filter(
        " OR ".join(f"{f.name} IS NULL" for f in gen.schema.fields)
    ).count() == 0


def test_row_count_and_unique_ids(gen):
    assert gen.count() == N
    assert gen.select("trade_id").distinct().count() == N


def test_status_weights(gen):
    freqs = {
        r["status"]: r["n"] / N
        for r in gen.groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for status, w in zip(generator.STATUSES, generator.STATUS_WEIGHTS):
        assert abs(freqs.get(status, 0.0) - w) < 0.02, (status, freqs.get(status), w)


def test_break_rate_near_two_pct(gen):
    rate = gen.filter(F.col("status").contains("Break")).count() / N
    assert 0.01 < rate < 0.03  # reference claims 1-2%, code 2.0%


def test_quantity_price_ranges_per_class(gen):
    rows = (
        gen.groupBy("asset_class")
        .agg(
            F.min("quantity").alias("qlo"), F.max("quantity").alias("qhi"),
            F.min("price").alias("plo"), F.max("price").alias("phi"),
        )
        .collect()
    )
    for r in rows:
        qlo, qhi, plo, phi, _ = generator.RANGES[r["asset_class"]]
        assert qlo <= float(r["qlo"]) and float(r["qhi"]) <= qhi
        assert plo <= float(r["plo"]) and float(r["phi"]) <= phi


def test_derived_columns_exact(gen):
    bad = gen.filter(
        (F.abs(F.col("notional_value") - F.round(F.col("quantity") * F.col("price"), 2)) > 0.01)
        | (
            F.abs(
                F.col("total_fees")
                - (F.col("brokerage_fee") + F.col("clearing_fee") + F.col("exchange_fee"))
            )
            > 0.02
        )
    ).count()
    assert bad == 0


def test_fee_bps_bounds(gen):
    # brokerage in [1,15] bps of notional (producer.py:81), +/- rounding slop
    bad = gen.filter(
        (F.col("brokerage_fee") < F.col("notional_value") * 0.0001 - 0.01)
        | (F.col("brokerage_fee") > F.col("notional_value") * 0.0015 + 0.01)
    ).count()
    assert bad == 0


def test_priority_and_stp_rules(gen):
    bad = gen.filter(
        (
            (F.col("status").contains("Break") | (F.col("notional_value") > 1_000_000))
            != (F.col("priority") == "High")
        )
        | (F.col("stp_eligible") == F.col("status").contains("Break"))
    ).count()
    assert bad == 0


def test_settlement_t_plus_n(gen):
    expected = F.when(F.col("asset_class").isin("Equity", "FX"), 2).otherwise(1)
    bad = gen.filter(
        F.datediff("settlement_date", "trade_date") != expected
    ).count()
    assert bad == 0


def test_instruments_belong_to_class(gen):
    rows = gen.select("asset_class", "instrument").distinct().collect()
    for r in rows:
        assert r["instrument"] in generator.INSTRUMENTS[r["asset_class"]]


def test_deterministic_across_partitionings(spark):
    a = generator.trades(spark, 2_000, num_partitions=1).orderBy("trade_id").collect()
    b = generator.trades(spark, 2_000, num_partitions=16).orderBy("trade_id").collect()
    assert a == b


def test_duplicate_injection(spark):
    base = generator.trades(spark, 2_000)
    dup = generator.with_duplicates(base, every_n=10)
    n_base, n_dup = base.count(), dup.count()
    assert n_dup > n_base
    assert dup.select("trade_id").distinct().count() == n_base


def test_event_time_monotonic_pacing(gen):
    row = gen.agg(
        F.min("timestamp").alias("lo"), F.max("timestamp").alias("hi")
    ).collect()[0]
    span_s = (row["hi"] - row["lo"]).total_seconds()
    # ~0.9 s/trade mean pacing (reference U(0.3, 1.5) s, producer.py:172)
    assert 0.8 * N * 0.9 < span_s < 1.2 * N * 0.9


# md5 of the sorted rows, every column cast to string JVM-side (session
# timezone UTC, so the digest is independent of the Python process's
# timezone). Computed from the Column-expression generator that preceded
# the SQL-text projection; the seed-42 golden fixture pins only the
# default arguments. The 2**33 seed pins the BIGINT seed literal.
@pytest.mark.parametrize(
    "kwargs, digest",
    [
        (
            dict(seed=7, base_date=dt.date(2025, 3, 1), mean_interval_ms=250, num_partitions=3),
            "350c3116af4ace5431b8eddc00a15827",
        ),
        (dict(seed=0, num_partitions=5), "d5d8bdb01d207110939351a03e1b7e5d"),
        (
            dict(seed=2**33 + 1, base_date=dt.date(1999, 12, 31), mean_interval_ms=1500),
            "168eb0d964e1169b42ff43a1d7fabbe7",
        ),
    ],
    ids=["seed7_2025-03-01_250ms_3parts", "seed0_5parts", "bigint_seed_1999"],
)
def test_non_default_arguments_pinned(spark, kwargs, digest):
    df = generator.trades(spark, 2_000, **kwargs)
    rows = df.select([F.col(c).cast("string") for c in df.columns]).collect()
    got = hashlib.md5("\n".join(sorted(map(repr, map(tuple, rows)))).encode()).hexdigest()
    assert got == digest


def test_plan_build_is_cheap(spark, monkeypatch):
    """The projection is SQL text parsed once per dependency layer: the
    build launches no Spark job, stacks a handful of Projects (not one
    per column), and makes few py4j round trips."""
    sc = spark.sparkContext
    generator.trades(spark, 1_000)  # warm the JVM-side function registry
    client = sc._gateway._gateway_client
    calls = []
    send = client.send_command

    def counting_send(*args, **kwargs):
        calls.append(1)
        return send(*args, **kwargs)

    group = "test-generator-build"
    sc.setJobGroup(group, "generator build")
    try:
        monkeypatch.setattr(client, "send_command", counting_send)
        df = generator.trades(spark, 1_000)
        monkeypatch.undo()
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc._jsc.clearJobGroup()
    assert 0 < len(calls) < 200, len(calls)
    n_project = df._jdf.queryExecution().analyzed().toString().count("Project [")
    assert 1 <= n_project <= 8, n_project
