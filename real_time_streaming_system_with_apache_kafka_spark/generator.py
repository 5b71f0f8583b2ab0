"""Seeded synthetic post-trade generator (SURVEY.md SRC1).

Re-expresses the reference's trade generator semantics
(reference producer.py:11-128: weighted categoricals producer.py:39,
per-class quantity/price ranges producer.py:62-76, derived
notional/fees producer.py:78-84, T+N settlement producer.py:89-97,
priority/STP rules producer.py:100-105) as a projection over
``spark.range(n)`` written as SQL expression text, one ``selectExpr``
per dependency layer, so the JVM parses each layer in one call.

Two deliberate departures from the reference, both scale-driven:

1. **Deterministic.** The reference draws from unseeded ``random`` and
   Faker. Here every value derives from ``xxhash64(id, seed, tag)``, so
   a row's content depends only on (id, seed) — not on partitioning,
   task order, or retries. That's what makes the generator safe on a
   1000-executor cluster (speculative re-execution produces identical
   rows) and makes golden tests possible.
2. **Declarative.** One ``range(n)`` + SQL expressions = a lazy plan
   Catalyst can parallelize arbitrarily; generating 100 TB of synthetic
   trades is embarrassingly parallel with zero Python in the loop
   (whole-stage codegen end to end).
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_streaming_system_with_apache_kafka_spark.schemas import TRADE_SCHEMA

# Committed golden fixture: the live generator's output at seed=42,
# n=20000, bit-pinned by tests/test_dashboard_oracles.py. Single source
# for every fixture-backed oracle (dashboard.py imports it from here).
TRADES_FIXTURE = os.path.abspath(
    os.path.join(
        os.path.dirname(__file__),
        "..",
        "tests",
        "fixtures",
        "trades_seed42_n20000.parquet",
    )
)

ASSET_CLASSES = ["Equity", "Fixed Income", "Derivative", "FX", "Commodity"]
SIDES = ["Buy", "Sell"]
COUNTERPARTIES = [
    "Goldman Sachs", "JP Morgan", "Morgan Stanley", "BNP Paribas",
    "State Street", "Northern Trust", "Citi", "Credit Suisse",
]
STATUSES = [
    "Pending Confirmation", "Confirmed", "Settlement Pending",
    "Settled", "Break - Mismatch", "Break - Missing Trade",
]
STATUS_WEIGHTS = [0.40, 0.35, 0.15, 0.08, 0.015, 0.005]  # producer.py:39
INSTRUMENTS = {  # producer.py:42-48
    "Equity": ["AAPL", "MSFT", "GOOGL", "AMZN", "TSLA", "JPM", "BAC", "GS"],
    "Fixed Income": ["US10Y", "US30Y", "CORP_AAA", "CORP_BBB", "MUNI"],
    "Derivative": ["SPX_CALL", "SPX_PUT", "VIX_FUT", "ES_FUT", "SWAP_5Y"],
    "FX": ["EUR/USD", "GBP/USD", "USD/JPY", "USD/CHF", "AUD/USD"],
    "Commodity": ["GC_FUT", "CL_FUT", "NG_FUT", "SI_FUT"],
}
VENUES = ["DTC", "Euroclear", "Clearstream", "CME", "ICE", "OCC"]
# (quantity lo, hi, price lo, hi, price dp) per class — producer.py:62-76
RANGES = {
    "Equity": (100, 50_000, 50.0, 500.0, 2),
    "Fixed Income": (100_000, 10_000_000, 95.0, 105.0, 4),
    "Derivative": (1, 100, 1.0, 50.0, 2),
    "FX": (100_000, 5_000_000, 0.5, 1.5, 6),
    "Commodity": (1, 500, 50.0, 2000.0, 2),
}
SETTLEMENT_DAYS = {  # producer.py:89-95
    "Equity": 2, "Fixed Income": 1, "Derivative": 1, "FX": 2, "Commodity": 1,
}
# Deterministic stand-in for Faker analyst names (producer.py:127).
ANALYSTS = [
    "Alex Morgan", "Sam Rivera", "Jordan Lee", "Casey Kim", "Riley Chen",
    "Drew Patel", "Taylor Brooks", "Avery Nguyen", "Quinn Davis", "Jamie Fox",
    "Morgan Reed", "Cameron Diaz", "Skyler Hunt", "Devon Cruz", "Harper Wells",
    "Rowan Blake", "Emerson Cole", "Finley Hayes", "Sawyer Stone", "Peyton Ash",
]

_MASK = 1 << 30


def _str(s: str) -> str:
    """SQL string literal, quotes and backslashes escaped."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _dbl(x: float) -> str:
    """SQL double literal: a bare ``50.0`` parses as DECIMAL, ``50.0D``
    as the exact double the Python float holds."""
    return f"{float(x)!r}D"


def _hash(seed: int, tag: str) -> str:
    return f"xxhash64(id, {int(seed)}, {_str(tag)})"


def _u01(seed: int, tag: str) -> str:
    """Uniform [0,1) derived from (row id, seed, tag) — row-deterministic
    regardless of partitioning, unlike ``rand(seed)``."""
    return f"(pmod({_hash(seed, tag)}, {_MASK}) / {_MASK})"


def _choice(options: list[str], seed: int, tag: str) -> str:
    arr = ", ".join(map(_str, options))
    return f"element_at(array({arr}), CAST(pmod({_hash(seed, tag)}, {len(options)}) + 1 AS INT))"


def _weighted_choice(options: list[str], weights: list[float], seed: int, tag: str) -> str:
    """Cumulative-weight CASE ladder (producer.py:58 random.choices)."""
    u = _u01(seed, tag)
    whens, cum = [], 0.0
    for opt, w in zip(options[:-1], weights[:-1]):
        cum += w
        whens.append(f"WHEN {u} < {_dbl(cum)} THEN {_str(opt)}")
    return f"CASE {' '.join(whens)} ELSE {_str(options[-1])} END"


def _by_class(values: dict[str, str]) -> str:
    """Per-asset-class value; NULL for an unknown class."""
    whens = " ".join(f"WHEN {_str(cls)} THEN {v}" for cls, v in values.items())
    return f"CASE asset_class {whens} END"


def _randint(seed: int, tag: str) -> str:
    """Per-class integer uniform in [lo, hi] (producer.py randint)."""
    u = _u01(seed, tag)
    return _by_class(
        {cls: f"CAST(FLOOR({u} * {hi - lo + 1}) + {lo} AS BIGINT)" for cls, (lo, hi, *_) in RANGES.items()}
    )


def _randprice(seed: int, tag: str) -> str:
    """Per-class uniform price rounded to the class's decimal places."""
    u = _u01(seed, tag)
    return _by_class(
        {
            cls: f"ROUND({_dbl(lo)} + {u} * {_dbl(hi - lo)}, {dp})"
            for cls, (_, _, lo, hi, dp) in RANGES.items()
        }
    )


def trades(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    base_date: dt.date = dt.date(2026, 1, 5),
    mean_interval_ms: int = 900,
    num_partitions: int | None = None,
) -> DataFrame:
    """Generate ``n_rows`` deterministic trades matching TRADE_SCHEMA.

    ``mean_interval_ms`` paces event time like the reference's
    U(0.3, 1.5) s sleep (producer.py:172): trade *i* lands at
    ``base_date + i * interval + jitter``.
    """
    df = spark.range(0, n_rows, 1, num_partitions or spark.sparkContext.defaultParallelism)
    return decorate_ids(df, seed=seed, base_date=base_date, mean_interval_ms=mean_interval_ms)


def decorate_ids(
    df: DataFrame,
    seed: int = 42,
    base_date: dt.date = dt.date(2026, 1, 5),
    mean_interval_ms: int = 900,
) -> DataFrame:
    """Decorate any DataFrame bearing an ``id`` column (batch ``range``
    or a streaming ``rate`` source) into full trade rows.  Every value
    derives from (id, seed) alone, so the SAME id produces the SAME
    trade in batch and streaming — the property the stream/batch
    equivalence tests and the soak's redelivery injection rely on."""
    base_us = int(
        dt.datetime.combine(base_date, dt.time(9, 30)).replace(tzinfo=dt.timezone.utc).timestamp()
        * 1_000_000
    )
    step_us = mean_interval_ms * 1000
    df = df.selectExpr("id", f"{_choice(ASSET_CLASSES, seed, 'class')} AS asset_class")
    df = df.selectExpr(
        "*",
        # Per-class instrument pick (producer.py:55).
        _by_class({cls: _choice(ticks, seed, f"instr_{cls}") for cls, ticks in INSTRUMENTS.items()})
        + " AS instrument",
        f"{_choice(SIDES, seed, 'side')} AS side",
        f"{_choice(COUNTERPARTIES, seed, 'cpty')} AS counterparty",
        f"{_weighted_choice(STATUSES, STATUS_WEIGHTS, seed, 'status')} AS status",
        f"{_choice(VENUES, seed, 'venue')} AS settlement_venue",
        f"{_randint(seed, 'qty')} AS quantity",
        f"{_randprice(seed, 'price')} AS price",
        f"date_sub(DATE'{base_date.isoformat()}', CAST(pmod({_hash(seed, 'tdate')}, 4) AS INT))"
        " AS trade_date",
        f"timestamp_micros({base_us} + id * {step_us} + pmod({_hash(seed, 'jitter')}, {step_us}))"
        " AS `timestamp`",
        f"substring(md5(concat_ws('#', {int(seed)}, id)), 1, 12) AS trade_id",
        f"{_choice(ANALYSTS, seed, 'analyst')} AS processed_by",
    )
    df = df.selectExpr(
        "*",
        "ROUND(quantity * price, 2) AS notional_value",
        _by_class({cls: f"date_add(trade_date, {n})" for cls, n in SETTLEMENT_DAYS.items()})
        + " AS settlement_date",
        # producer.py:105
        "NOT status IN ('Break - Mismatch', 'Break - Missing Trade') AS stp_eligible",
    )

    def fee(name: str, tag: str, lo: float, hi: float) -> str:
        u = _u01(seed, tag)
        return f"ROUND(notional_value * ({_dbl(lo)} + {u} * {_dbl(hi - lo)}), 2) AS {name}"

    df = df.selectExpr(
        "*",
        fee("brokerage_fee", "fee_brk", 0.0001, 0.0015),  # producer.py:81
        fee("clearing_fee", "fee_clr", 0.00005, 0.0003),  # producer.py:82
        fee("exchange_fee", "fee_exc", 0.00003, 0.0002),  # producer.py:83
        "CASE WHEN contains(status, 'Break') OR notional_value > 1000000"  # producer.py:100-102
        " THEN 'High' ELSE 'Normal' END AS priority",
    )
    df = df.selectExpr("*", "ROUND(brokerage_fee + clearing_fee + exchange_fee, 2) AS total_fees")
    # Project to the canonical schema order/types (single declaration,
    # unlike the reference's three copies — SURVEY.md §1.2).
    return df.selectExpr(
        *[f"CAST(`{f.name}` AS {f.dataType.simpleString()}) AS `{f.name}`" for f in TRADE_SCHEMA.fields]
    )


def trades_rate_stream(
    spark: SparkSession,
    rows_per_second: int = 10_000,
    seed: int = 42,
    dup_every_n: int = 20,
    num_partitions: int | None = None,
    mean_interval_ms: int = 900,
) -> DataFrame:
    """Unbounded trade stream from the built-in ``rate`` source — the
    soak-scale twin of the reference's one-trade-per-loop producer
    (producer.py:160-172), generating JVM-side at arbitrary rate.

    Every ``dup_every_n``-th tick re-emits the PREVIOUS tick's id, so
    ~1/n of rows are exact at-least-once redeliveries (same trade_id,
    same payload — the Kafka redelivery shape W4's dedup must absorb).
    Event time advances ``mean_interval_ms`` per id regardless of wall
    rate, so the watermark sweeps forward and state eviction is
    exercised continuously at any throughput.
    """
    reader = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .option(
            "numPartitions",
            num_partitions or spark.sparkContext.defaultParallelism,
        )
    )
    ticks = reader.load().select(
        F.when(
            (F.pmod(F.col("value"), F.lit(dup_every_n)) == 0) & (F.col("value") > 0),
            F.col("value") - 1,
        )
        .otherwise(F.col("value"))
        .alias("id")
    )
    return decorate_ids(ticks, seed=seed, mean_interval_ms=mean_interval_ms)


def with_duplicates(df: DataFrame, every_n: int = 50) -> DataFrame:
    """Inject duplicate trade_ids (same id, 1 s-later timestamp) to
    exercise at-least-once delivery + idempotent-ingest dedup (W4,
    reference consumer.py:78 ON CONFLICT DO NOTHING)."""
    dups = (
        df.filter(F.pmod(F.xxhash64("trade_id"), F.lit(every_n)) == 0)
        .withColumn("timestamp", F.col("timestamp") + F.expr("INTERVAL 1 SECOND"))
    )
    return df.unionAll(dups)


def src1_trade_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: 10k seeded trades. Oracled since r5 against the
    committed golden fixture (trade timestamps are strictly increasing
    in row id, so the first 10k of the 20k fixture by timestamp ARE
    rows 0..9999): xxhash64 isn't re-expressible in ANSI SQL, but the
    generator is deterministic, and the fixture is pinned bit-for-bit
    to the live generator by tests/test_dashboard_oracles.py. Decimal
    columns are emitted as double on both sides — exact at these
    magnitudes (all scaled units < 2^53) — because DuckDB's Python
    DECIMALs strip trailing zeros and mismatch fixed-scale
    representations."""
    t = trades(spark, 10_000)
    dec_cols = {
        f.name
        for f in t.schema.fields
        if f.dataType.typeName().startswith("decimal")
    }
    return t.select(
        *[
            F.col(c).cast("double").alias(c) if c in dec_cols else F.col(c)
            for c in t.columns
        ]
    )


def w4_wire_roundtrip_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: the full ingest pipeline in batch mode — trades
    + injected duplicates -> JSON wire encode -> ``from_json`` decode
    -> first-write-wins dedup (SRC5 + W4/SNK2, reference
    consumer.py:17/:78). The identical expressions run as a Structured
    Streaming plan in streaming/ingest.py (tests/test_streaming.py
    asserts batch/stream equivalence).

    Hash-grade oracle (since r7): first-write-wins keeps the ORIGINAL
    copy of every duplicated trade (the injected dup is +1 s later), so
    the deduped roundtrip output is by construction the seeded
    generator's 10k trades — the same committed golden fixture that
    oracles src1. Either the JSON encode/decode round-trips every field
    bit-for-bit (microsecond timestamps, fixed-scale decimals, dates)
    or the value hash fails. Decimals cast to double on both sides for
    the same representation reason as src1 (exact: scaled units < 2^53).
    """
    from real_time_streaming_system_with_apache_kafka_spark.streaming import ingest

    base = with_duplicates(trades(spark, 10_000), every_n=20)
    decoded = ingest.parse_wire(ingest.to_wire_json(base))
    # First-write-wins must be deterministic in batch too: a bare
    # dropDuplicates keeps an arbitrary copy (partition-order-
    # dependent); min_by on event time keeps the original.
    cols = decoded.columns
    deduped = (
        decoded.groupBy("trade_id")
        .agg(F.min_by(F.struct(*cols), F.col("timestamp")).alias("r"))
        .select("r.*")
    )
    dec_cols = {
        f.name
        for f in deduped.schema.fields
        if f.dataType.typeName().startswith("decimal")
    }
    return deduped.select(
        *[
            F.col(c).cast("double").alias(c) if c in dec_cols else F.col(c)
            for c in deduped.columns
        ]
    )


QUERIES = {
    "src1_trade_generator": src1_trade_generator,
    "w4_wire_roundtrip_dedup": w4_wire_roundtrip_dedup,
}


_GOLDEN_10K_SQL = f"""
        SELECT trade_id, asset_class, instrument, side,
               cast(quantity AS double) AS quantity,
               cast(price AS double) AS price,
               cast(notional_value AS double) AS notional_value,
               counterparty, status, settlement_venue,
               trade_date, settlement_date,
               cast(brokerage_fee AS double) AS brokerage_fee,
               cast(clearing_fee AS double) AS clearing_fee,
               cast(exchange_fee AS double) AS exchange_fee,
               cast(total_fees AS double) AS total_fees,
               priority, stp_eligible, timestamp, processed_by
        FROM read_parquet('{TRADES_FIXTURE}')
        ORDER BY timestamp
        LIMIT 10000
    """

ORACLES: dict[str, str] = {
    # Golden-fixture oracles (src1 docstring): the generator itself,
    # hash-checked end to end. w4's deduped roundtrip equals the same
    # 10k trades (first-write-wins keeps the original copy), so the
    # fixture is its oracle too — the encode/decode either round-trips
    # bit-for-bit or the hash fails (w4 docstring).
    "w4_wire_roundtrip_dedup": _GOLDEN_10K_SQL,
    "src1_trade_generator": _GOLDEN_10K_SQL,
}
