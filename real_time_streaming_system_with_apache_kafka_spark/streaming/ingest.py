"""Streaming ingest: wire decode + idempotent dedup (SURVEY.md SRC4/
SRC5/SNK2/SNK3/W4).

Reference path (consumer.py): KafkaConsumer poll loop -> json.loads per
message -> row-at-a-time ``INSERT ... ON CONFLICT (trade_id) DO
NOTHING`` into Postgres — at-least-once delivery reconciled by primary-
key idempotency, ~1 msg/s ceiling (README.md:51).

Spark-native equivalent: a Structured Streaming plan —
``from_json`` decode (one explicit step instead of the reference's
triple schema declaration), null-filter for malformed records
(consumer.py:116-118 per-record skip), then watermark-scoped
``dropDuplicates`` which reproduces ON CONFLICT first-write-wins
semantics *before* the sink. Offsets live in the checkpoint, giving
exactly-once to transactional/file sinks instead of the reference's
at-least-once + PK reconciliation.

Scale notes:
- dedup state is bounded by the watermark (unbounded state otherwise —
  SURVEY.md §7.2); at 100 TB/day keys-in-window must fit the state
  store, so ``use_rocksdb`` switches the state store provider to
  RocksDB (disk-backed, the standard choice for large keyed state).
- parsing is JVM-side Jackson inside codegen; no Python per-record.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_streaming_system_with_apache_kafka_spark.schemas import (
    TRADE_SCHEMA,
    TRADE_WIRE_SCHEMA,
)

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
# Event-time watermark delay of the trade stream: how late a redelivery
# or an out-of-order trade may arrive and still be deduplicated or
# counted in its window.
WATERMARK = "2 minutes"


def _ensure_watermark(
    df: DataFrame, column: str = "timestamp", delay: str = WATERMARK
) -> DataFrame:
    """Declare the event-time watermark on ``column`` once per query.

    A frame whose ``column`` already carries a watermark (its metadata
    holds ``spark.watermarkDelayMs``, e.g. the output of
    :func:`dedup_trades`) is returned as is, so stateful operators can
    be chained without each one redefining it. On a batch frame the
    optimizer drops the watermark.
    """
    if "spark.watermarkDelayMs" in df.schema[column].metadata:
        return df
    return df.withWatermark(column, delay)


def enable_rocksdb_state(spark: SparkSession) -> None:
    """Disk-backed keyed state for large dedup/agg state (100 TB path)."""
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)


def parse_wire(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """SRC5: JSON wire bytes/string -> typed trade rows.

    Input is any DataFrame (batch or streaming) with a JSON-string
    column — the shape both the Kafka source (``value``) and the text
    file source produce. Malformed records parse to a null struct and
    are dropped (SNK3 semantics: skip and continue, consumer.py:116-118).
    """
    parsed = raw.select(
        F.from_json(F.col(value_col).cast("string"), TRADE_WIRE_SCHEMA).alias("t")
    )
    # PERMISSIVE parsing yields an all-null struct for malformed JSON —
    # require the primary key, exactly as the reference's keyed INSERT
    # would reject a record without trade_id (consumer.py:78).
    typed = parsed.filter(F.col("t.trade_id").isNotNull()).select("t.*")
    # Wire form carries dates/timestamps as ISO strings and numerics as
    # doubles (producer.py:136 json.dumps); coerce to the canonical
    # schema exactly as the reference's Postgres insert did implicitly.
    # try_cast, not cast: under Spark 4's default ANSI mode a plain cast
    # THROWS on one malformed field and kills the whole streaming query
    # (restart replays the poison offset and dies again) — a bad value
    # must skip the record (SNK3), never stop the stream.
    coerced = typed.select(
        *[F.col(f.name).try_cast(f.dataType).alias(f.name) for f in TRADE_SCHEMA.fields]
    )
    # Event time is required downstream (watermarks, dedup scope).
    return coerced.filter(F.col("timestamp").isNotNull())


def dedup_trades(trades: DataFrame) -> DataFrame:
    """W4/SNK2: watermark-scoped first-write-wins dedup on trade_id —
    the reference's ``ON CONFLICT (trade_id) DO NOTHING``
    (consumer.py:78) as a streaming operator ahead of any sink.

    ``dropDuplicatesWithinWatermark`` (not plain ``dropDuplicates``):
    with a bare key subset the watermark would bound NOTHING — state
    keeps one entry per key forever and the job eventually exhausts
    memory/disk. The WithinWatermark variant evicts key state once the
    watermark passes, which is the semantics at-least-once Kafka
    redelivery actually needs (duplicates arrive close together).
    """
    return _ensure_watermark(trades).dropDuplicatesWithinWatermark(["trade_id"])


def read_trade_stream_from_json_dir(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-based stand-in for the Kafka source: each line is one JSON
    trade message (exactly the wire format). Used by tests and local
    runs; the Kafka reader in ``streaming/kafka_io.py`` yields the same
    schema, so downstream plans are source-agnostic."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return parse_wire(reader.load(path))


def to_wire_json(trades: DataFrame) -> DataFrame:
    """SRC2 payload shape: one JSON object per row (producer.py:136).

    Explicit microsecond timestampFormat — to_json's default emits
    millisecond precision, which would silently truncate event times on
    the roundtrip (the reference's ``isoformat()`` keeps full precision).
    """
    return trades.select(
        F.to_json(
            F.struct(*trades.columns),
            {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"},
        ).alias("value")
    )
