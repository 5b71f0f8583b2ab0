"""Streaming near-dup document filter: the LLM-ingest shape where a
document stream (crawl, upload feed) must drop exact and near
duplicates ONLINE, before they reach storage — not in a nightly batch.

Built from the same per-row expressions as the batch dedup operators
(``md5(text)`` exact key, ``operators.dedup.simhash16`` near key), so
batch and stream agree by construction; state is the engine-managed
dedup store of ``dropDuplicatesWithinWatermark`` — bounded by the
watermark, evicted automatically, sized O(distinct keys in window)
regardless of stream length. (A plain ``dropDuplicates([key])`` would
grow state forever: a key subset without the event-time column never
evicts.)

At scale: state lives in the configured state store (RocksDB toggle in
session.py terms), partitioned by key hash across executors; the
filter itself is one stateful exchange, no joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_streaming_system_with_apache_kafka_spark.operators.curation import (
    gopher_rule_columns,
)
from real_time_streaming_system_with_apache_kafka_spark.operators.dedup import simhash16
from real_time_streaming_system_with_apache_kafka_spark.streaming.ingest import (
    _ensure_watermark,
)

DOC_WIRE_SCHEMA = "doc_id long, text string, ingest_ts timestamp"
# Dedup horizon on ``ingest_ts``: a re-submission within it is dropped.
DOC_WATERMARK = "10 minutes"


def read_document_stream_from_json_dir(spark: SparkSession, path: str) -> DataFrame:
    """File-source twin of a Kafka document feed: one JSON object per
    line with (doc_id, text, ingest_ts)."""
    raw = spark.readStream.text(path)
    parsed = raw.select(
        F.from_json(F.col("value"), DOC_WIRE_SCHEMA).alias("d")
    ).select("d.*")
    # Per-record error skip (SNK3 shape): malformed lines decode to all
    # nulls; a document without id or text is unusable either way.
    return parsed.filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
        & F.col("ingest_ts").isNotNull()
    )


def filter_exact_duplicates(docs: DataFrame) -> DataFrame:
    """Online exact dedup: first arrival per content digest survives;
    re-submissions within the watermark horizon are dropped, state for
    older digests is evicted."""
    hashed = docs.withColumn("content_hash", F.md5("text"))
    return (
        _ensure_watermark(hashed, "ingest_ts", DOC_WATERMARK)
        .dropDuplicatesWithinWatermark(["content_hash"])
        .drop("content_hash")
    )


def filter_near_duplicates(docs: DataFrame) -> DataFrame:
    """Online near-dup filter: first arrival per 16-bit SimHash bucket
    survives. Coarser than the batch MinHash pipeline by design — the
    streaming pass is the cheap gate; the batch CC/survivor pass is
    the authoritative one (same split the reference draws between
    consumer-side PK dedup and offline reconciliation)."""
    return _ensure_watermark(
        docs.withColumn("simhash", simhash16(F.col("text"))), "ingest_ts", DOC_WATERMARK
    ).dropDuplicatesWithinWatermark(["simhash"])


def gate_quality(docs: DataFrame) -> DataFrame:
    """Online quality gate: the SAME six Gopher-rule expressions as the
    batch ``quality_gopher_gates`` (shared via
    ``curation.gopher_rule_columns`` — stream and batch agree by
    construction), applied as a stateless filter on the document
    stream. Chain BEFORE the dedup filters: rejecting junk first keeps
    it out of the dedup state store entirely."""
    return docs.filter(gopher_rule_columns()["keep"])
