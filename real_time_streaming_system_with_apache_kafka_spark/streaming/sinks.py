"""Streaming sinks (SURVEY.md SNK1/SNK2/§4.2).

The one piece Spark has no built-in for (SURVEY.md §4.2): an idempotent
keyed upsert sink with the reference's ``ON CONFLICT (trade_id) DO
NOTHING`` semantics (consumer.py:78) for stores without transactional
append. Implemented as a ``foreachBatch`` function — plain Python
driving DataFrame ops, no planner surgery.

Preferred path at scale is ``dedup_trades`` + plain append to parquet:
checkpoint + file-sink commit protocol already gives exactly-once, so
the sink needs no key reconciliation at all. The upsert sink exists for
JDBC-style targets and as semantic parity with the reference.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _is_target_absent(exc) -> bool:
    """True only for 'target does not exist yet' AnalysisExceptions.

    A genuine schema/column mismatch on the existing-keys read must NOT
    be treated as first-batch-bootstrap — swallowing it would skip the
    anti-join and reintroduce duplicates on retries.
    """
    cls = None
    for accessor in ("getCondition", "getErrorClass"):  # 4.x name, then legacy
        if hasattr(exc, accessor):
            try:
                cls = getattr(exc, accessor)()
            except Exception:
                cls = None
            break
    if cls is not None:
        return cls in {
            "PATH_NOT_FOUND",
            "TABLE_OR_VIEW_NOT_FOUND",
            "UNABLE_TO_INFER_SCHEMA",  # empty dir created by a racing writer
        }
    # Legacy/uncategorized fallback: match the message shape.
    msg = str(exc)
    return "Path does not exist" in msg or "TABLE_OR_VIEW_NOT_FOUND" in msg


def start_parquet_append(df: DataFrame, path: str, checkpoint: str):
    """SNK1: schema-on-write parquet table with checkpointed
    exactly-once append (replaces CREATE TABLE + row inserts)."""
    return (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def _first_write_wins(
    key_cols: list[str],
    read_target: Callable[[SparkSession], DataFrame],
    append: Callable[[DataFrame], None],
) -> Callable[[DataFrame, int], None]:
    """The reference's ON CONFLICT DO NOTHING, batch-at-a-time: each
    batch is de-duplicated within itself, anti-joined against the keys
    already in the target, and appended. An absent target (first
    batch) skips the anti-join; any other AnalysisException (a schema
    mismatch) re-raises so the checkpoint retries the batch instead of
    appending duplicates. Network and auth errors are not
    AnalysisExceptions and propagate anyway."""

    def upsert(batch: DataFrame, epoch_id: int) -> None:
        from pyspark.errors import AnalysisException

        deduped = batch.dropDuplicates(key_cols)
        try:
            existing = read_target(batch.sparkSession).select(*key_cols)
            deduped = deduped.join(existing, on=key_cols, how="left_anti")
        except AnalysisException as e:
            if not _is_target_absent(e):
                raise
        append(deduped)

    return upsert


def keyed_upsert_foreach_batch(
    target_path: str, key_cols: list[str]
) -> Callable[[DataFrame, int], None]:
    """First-write-wins upsert into a parquet directory.

    For very large targets, key reconciliation belongs in the streaming
    state (``dedup_trades``) where it is O(batch); this sink-side check
    re-reads only the target's key columns (column-pruned scan).
    """
    return _first_write_wins(
        key_cols,
        # Works for any filesystem URI (s3://, hdfs://, file:/ …) — a
        # driver-local os.path probe would silently skip the anti-join
        # everywhere but bare local paths.
        lambda spark: spark.read.parquet(target_path),
        lambda df: df.write.mode("append").parquet(target_path),
    )


def jdbc_upsert_foreach_batch(
    url: str, table: str, key_cols: list[str], properties: dict | None = None
) -> Callable[[DataFrame, int], None]:
    """JDBC twin of the reference's Postgres sink (consumer.py:69-105):
    batch-level first-write-wins against the remote table — read back
    only the key columns, anti-join, append. Requires a JDBC driver jar
    on the classpath; untestable in this environment (no database), but
    it shares its control flow with the parquet upsert.

    True ``ON CONFLICT`` pushdown would need database-specific SQL in a
    staging-table dance; prefer ``dedup_trades`` upstream so the sink
    can stay a plain append (SURVEY.md §7.2 ON CONFLICT parity note).
    """
    properties = properties or {}

    def read_target(spark: SparkSession) -> DataFrame:
        return (
            spark.read.format("jdbc")
            .option("url", url)
            .option("dbtable", table)
            .options(**properties)
            .load()
        )

    def append(df: DataFrame) -> None:
        (
            df.write.format("jdbc")
            .option("url", url)
            .option("dbtable", table)
            .options(**properties)
            .mode("append")
            .save()
        )

    return _first_write_wins(key_cols, read_target, append)


def start_memory_sink(df: DataFrame, name: str, output_mode: str = "append"):
    """Test/debug sink: in-memory table named ``name``."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
