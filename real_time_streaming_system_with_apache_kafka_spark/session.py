"""SparkSession factory.

Local testing runs one JVM with N threads; the configuration is chosen so
the same code is correct on a real multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting) so plans self-correct
  at scale without hand-tuning per dataset,
- shuffle partitions sized to cores locally (a cluster deployment would
  raise this or rely on AQE's initialPartitionNum),
- UTC session timezone so timestamp semantics are engine-independent
  (parity with the DuckDB oracle and any downstream store),
- Arrow enabled for the few pandas-UDF code paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
DRIVER_MEM_CAP_MB = 24 * 1024


def default_driver_memory() -> str:
    """About 60% of the host's MemTotal, capped at 24g (the cap when
    ``/proc/meminfo`` is unreadable)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return f"{DRIVER_MEM_CAP_MB}m"
    return f"{min(DRIVER_MEM_CAP_MB, kb * 6 // 10 // 1024)}m"


def get_session(app_name: str = "rtss_spark", cpus: str | None = None) -> SparkSession:
    """Build (or reuse) the SparkSession with scale-appropriate defaults.

    Cores are ``cpus`` when given, else ``SPARK_GRAFT_CPUS``, else the
    host's CPU count.

    Driver memory is ``SPARK_GRAFT_DRIVER_MEM`` when set, else
    :func:`default_driver_memory` — about 60% of physical memory, capped
    at 24g, so the default never exceeds the machine it runs on.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin_session_defaults(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable defaults to an externally created session.

    The correctness driver passes its own SparkSession; timestamp
    comparisons against the DuckDB oracle require a UTC session timezone,
    and AQE/Arrow are runtime-settable too. Idempotent.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # The events table stores TIMESTAMP(NANOS) which the vectorized
    # parquet reader rejects; read it as long and convert in the loader.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Driver parquet writes timestamps without isAdjustedToUTC metadata;
    # with NTZ inference on, Spark 4 surfaces them as TIMESTAMP_NTZ, which
    # breaks unix_micros/window arithmetic and diverges from the DuckDB
    # oracle's naive-as-UTC reading. Read them as session-tz TIMESTAMP
    # (session tz pinned UTC above) so the wall-clock values are identical
    # and filter pushdown still reaches the scan.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # Timestamp parity is meaningless if the pin silently failed (e.g. a
    # future Spark makes the conf static): fail loudly, not with a
    # hash mismatch three layers up.
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    return spark


def sweep_persisted(spark: SparkSession) -> int:
    """Unpersist every cached/localCheckpointed RDD in the session.

    Public library twin of the sweep bench.py applies between queries
    (VERDICT r8 item 2): a handful of operators eagerly localCheckpoint
    a twice-consumed intermediate whose blocks the RETURNED plan still
    references — those cannot release themselves at operator exit, so a
    long-lived session running many registry calls accumulates pinned
    executor storage and GC pressure (measured r8: curation_funnel
    4.6 s in-session vs 0.88 s isolated on the same host). Call this
    between logical units of work once prior results are consumed.

    Safe at any point where no held DataFrame will be re-collected:
    every registry callable rebuilds its plan from scratch, and the
    statistics memos (BPE merge table, retrieval corpus stats, blocking
    quantizer) hold plain Python data, not DataFrames. NOT safe if you
    still hold an unconsumed checkpointed result — localCheckpoint
    truncates lineage, so its blocks are unrecoverable once released.

    Session-lived model frames (the memoized dup-graph edge set / CC
    labels — see functions/checkpoints.py) are sweep-exempt: freeing a
    memoized checkpoint would leave a stale handle whose next reuse
    FAILS (truncated lineage cannot recompute).

    Returns the number of RDDs unpersisted (async, non-blocking).
    """
    from real_time_streaming_system_with_apache_kafka_spark.functions.checkpoints import (
        protected_rdd_ids,
    )

    keep = protected_rdd_ids()
    n = 0
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        if rdd.id() in keep:
            continue
        rdd.unpersist(False)
        n += 1
    return n
