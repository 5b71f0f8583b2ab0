"""applyInPandasWithState contract: state carries across micro-batches
and final cumulative totals equal the batch recompute."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_streaming_system_with_apache_kafka_spark import generator
from real_time_streaming_system_with_apache_kafka_spark.streaming import (
    ingest,
    sinks,
    stateful,
)


def test_exposure_tracker_state_across_batches(spark, tmp_path):
    wire = tmp_path / "wire"
    base = generator.trades(spark, 1_000)
    # Two files -> two micro-batches (maxFilesPerTrigger=1).
    ingest.to_wire_json(base).coalesce(2).write.mode("overwrite").text(str(wire))

    stream = ingest.read_trade_stream_from_json_dir(
        spark, str(wire), max_files_per_trigger=1
    )
    tracked = stateful.exposure_tracker(stream, limit=5e8)
    q = sinks.start_memory_sink(tracked, "exposure", output_mode="append")
    q.processAllAvailable()
    q.stop()

    out = spark.sql("SELECT * FROM exposure").collect()
    assert len(out) > 0
    # Per counterparty: the max cum_notional must equal the batch-mode
    # total, and cum_trades must reach the batch-mode count.
    want = {
        r["counterparty"]: (float(r["total"]), r["n"])
        for r in base.groupBy("counterparty")
        .agg(
            F.sum(F.col("notional_value").cast("double")).alias("total"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    got: dict[str, tuple[float, int]] = {}
    emissions: dict[str, int] = {}
    for r in out:
        cp = r["counterparty"]
        emissions[cp] = emissions.get(cp, 0) + 1
        prev = got.get(cp, (0.0, 0))
        got[cp] = (max(prev[0], r["cum_notional"]), max(prev[1], r["cum_trades"]))
    assert set(got) == set(want)
    for cp in want:
        assert got[cp][1] == want[cp][1]
        assert got[cp][0] == pytest.approx(want[cp][0], rel=1e-9)
    # State actually persisted across batches: at least one counterparty
    # emitted more than once (8 counterparties, 2 batches of 500).
    assert max(emissions.values()) == 2


def test_token_budget_gate_state_across_batches(spark, tmp_path):
    """The streaming budget gate must admit greedily in doc_id order
    WITHIN a batch and carry the admitted-token state ACROSS batches:
    the union of admissions equals the single-pass greedy prefix over
    the same arrival order."""
    import json

    from real_time_streaming_system_with_apache_kafka_spark.streaming import budget

    docs = [  # (doc_id, lang, n_tokens) — en budget crosses in batch 2
        (1, "en", 900), (2, "en", 900), (3, "de", 400),
        (10, "en", 900), (11, "en", 900), (12, "de", 400),
    ]
    d = tmp_path / "docs"
    d.mkdir()
    # Two files -> two deterministic micro-batches (doc_id <10 first).
    import os as _os
    import time as _time

    now = _time.time()
    for i, batch in enumerate((docs[:3], docs[3:])):
        f = d / f"b{i}.json"
        f.write_text(
            "\n".join(
                json.dumps({"doc_id": i_, "lang": l, "n_tokens": n})
                for i_, l, n in batch
            )
            + "\n"
        )
        # The file source orders micro-batches by modification time;
        # pin distinct mtimes so batch 0 is deterministically first.
        _os.utime(f, (now - 100 + i * 50, now - 100 + i * 50))
    stream = (
        spark.readStream.schema("doc_id long, lang string, n_tokens int")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    gated = budget.token_budget_gate(stream, budget=2_500)
    from real_time_streaming_system_with_apache_kafka_spark.streaming import sinks

    q = sinks.start_memory_sink(gated, "budget_gate", output_mode="append")
    q.processAllAvailable()
    q.stop()
    got = {
        r.doc_id: (r.lang, r.n_tokens, r.tokens_before)
        for r in spark.sql("SELECT * FROM budget_gate").collect()
    }
    # en: 900+900 in batch1 (before=0,900); batch2 admits doc 10 at
    # before=1800 (crossing doc admitted: 1800 < 2500) and REJECTS doc
    # 11 (before=2700 >= 2500). de admits everything (800 << 2500).
    assert got == {
        1: ("en", 900, 0),
        2: ("en", 900, 900),
        10: ("en", 900, 1800),
        3: ("de", 400, 0),
        12: ("de", 400, 400),
    }
