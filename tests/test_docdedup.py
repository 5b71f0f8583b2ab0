"""Streaming document dedup: online exact + near-dup filtering with
the batch operators as the correctness oracle."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from real_time_streaming_system_with_apache_kafka_spark.operators.dedup import simhash16
from real_time_streaming_system_with_apache_kafka_spark.streaming import docdedup, sinks


@pytest.fixture(scope="module")
def doc_stream_dir(spark, tmp_path_factory):
    """A document feed with exact re-submissions and unrelated docs,
    split across files so the stream sees multiple batches."""
    path = tmp_path_factory.mktemp("docs")
    base = [
        (i, f"document number {i} talks about topic {i % 7} in detail", f"2026-01-05T10:{i % 60:02d}:00")
        for i in range(60)
    ]
    # Exact duplicates: every 5th doc re-submitted a minute later.
    dups = [
        (100 + i, base[i][1], f"2026-01-05T10:{(i % 60) + 1 if (i % 60) < 59 else 59:02d}:30")
        for i in range(0, 60, 5)
    ]
    rows = [json.dumps({"doc_id": d, "text": t, "ingest_ts": ts}) for d, t, ts in base + dups]
    for chunk in range(3):
        with open(path / f"part-{chunk}.json", "w") as f:
            f.write("\n".join(rows[chunk::3]) + "\n")
    return str(path), len(base), len(dups)


def _drain(df, name):
    q = sinks.start_memory_sink(df, name, output_mode="append")
    q.processAllAvailable()
    q.stop()
    return df.sparkSession.sql(f"SELECT * FROM {name}")


def test_streaming_exact_doc_dedup(spark, doc_stream_dir):
    path, n_base, n_dups = doc_stream_dir
    stream = docdedup.read_document_stream_from_json_dir(spark, path)
    out = _drain(docdedup.filter_exact_duplicates(stream), "doc_exact")
    # One survivor per distinct text; all texts distinct within base.
    assert out.count() == n_base
    assert out.select("text").distinct().count() == n_base


def test_streaming_near_dup_matches_batch_buckets(spark, doc_stream_dir):
    path, n_base, n_dups = doc_stream_dir
    stream = docdedup.read_document_stream_from_json_dir(spark, path)
    out = _drain(docdedup.filter_near_duplicates(stream), "doc_near")
    # Batch oracle: number of survivors == number of distinct simhash
    # buckets over the same corpus.
    batch = (
        spark.read.text(path)
        .select(F.from_json("value", docdedup.DOC_WIRE_SCHEMA).alias("d"))
        .select("d.*")
    )
    n_buckets = (
        batch.select(simhash16(F.col("text")).alias("s")).distinct().count()
    )
    assert out.count() == n_buckets
    assert out.select("simhash").distinct().count() == n_buckets


def test_malformed_doc_lines_skipped(spark, tmp_path):
    lines = [
        "not json",
        '{"doc_id": 1}',  # no text
        json.dumps({"doc_id": 2, "text": "ok doc", "ingest_ts": "2026-01-05T10:00:00"}),
    ]
    p = tmp_path / "docs"
    p.mkdir()
    (p / "f.json").write_text("\n".join(lines) + "\n")
    stream = docdedup.read_document_stream_from_json_dir(spark, str(p))
    out = _drain(docdedup.filter_exact_duplicates(stream), "doc_malformed")
    assert out.count() == 1
    assert out.first()["doc_id"] == 2


def test_pagerank_dupgraph_invariants(spark, sf_dir):
    """Scores live in [0.15, n]; high-degree nodes outrank leaf nodes
    on average (centrality signal); deterministic across runs."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import dedup

    rows = dedup.graph_pagerank_dupgraph(spark, sf_dir).collect()
    assert rows, "dup graph must be non-empty on the fixture"
    # Sound lower bound only: every score is at least the 0.15 base.
    # (A per-node upper bound would need the PREVIOUS round's max —
    # not observable from the final output — so none is asserted.)
    import math

    for r in rows:
        assert r["score"] >= 0.15 and math.isfinite(r["score"])
    # Centrality signal: the top-degree half must outrank the
    # bottom-degree half on average.
    by_deg = sorted(rows, key=lambda r: r["n_neighbors"])
    half = len(rows) // 2
    if half >= 1:
        lo = sum(r["score"] for r in by_deg[:half]) / half
        hi = sum(r["score"] for r in by_deg[-half:]) / half
        assert hi >= lo
    # Determinism: bit-identical on a second evaluation.
    again = dedup.graph_pagerank_dupgraph(spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_streaming_quality_gate_matches_batch(spark, sf_smoke, tmp_path):
    """gate_quality on a document stream keeps EXACTLY the docs the
    batch Gopher gate keeps (shared rule expressions — equivalence by
    construction, verified end-to-end through a real file stream)."""
    from real_time_streaming_system_with_apache_kafka_spark.operators.curation import (
        quality_gopher_gates,
    )
    from real_time_streaming_system_with_apache_kafka_spark.sources.tables import load

    docs = load(spark, "documents", sf_smoke).select("doc_id", "text").collect()
    path = tmp_path / "qdocs"
    path.mkdir()
    rows = [
        json.dumps(
            {
                "doc_id": r.doc_id,
                "text": r.text,
                "ingest_ts": f"2026-01-05T10:{r.doc_id % 60:02d}:00",
            }
        )
        for r in docs
    ]
    for chunk in range(2):
        (path / f"part-{chunk}.json").write_text("\n".join(rows[chunk::2]) + "\n")

    stream = docdedup.read_document_stream_from_json_dir(spark, str(path))
    out = _drain(docdedup.gate_quality(stream), "doc_gate")
    got = {r.doc_id for r in out.select("doc_id").collect()}
    want = {
        r.doc_id
        for r in quality_gopher_gates(spark, sf_smoke)
        .filter(F.col("keep"))
        .collect()
    }
    assert got == want
    assert 0 < len(want) < len(docs)  # the gate discriminates


def test_streaming_pipeline_counts_match_batch_funnel(spark, sf_smoke, tmp_path):
    """The online pipeline (quality gate -> exact dedup) yields exactly
    the batch ``curation_funnel`` stage totals: gated-doc count equals
    Σ n_quality and survivor count equals Σ n_unique — the per-source
    batch audit and the streaming path tell one story."""
    from real_time_streaming_system_with_apache_kafka_spark.operators.curation import (
        curation_funnel,
    )
    from real_time_streaming_system_with_apache_kafka_spark.sources.tables import load

    docs = load(spark, "documents", sf_smoke).select("doc_id", "text").collect()
    path = tmp_path / "fdocs"
    path.mkdir()
    rows = [
        json.dumps(
            {
                "doc_id": r.doc_id,
                "text": r.text,
                "ingest_ts": f"2026-01-05T10:{r.doc_id % 60:02d}:00",
            }
        )
        for r in docs
    ]
    for chunk in range(2):
        (path / f"part-{chunk}.json").write_text("\n".join(rows[chunk::2]) + "\n")

    stream = docdedup.read_document_stream_from_json_dir(spark, str(path))
    gated = _drain(docdedup.gate_quality(stream), "funnel_gate")
    deduped = _drain(
        docdedup.filter_exact_duplicates(
            docdedup.gate_quality(
                docdedup.read_document_stream_from_json_dir(spark, str(path))
            )
        ),
        "funnel_dedup",
    )
    funnel = curation_funnel(spark, sf_smoke).collect()
    assert gated.count() == sum(r["n_quality"] for r in funnel)
    assert deduped.count() == sum(r["n_unique"] for r in funnel)
