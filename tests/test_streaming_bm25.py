"""Streaming BM25 — scripted micro-batch parity with the batch op over
full history (additive sufficient statistics), per-batch tagging
semantics, and the constant state bound."""

from __future__ import annotations

from bistro_spark.streaming.bm25 import StreamingBM25

QUERIES = {0: ["spark", "window"], 1: ["hash", "join", "scan"]}


def _batches(spark):
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    return [docs.filter(f"doc_id % 3 = {i}") for i in range(3)]


def test_streaming_bm25_rescore_matches_batch_over_full_history(spark):
    """After streaming all batches, rescore(union) must equal batch
    bm25_scores(union) EXACTLY — the accumulated integer statistics
    equal the union's statistics, and scoring runs the same plan."""
    from bistro_spark.operators.text import bm25_scores

    batches = _batches(spark)
    mon = StreamingBM25(spark, QUERIES)
    union = None
    for b in batches:
        mon.process_batch(b)
        union = b if union is None else union.unionByName(b)
    got = sorted(tuple(r) for r in mon.rescore(union).collect())
    want = sorted(tuple(r) for r in bm25_scores(union, QUERIES).collect())
    assert got == want and len(got) > 0
    assert mon.batches_seen == 3


def test_streaming_bm25_tags_each_batch_with_stats_so_far(spark):
    """The per-trigger emission scores ONLY the delta's docs, under the
    model of everything seen up to and including that batch — i.e. it
    equals batch bm25 over the prefix, restricted to the delta's ids."""
    from bistro_spark.operators.text import bm25_scores

    batches = _batches(spark)
    mon = StreamingBM25(spark, QUERIES)
    prefix = None
    for b in batches:
        got = sorted(tuple(r) for r in mon.process_batch(b).collect())
        prefix = b if prefix is None else prefix.unionByName(b)
        ids = {r.doc_id for r in b.select("doc_id").collect()}
        want = sorted(
            tuple(r)
            for r in bm25_scores(prefix, QUERIES).collect()
            if r.doc_id in ids
        )
        assert got == want


def test_streaming_bm25_state_is_query_sized(spark):
    batches = _batches(spark)
    mon = StreamingBM25(spark, QUERIES)
    for _ in range(2):
        for b in batches:
            mon.process_batch(b)
    assert mon.state_size() == 2 + 5  # 5 distinct query terms, forever
    assert mon.n_docs == 2 * sum(b.count() for b in batches)


def test_streaming_bm25_empty_batch_is_a_noop(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    mon = StreamingBM25(spark, QUERIES)
    mon.process_batch(docs.limit(50))
    n, s = mon.n_docs, mon.sum_dl
    out = mon.process_batch(docs.filter("doc_id < 0"))
    assert out.count() == 0
    assert (mon.n_docs, mon.sum_dl) == (n, s)


def test_streaming_bm25_rescore_refuses_a_model_of_zero_documents(spark):
    """A scorer before any trigger, and one restored from a zero
    snapshot, hold N = 0: rescore raises ValueError rather than dividing
    Σdl by N inside the engine."""
    import json

    import pytest

    docs = _batches(spark)[0]
    cold = StreamingBM25(spark, QUERIES)
    resumed = StreamingBM25(spark, QUERIES)
    resumed.restore_state(json.loads(json.dumps(cold.state_snapshot())))
    for mon in (cold, resumed):
        assert mon.n_docs == 0
        with pytest.raises(ValueError, match="no rows absorbed yet"):
            mon.rescore(docs)


def test_streaming_bm25_rescore_after_one_batch_is_batch_bm25(spark):
    """One trigger is enough to score: rescore of that batch equals batch
    bm25_scores over it."""
    from bistro_spark.operators.text import bm25_scores

    batch = _batches(spark)[0]
    mon = StreamingBM25(spark, QUERIES)
    mon.process_batch(batch)
    got = sorted(tuple(r) for r in mon.rescore(batch).collect())
    want = sorted(tuple(r) for r in bm25_scores(batch, QUERIES).collect())
    assert got == want and len(got) > 0
