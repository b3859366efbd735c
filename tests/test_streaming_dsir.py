"""Streaming DSIR — scripted micro-batch parity with the batch op over
full history (additive bucket counts), per-batch tagging semantics, and
the constant state bound."""

from __future__ import annotations

from bistro_spark.streaming.dsir import StreamingDSIR

TARGET = "lang = 'en'"


def _batches(spark):
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text", "lang")
    return [docs.filter(f"doc_id % 3 = {i}") for i in range(3)]


def test_streaming_dsir_rescore_matches_batch_over_full_history(spark):
    from bistro_spark.operators.curation import dsir_logweights

    batches = _batches(spark)
    mon = StreamingDSIR(spark, TARGET)
    union = None
    for b in batches:
        mon.process_batch(b)
        union = b if union is None else union.unionByName(b)
    got = sorted(tuple(r) for r in mon.rescore(union).collect())
    want = sorted(tuple(r) for r in dsir_logweights(union, TARGET).collect())
    assert got == want and len(got) > 0
    assert mon.batches_seen == 3


def test_streaming_dsir_tags_each_batch_with_model_so_far(spark):
    """Per-trigger emission weights ONLY the delta's docs, under the
    cumulative model including that batch — equal to the prefix-batch
    weights restricted to the delta's ids."""
    from bistro_spark.operators.curation import dsir_logweights

    batches = _batches(spark)
    mon = StreamingDSIR(spark, TARGET)
    prefix = None
    for b in batches:
        got = sorted(tuple(r) for r in mon.process_batch(b).collect())
        prefix = b if prefix is None else prefix.unionByName(b)
        ids = {r.doc_id for r in b.select("doc_id").collect()}
        want = sorted(
            tuple(r)
            for r in dsir_logweights(prefix, TARGET).collect()
            if r.doc_id in ids
        )
        assert got == want


def test_streaming_dsir_state_is_bucket_bounded(spark):
    batches = _batches(spark)
    mon = StreamingDSIR(spark, TARGET, n_buckets=32)
    for _ in range(2):
        for b in batches:
            mon.process_batch(b)
    assert mon.state_size() == 64
    assert len(mon.state_snapshot()["rows"]) <= 32  # keys never outgrow B
