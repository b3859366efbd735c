"""Streaming ingest-pipeline twin: batching-invariance parity (k
batches == one batch over the union), the documented source-attribution
divergence under out-of-id-order duplicate arrival, state/pin
lifecycle."""

from __future__ import annotations

from pyspark.sql import functions as F

from bistro_spark.caching import pinned_ids
from bistro_spark.streaming.ingest import StreamingIngestPipeline


def _corpus(spark):
    """sf0.001 docs with synthetic PII and id-ordered batching; dup
    injection (+100000, synth keyed mod 100000) arrives LAST — so
    first-arrival == min-id and batch parity is exact."""
    from bistro_spark.operators.text import synth_pii

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    dups = base.filter("doc_id < 10").withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    return base.unionByName(dups).select(
        "doc_id",
        "source",
        synth_pii(F.col("doc_id") % 100000, "text").alias("text"),
    )


def _report(df):
    return sorted(tuple(r) for r in df.collect())


def test_streaming_ingest_batching_invariance_parity(spark):
    docs = _corpus(spark)
    cuts = [(0, 160), (160, 400), (400, 200000)]  # id-ordered batches
    pipe = StreamingIngestPipeline(spark)
    last = None
    for lo, hi in cuts:
        last = pipe.process_batch(
            docs.filter(f"doc_id >= {lo} AND doc_id < {hi}")
        )
        last.count()
    got = _report(last)
    # reference: the same pipeline fed EVERYTHING in one batch
    ref = StreamingIngestPipeline(spark)
    want = _report(ref.process_batch(docs))
    assert got == want
    # gates dropped something and dedup collapsed the injected copies
    n_in = docs.count()
    kept = sum(r[1] for r in got)
    assert 0 < kept < n_in - 9  # at least the 10 dups collapsed
    pipe.close()
    ref.close()


def test_streaming_ingest_source_attribution_divergence(spark):
    """Same text from two sources, smaller id arriving LATER: the twin
    credits the first arrival's source; a batch (min-id) run credits
    the other — the documented reservoir-style divergence."""
    text = "the word " * 30  # passes both gates, no PII
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, ["doc_id", "source", "text"]
    )
    pipe = StreamingIngestPipeline(spark)
    pipe.process_batch(mk([(10, "s_late", text)])).count()
    out = {
        r["source"]: r["n_docs"]
        for r in pipe.process_batch(mk([(1, "s_early", text)])).collect()
    }
    assert out == {"s_late": 1}  # first arrival retained
    batch = StreamingIngestPipeline(spark)
    one = {
        r["source"]: r["n_docs"]
        for r in batch.process_batch(
            mk([(10, "s_late", text), (1, "s_early", text)])
        ).collect()
    }
    assert one == {"s_early": 1}  # min-id wins in one batch
    pipe.close()
    batch.close()


def test_streaming_ingest_state_and_pin_lifecycle(spark):
    docs = _corpus(spark)
    pipe = StreamingIngestPipeline(spark)
    before = set(pinned_ids(spark))
    for i in range(2):
        pipe.process_batch(docs.filter(f"doc_id % 2 = {i}")).count()
        assert len(set(pinned_ids(spark)) - before) == len(pipe.owned_ids)
    # the store holds one fingerprint per retained distinct text
    assert pipe.store_rows() == sum(
        r["n_docs"] for r in pipe._grid.collect()
    )
    pipe.close()
    assert set(pinned_ids(spark)) - before == set()
