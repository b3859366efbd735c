"""Streaming twins of the web family: full-history parity of the domain
grid with the batch op in ANY arrival order, the stateless URL gate on a
real stream, and pin lifecycle bounds."""

from __future__ import annotations

import os

from bistro_spark.caching import pinned_ids
from bistro_spark.operators.web import domain_stats, with_normalized_urls
from bistro_spark.streaming.web import StreamingDomainStats, streaming_url_gate

DOCS = "/root/testdata/sf0.001/documents.parquet"


# ----------------------------------------------------------- url gate --


def test_streaming_url_gate_is_stateless_on_a_real_stream(spark, tmp_path):
    """The gate is pure projection: Structured Streaming accepts it with
    no watermark/state, and the committed rows equal the batch op."""
    docs = spark.read.parquet(DOCS).select("doc_id", "source")
    src_dir = str(tmp_path / "src")
    for k in range(3):
        docs.filter(f"doc_id % 3 = {k}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src_dir, f"b{k}"))
    stream = (
        spark.readStream.schema("doc_id long, source string")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src_dir)
    )
    gated = streaming_url_gate(stream)
    assert gated.isStreaming
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        gated.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(out_dir)
        .select("doc_id", "url_norm", "domain")
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in with_normalized_urls(docs)
        .select("doc_id", "url_norm", "domain")
        .collect()
    )
    assert got == want and len(got) == docs.count()


# -------------------------------------------------------- domain grid --


def test_streaming_domain_stats_full_history_parity_any_order(spark):
    """After EVERY trigger the returned grid equals batch domain_stats
    over everything seen — including out-of-id-order arrival (both
    measures are arrival-order-invariant)."""
    docs = spark.read.parquet(DOCS).select("doc_id", "source")
    # deliberately non-monotone batch split (id mod, descending)
    batches = [docs.filter(f"doc_id % 3 = {i}") for i in (2, 0, 1)]
    s = StreamingDomainStats(spark)
    seen = None
    for b in batches:
        got = sorted(tuple(r) for r in s.process_batch(b).collect())
        seen = b if seen is None else seen.unionByName(b)
        want = sorted(tuple(r) for r in domain_stats(seen).collect())
        assert got == want
    s.close()


def test_streaming_domain_stats_replayed_url_not_double_counted(spark):
    """A URL seen in an earlier trigger adds docs but never a second
    page: n_pages stays flat, n_docs and dup_ratio move."""
    docs = spark.read.parquet(DOCS).select("doc_id", "source").limit(40)
    s = StreamingDomainStats(spark)
    first = {r["domain"]: r for r in s.process_batch(docs).collect()}
    second = {r["domain"]: r for r in s.process_batch(docs).collect()}
    assert set(first) == set(second)
    for d in first:
        assert second[d]["n_pages"] == first[d]["n_pages"]
        assert second[d]["n_docs"] == 2 * first[d]["n_docs"]
    s.close()


def test_streaming_domain_stats_pin_lifecycle_bounded(spark):
    docs = spark.read.parquet(DOCS).select("doc_id", "source")
    s = StreamingDomainStats(spark)
    before = set(pinned_ids(spark))
    for i in range(3):
        s.process_batch(docs.filter(f"doc_id % 3 = {i}")).collect()
    # steady state: the two stores + one trigger delta, nothing per-batch
    during = pinned_ids(spark) - before
    assert len(during) <= 4
    s.close()
    assert pinned_ids(spark) <= before

