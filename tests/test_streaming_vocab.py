"""Streaming vocabulary monitor: exact entropy+alpha parity with the
batch ops over the union of all deltas at every trigger; bounded
vocab-sized state; pin lifecycle."""

from __future__ import annotations

from pyspark.sql import functions as F

from bistro_spark.caching import pinned_ids
from bistro_spark.streaming.vocab import StreamingVocabMonitor


def test_streaming_vocab_exact_batch_parity_per_trigger(spark):
    from bistro_spark.operators.olap import token_entropy, zipf_alpha

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "source", "text")
    batches = [docs.filter(f"doc_id % 3 = {i}") for i in range(3)]
    mon = StreamingVocabMonitor(spark)
    seen = None
    for b in batches:
        got = sorted(tuple(r) for r in mon.process_batch(b).collect())
        seen = b if seen is None else seen.unionByName(b)
        ent = {
            r["source"]: r for r in token_entropy(seen).collect()
        }
        alp = {r["source"]: r for r in zipf_alpha(seen).collect()}
        want = sorted(
            (
                g,
                ent[g]["n_terms"],
                ent[g]["n_tokens"],
                ent[g]["entropy"],
                alp[g]["alpha"],
            )
            for g in ent
        )
        assert got == want
    mon.close()


def test_streaming_vocab_state_bound_and_pins(spark):
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "source", "text")
    batches = [docs.filter(f"doc_id % 2 = {i}") for i in range(2)]
    vocab_rows = (
        docs.select(
            "source", F.explode(F.split("text", " ")).alias("t")
        )
        .filter("t != ''")
        .select("source", "t")
        .distinct()
        .count()
    )
    mon = StreamingVocabMonitor(spark)
    before = set(pinned_ids(spark))
    for b in batches:
        mon.process_batch(b).count()
        assert len(set(pinned_ids(spark)) - before) == len(mon.owned_ids)
    assert mon.state_rows() == vocab_rows
    mon.close()
    assert set(pinned_ids(spark)) - before == set()
