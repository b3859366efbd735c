"""Streaming embedding near-dup linker: delta-restricted exact parity
with the batch op, per-trigger pair attribution, pin lifecycle."""

from __future__ import annotations

from pyspark.sql import functions as F

from bistro_spark.caching import pinned_ids
from bistro_spark.operators.dedup import embedding_neardup_pairs
from bistro_spark.streaming.neardup import StreamingNeardupLinker

EMB = "/root/testdata/sf0.001/embeddings.parquet"
KW = dict(threshold=0.99, n_tables=4, bits_per_table=8)


def _corpus(spark):
    """Embeddings + exact copies of vec_id<15 (ids +100000) so pairs
    exist, copies spread across different micro-batches than their
    originals (id%3 differs: 100000 ≡ 2 mod 3 shifts the residue)."""
    emb = spark.read.parquet(EMB).select("vec_id", "embedding")
    dups = emb.filter("vec_id < 15").withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    return emb.unionByName(dups)


def test_streaming_neardup_delta_restricted_parity(spark):
    corpus = _corpus(spark)
    batches = [corpus.filter(f"vec_id % 3 = {i}") for i in range(3)]
    linker = StreamingNeardupLinker(spark, **KW)
    emitted: set = set()
    seen = None
    for b in batches:
        out = {tuple(r) for r in linker.process_batch(b).collect()}
        new_ids = {r["vec_id"] for r in b.select("vec_id").collect()}
        seen = b if seen is None else seen.unionByName(b)
        want_all = {
            tuple(r)
            for r in embedding_neardup_pairs(seen, **KW).collect()
        }
        # this trigger emits exactly the qualifying pairs touching the
        # delta...
        want_new = {
            p for p in want_all if p[0] in new_ids or p[1] in new_ids
        }
        assert out == want_new
        emitted |= out
        # ...and the union of all emissions tracks the batch op exactly
        assert emitted == want_all
    assert len(emitted) >= 15  # the injected copies all surfaced
    linker.close()


def test_streaming_neardup_state_and_pin_lifecycle(spark):
    corpus = _corpus(spark)
    batches = [corpus.filter(f"vec_id % 2 = {i}") for i in range(2)]
    linker = StreamingNeardupLinker(spark, **KW)
    before = set(pinned_ids(spark))
    n_total = corpus.count()
    for b in batches:
        linker.process_batch(b).collect()
    # store holds n_tables rows per retained vector
    assert linker.store_rows() == 4 * n_total
    # pinned: current store + the last trigger's consumables, nothing else
    assert set(pinned_ids(spark)) - before == linker.owned_ids
    linker.close()
    assert set(pinned_ids(spark)) - before == set()
