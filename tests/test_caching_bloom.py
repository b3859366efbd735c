"""Round-4 directives: pinned-storage lifecycle (caching.py), the bloom
build/probe operator, the bloom-pruned incremental span dedup, the
pack_sequences shard guard, and the gated encode_tokens broadcast."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bistro_spark.caching import pin, pin_scope, pinned_ids, release


# ------------------------------------------------------ caching lifecycle --


def test_pin_scope_releases_local_checkpoints(spark):
    base = pinned_ids(spark)
    with pin_scope(spark):
        df = spark.range(1000).localCheckpoint(eager=True)
        assert df.count() == 1000
        assert pinned_ids(spark) - base  # something got pinned
    assert pinned_ids(spark) - base == set()  # ...and released on exit


def test_pin_keep_survives_scope_and_explicit_release(spark):
    base = pinned_ids(spark)
    with pin_scope(spark):
        kept, ids = pin(spark.range(100), keep=True)
        assert kept.count() == 100
    # keep-pinned blocks survive the scope (shared cross-query cache)
    assert ids <= pinned_ids(spark)
    assert kept.count() == 100  # still readable
    assert release(spark, ids) == len(ids)
    assert pinned_ids(spark) - base == set()


def test_connected_components_holds_at_most_two_rounds(spark):
    """The CC loop frees each round's checkpoint once the next round is
    materialized — a 64-node path graph runs ~12 rounds but must finish
    with exactly one round pinned (the returned star forest)."""
    from bistro_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], ["id_a", "id_b"]
    )
    nodes = spark.range(64)
    base = pinned_ids(spark)
    with pin_scope(spark):
        labels = connected_components(edges, nodes)
        assert labels.filter(F.col("component") != 0).count() == 0
        leftover = pinned_ids(spark) - base
        # initial edge pin was freed round 1; rounds freed pairwise — only
        # the final round's blocks remain while the result is consumed
        assert len(leftover) <= 1
    assert pinned_ids(spark) - base == set()


def test_dedup_assignment_release_hook(spark, sf_dir):
    import __spark_entry__ as ent

    ent.release_dedup_assignments()  # isolate from other tests' memo
    base = pinned_ids(spark)
    with pin_scope(spark):
        ent._dedup_assignments(spark, sf_dir).count()
    kept = pinned_ids(spark) - base
    assert kept  # keep-pinned: survives the scope for the second consumer
    assert ent.release_dedup_assignments() == len(kept)
    assert pinned_ids(spark) - base == set()
    # memo dropped: a later call recomputes instead of reading dead blocks
    with pin_scope(spark):
        assert ent._dedup_assignments(spark, sf_dir).count() > 0
    ent.release_dedup_assignments()


def test_streaming_state_pins_bounded_over_batches(spark):
    """IncrementalRunner re-pins state per batch; old blocks must be freed
    (a long-running stream would otherwise leak one checkpoint/batch):
    once the window has filled (batch 2), the pin count stays flat."""
    from bistro_spark.streaming.incremental import AggSpec, IncrementalRunner

    runner = IncrementalRunner(
        spark,
        prepare=lambda df: df,
        group_keys=["k"],
        aggs=[AggSpec("s", "sum(v)", "sum", invertible=True)],
        retention_count=10,
        order_col="ofs",
    )
    base = pinned_ids(spark)
    sizes = []
    for b in range(10):
        batch = spark.createDataFrame(
            [(i % 3, i + 100 * b, b * 5 + i) for i in range(5)],
            ["k", "v", "ofs"],
        )
        runner.add_batch(batch)
        sizes.append(len(pinned_ids(spark) - base))
    assert sizes[1:] == [sizes[1]] * (len(sizes) - 1), sizes  # no growth
    runner.close()


# ----------------------------------------------------------- bloom filter --


def test_bloom_no_false_negatives_and_some_rejection(spark):
    from bistro_spark.operators.bloom import build_bloom, might_contain

    present = spark.range(500).select(
        F.concat(F.lit("key_"), F.col("id")).alias("k")
    )
    bloom = build_bloom(present, "k", m_bits=1 << 16, k=5)
    probe = spark.range(1000).select(
        F.concat(F.lit("key_"), F.col("id")).alias("k")
    )
    got = {
        r["k"]: r["mc"]
        for r in probe.select(
            "k", might_contain(probe, "k", bloom).alias("mc")
        ).collect()
    }
    # every present key tests True (the bloom guarantee)
    assert all(got[f"key_{i}"] for i in range(500))
    # 2^16 bits over 500 keys: absent keys overwhelmingly rejected
    absent_hits = sum(got[f"key_{i}"] for i in range(500, 1000))
    assert absent_hits < 25


def test_bloom_empty_build_rejects_everything(spark):
    from bistro_spark.operators.bloom import build_bloom, might_contain

    empty = spark.range(0).select(F.col("id").cast("string").alias("k"))
    bloom = build_bloom(empty, "k", m_bits=1 << 10)
    probe = spark.range(50).select(F.col("id").cast("string").alias("k"))
    assert (
        probe.filter(might_contain(probe, "k", bloom)).count() == 0
    )


def test_bloom_requires_power_of_two_bits(spark):
    from bistro_spark.operators.bloom import build_bloom

    with pytest.raises(ValueError, match="power of two"):
        build_bloom(spark.range(1).selectExpr("string(id) k"), "k", m_bits=1000)


def test_incremental_span_dedup_bloom_parity(spark):
    """Bloom pruning has no false negatives ⇒ output identical to the
    unpruned join, even with a deliberately tiny (collision-heavy) filter."""
    from bistro_spark.operators.dedup import incremental_span_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    new, old = docs.filter("doc_id % 2 = 1"), docs.filter("doc_id % 2 = 0")
    kw = dict(size=8, threshold=0.5)
    plain = sorted(
        tuple(r)
        for r in incremental_span_dedup(new, old, bloom_bits=None, **kw).collect()
    )
    for bits in (1 << 10, 1 << 20):  # high-fp and low-fp regimes
        pruned = sorted(
            tuple(r)
            for r in incremental_span_dedup(
                new, old, bloom_bits=bits, **kw
            ).collect()
        )
        assert pruned == plain


def test_incremental_span_dedup_bloom_plan_filters_before_join(spark):
    """Plan shape: the bloom probe filter sits on the new side BEFORE the
    span equi-join — the pruned rows never reach the shuffle."""
    from bistro_spark.operators.dedup import incremental_span_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = incremental_span_dedup(
        docs.filter("doc_id % 2 = 1"),
        docs.filter("doc_id % 2 = 0"),
        size=8,
    )._jdf.queryExecution().executedPlan().toString()
    probe_at = plan.find("bloom_might_contain")
    join_at = plan.find("Join")
    assert probe_at != -1, "bloom probe missing from the executed plan"
    assert join_at != -1
    # tree strings print root-first: a node BELOW the join (= executed
    # before it feeds the join) appears AFTER it in the text. A probe
    # printed above the join would mean filtering after the join ran.
    assert probe_at > join_at, "bloom filter must sit under the span join"


# ------------------------------------------------- pack_sequences guard ----


def test_pack_sequences_shard_guard_raises(spark):
    from bistro_spark.operators.curation import pack_sequences

    df = spark.createDataFrame(
        [(i, 10) for i in range(100)], ["doc_id", "n_words"]
    )
    with pytest.raises(ValueError, match="max_rows_per_shard"):
        pack_sequences(df, n_shards=2, max_rows_per_shard=10).collect()


def test_pack_sequences_auto_shards_match_explicit(spark):
    from bistro_spark.operators.curation import pack_sequences

    df = spark.createDataFrame(
        [(i, (i * 7) % 40 + 1) for i in range(200)], ["doc_id", "n_words"]
    )
    auto = pack_sequences(df, n_shards=None, max_rows_per_shard=50)
    # 200 rows / 50 -> 4 shards: identical packing to the explicit call
    explicit = pack_sequences(df, n_shards=4)
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, explicit.collect())
    )


# ------------------------------------------- encode_tokens broadcast gate --


def test_encode_tokens_gated_broadcast_plans(spark):
    """Under the term bound the vocab join broadcasts; over it the hint is
    withheld so a 10^8-term vocab can't force-OOM executors (AQE picks)."""
    from bistro_spark.operators.ranking import build_vocab, encode_tokens

    docs = spark.createDataFrame(
        [(1, "a b c a"), (2, "b c d")], ["doc_id", "text"]
    )
    vocab = build_vocab(docs)
    with pin_scope(spark):
        small = encode_tokens(docs, vocab)
        plan_small = small._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan_small
        rows_b = sorted(map(tuple, small.collect()))
    with pin_scope(spark):
        big = encode_tokens(docs, vocab, max_broadcast_terms=0)
        # static plan must NOT force a broadcast: a non-broadcast join path
        # exists for an over-threshold vocab (AQE may still upgrade at
        # runtime from observed stats — that's the point of gating)
        plan_big = big._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan_big or "ShuffledHashJoin" in plan_big
        rows_s = sorted(map(tuple, big.collect()))
    assert rows_b == rows_s  # join strategy never changes values


def test_release_new_pins_honors_keep_and_exclude(spark):
    """The selector-pool sweep contract: pins created inside a scope are
    freed EXCEPT keep-pinned shared caches and explicitly-excluded output
    ids (released localCheckpoints cannot be recomputed)."""
    from bistro_spark.caching import (
        pin,
        pinned_ids,
        release,
        release_new_pins,
    )

    before = pinned_ids(spark)
    kept, kept_ids = pin(spark.range(3).toDF("a"), keep=True)
    out, out_ids = pin(spark.range(4).toDF("b"))
    junk, junk_ids = pin(spark.range(5).toDF("c"))
    n = release_new_pins(spark, before, exclude=out_ids)
    now = pinned_ids(spark)
    try:
        assert junk_ids.isdisjoint(now)  # swept
        assert kept_ids <= now  # keep-pinned survives
        assert out_ids <= now  # excluded output survives
        assert kept.count() == 3 and out.count() == 4
        assert n >= len(junk_ids)
    finally:
        release(spark, kept_ids | out_ids)
