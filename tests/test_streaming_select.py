"""Streaming twins of the selection family (quota / token budget) —
scripted micro-batch parity mirroring the span-dedup twin's test shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from bistro_spark.caching import pinned_ids
from bistro_spark.streaming.select import (
    StreamingQuotaSelector,
    StreamingTokenBudgetSelector,
)


def _doc_batches(spark):
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "source", "n_chars", "text")
    )
    return docs, [docs.filter(f"doc_id % 3 = {i}") for i in range(3)]


def test_streaming_quota_matches_batch_over_full_history(spark):
    """Quota is anti-monotone (a row outside the top-n never re-enters),
    so pool∪delta re-selection equals the batch op over EVERYTHING seen."""
    from bistro_spark.operators.curation import quota_per_group

    docs, batches = _doc_batches(spark)
    sel = StreamingQuotaSelector(
        spark, group_col="source", order_col="n_chars", n=5
    )
    seen = None
    for b in batches:
        got = sorted(tuple(r) for r in sel.process_batch(b).collect())
        seen = b if seen is None else seen.unionByName(b)
        want = sorted(
            tuple(r)
            for r in quota_per_group(
                seen, group_col="source", order_col="n_chars", n=5
            ).collect()
        )
        assert got == want
    # the pool is cap-bounded: at most n rows per group
    per_group = sel.pool().groupBy("source").count().collect()
    assert all(r["count"] <= 5 for r in per_group) and per_group


def test_streaming_token_budget_parity_with_retained_view(spark):
    """Budget twin: per trigger, output == batch op over (pool ∪ delta) —
    the retained-view contract (reservoir semantics)."""
    from bistro_spark.operators.curation import token_budget_select

    docs, batches = _doc_batches(spark)
    sel = StreamingTokenBudgetSelector(
        spark, group_col="source", order_col="n_chars", budget=2000
    )
    pool = None
    for b in batches:
        got = sorted(tuple(r) for r in sel.process_batch(b).collect())
        cands = b if pool is None else pool.unionByName(b)
        want_df = token_budget_select(
            cands, group_col="source", order_col="n_chars", budget=2000
        )
        want = sorted(tuple(r) for r in want_df.collect())
        assert got == want
        pool = want_df.drop("n_tok", "cum_tok").localCheckpoint(eager=True)
    # budget respected in the final pool
    tot = (
        sel.process_batch(batches[0].limit(0))
        .groupBy("source")
        .agg(F.max("cum_tok").alias("m"))
        .collect()
    )
    assert all(r["m"] <= 2000 for r in tot) and tot


def test_streaming_budget_reservoir_divergence_example(spark):
    """The documented divergence: a rejected row's tokens stop counting.
    budget 10: A(order 5, 8 tok) kept, B(order 4, 8 tok) rejected; C(order
    3, 1 tok) arriving later IS kept under reservoir semantics while a
    full-history recompute would reject it."""
    from bistro_spark.operators.curation import token_budget_select

    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        [(i, o, " ".join(["w"] * t)) for i, o, t in rows],
        ["doc_id", "rank_score", "text"],
    ).withColumn("grp", F.lit("g"))
    sel = StreamingTokenBudgetSelector(
        spark, group_col="grp", order_col="rank_score", budget=10
    )
    out1 = sel.process_batch(mk([(1, 5, 8), (2, 4, 8)]))
    assert [r.doc_id for r in out1.collect()] == [1]
    out2 = {r.doc_id for r in sel.process_batch(mk([(3, 3, 1)])).collect()}
    assert out2 == {1, 3}  # C kept: B's tokens are gone with B
    full = token_budget_select(
        mk([(1, 5, 8), (2, 4, 8), (3, 3, 1)]),
        group_col="grp",
        order_col="rank_score",
        budget=10,
    )
    assert {r.doc_id for r in full.collect()} == {1}  # full history differs


def test_streaming_selectors_state_pins_bounded(spark):
    """Each trigger swaps the single pool checkpoint — no per-batch leak."""
    docs, batches = _doc_batches(spark)
    sel = StreamingQuotaSelector(
        spark, group_col="source", order_col="n_chars", n=3
    )
    base = pinned_ids(spark)
    sizes = []
    for b in batches:
        sel.process_batch(b).count()
        sizes.append(len(pinned_ids(spark) - base))
    assert max(sizes) == sizes[0]
    sel.close()
    assert pinned_ids(spark) - base == set()


# ------------------------------------------------------- skyline twin ----
def test_streaming_skyline_exact_full_history_parity(spark):
    """sky(A∪B) = sky(sky(A)∪B): per trigger the twin's output equals
    the batch skyline over EVERYTHING ever seen, and the retained state
    is the frontier itself (one point per distinct surviving x, plus
    exact ties) — never stream-sized."""
    import random

    from bistro_spark.operators.curation import pareto_frontier
    from bistro_spark.streaming.select import StreamingSkylineSelector

    rng = random.Random(41)
    pts = [(i, rng.randrange(15), rng.randrange(15)) for i in range(150)]
    pts += [(900, 14, 14), (901, 14, 14)]  # exact-tie pair: both survive
    batches = [pts[i::4] for i in range(4)]
    sel = StreamingSkylineSelector(spark, id_col="doc_id")
    seen = []
    for b in batches:
        bdf = spark.createDataFrame(b, ["doc_id", "x", "y"])
        got = sorted(tuple(r) for r in sel.process_batch(bdf).collect())
        seen += b
        want = sorted(
            tuple(r)
            for r in pareto_frontier(
                spark.createDataFrame(seen, ["doc_id", "x", "y"]),
                id_col="doc_id",
                x=F.col("x"),
                y=F.col("y"),
            ).collect()
        )
        assert got == want
    # both members of the exact (14,14) tie are on the final frontier
    final = {tuple(r) for r in sel.pool().collect()}
    assert (900, 14, 14) in final and (901, 14, 14) in final
    # frontier-sized state: strictly fewer rows than points seen, and at
    # most (#distinct x) + (#tie duplicates)
    assert len(final) < len(seen)
    xs = {x for _, x, _ in final}
    # one survivor per distinct x plus exact (x, y)-tie multiplicity
    from collections import Counter

    mult = Counter((x, y) for _, x, y in seen)
    extra_ties = sum(mult[(x, y)] - 1 for (x, y) in {(x, y) for _, x, y in final})
    assert len(final) == len(xs) + extra_ties


def test_streaming_skyline_releases_previous_pool_pins(spark):
    """The twin holds exactly one pinned frontier checkpoint across
    triggers (pool swap releases the predecessor)."""
    from bistro_spark.streaming.select import StreamingSkylineSelector

    sel = StreamingSkylineSelector(spark, id_col="doc_id")
    before = set(pinned_ids(spark))
    for i in range(3):
        bdf = spark.createDataFrame(
            [(10 * i + j, j, 10 - j) for j in range(5)],
            ["doc_id", "x", "y"],
        )
        sel.process_batch(bdf).collect()
    leaked = set(pinned_ids(spark)) - before
    assert len(leaked) == len(sel.owned_ids)
    sel.close()
    assert set(pinned_ids(spark)) - before == set()


# ------------------------------------------- calibration-map monitor ----
def test_streaming_calibration_exact_full_history_parity(spark):
    """Counts are additive, so the emitted midrank map equals the batch
    map over the union of all deltas at EVERY trigger; state stays
    level-set-sized and the pin chain holds exactly one grid."""
    from bistro_spark.operators.curation import (
        calibration_map_from_counts,
        signal_counts,
    )
    from bistro_spark.streaming.select import StreamingCalibrationMonitor

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "source", "n_chars")
    batches = [docs.filter(f"doc_id % 3 = {i}") for i in range(3)]
    mon = StreamingCalibrationMonitor(spark)
    before = set(pinned_ids(spark))
    seen = None
    for b in batches:
        got = sorted(tuple(r) for r in mon.process_batch(b).collect())
        seen = b if seen is None else seen.unionByName(b)
        sig = seen.select(
            "source", F.col("n_chars").cast("long").alias("v")
        )
        want = sorted(
            tuple(r)
            for r in calibration_map_from_counts(
                signal_counts(sig)
            ).collect()
        )
        assert got == want
    n_levels = (
        seen.select("source", "n_chars").distinct().count()
    )
    assert mon.state_rows() == n_levels
    assert len(set(pinned_ids(spark)) - before) == len(mon.owned_ids)
    mon.close()
    assert set(pinned_ids(spark)) - before == set()
