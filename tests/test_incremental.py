"""Incremental (foreachBatch-mode) parity tests — the Bistro Streams action
loop twin (SURVEY.md §7.3): scripted micro-batches, add-only state merge,
count-based FIFO retention (ActionRemove max-length), age-based retention
(ActionRemove max-age). Oracle = recompute over the retained population,
which is exactly the reference's semantics (evaluate reflects current table
contents)."""

from __future__ import annotations

from datetime import datetime, timedelta
from decimal import Decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bistro_spark.caching import pinned_ids
from bistro_spark.pipeline import prepare_facts
from bistro_spark.session import local_frame
from bistro_spark.sources.tokens import token_table_fast
from bistro_spark.streaming.incremental import AggSpec, IncrementalRunner

N = 1000
SPLITS = [100, 400, 50, 450]  # uneven on purpose (FIXTURES.md F3)

AGGS = [
    AggSpec("n_seq", "count(*)", "sum", 0),
    AggSpec("sum_tok", "sum(n_tok_calc)", "sum", 0),
    AggSpec("max_tok", "max(n_tok_calc)", "max", 0),
]


@pytest.fixture(scope="module")
def batches(spark):
    full = token_table_fast(spark, N).cache()
    full.count()
    out, lo = [], 0
    for size in SPLITS:
        out.append(full.filter((F.col("batch_ofs") >= lo) & (F.col("batch_ofs") < lo + size)))
        lo += size
    return full, out


def _res(runner):
    return {r["src"]: r.asDict() for r in runner.result().collect()}


def test_incremental_addonly_equals_batch(spark, batches):
    """Merged per-batch aggregates == one-shot batch aggregation (the
    delta-driven evaluation invariant, Schema.java#evaluate over spans)."""
    full, parts = batches
    runner = IncrementalRunner(
        spark, lambda b: prepare_facts(spark, b), ["src"], AGGS
    )
    for b in parts:
        runner.add_batch(b)
    got = _res(runner)

    oracle = {
        r["src"]: r.asDict()
        for r in prepare_facts(spark, full)
        .groupBy("src")
        .agg(
            F.expr("count(*)").alias("n_seq"),
            F.expr("sum(n_tok_calc)").alias("sum_tok"),
            F.expr("max(n_tok_calc)").alias("max_tok"),
        )
        .collect()
    }
    assert got.keys() == oracle.keys()
    for k in oracle:
        assert got[k] == oracle[k], k


def test_incremental_intermediate_states(spark, batches):
    """State trajectory: after each batch the result equals recomputation
    over the prefix — matching Bistro's evaluate-after-every-add."""
    full, parts = batches
    runner = IncrementalRunner(
        spark, lambda b: prepare_facts(spark, b), ["src"], AGGS
    )
    seen = 0
    for b, size in zip(parts, SPLITS):
        runner.add_batch(b)
        seen += size
        got = _res(runner)
        oracle = {
            r["src"]: r.asDict()
            for r in prepare_facts(
                spark, full.filter(F.col("batch_ofs") < seen)
            )
            .groupBy("src")
            .agg(
                F.expr("count(*)").alias("n_seq"),
                F.expr("sum(n_tok_calc)").alias("sum_tok"),
                F.expr("max(n_tok_calc)").alias("max_tok"),
            )
            .collect()
        }
        assert got == oracle, f"prefix {seen}"


def test_incremental_count_retention(spark, batches):
    """FIFO max-length retention (ActionRemove count variant): state equals
    recompute over the newest 300 rows by arrival order."""
    full, parts = batches
    runner = IncrementalRunner(
        spark,
        lambda b: prepare_facts(spark, b),
        ["src"],
        AGGS,
        retention_count=300,
    )
    for b in parts:
        runner.add_batch(b)
    got = _res(runner)

    oracle = {
        r["src"]: r.asDict()
        for r in prepare_facts(
            spark, full.filter(F.col("batch_ofs") >= N - 300)
        )
        .groupBy("src")
        .agg(
            F.expr("count(*)").alias("n_seq"),
            F.expr("sum(n_tok_calc)").alias("sum_tok"),
            F.expr("max(n_tok_calc)").alias("max_tok"),
        )
        .collect()
    }
    assert got == oracle
    assert runner.window().count() == 300


def test_incremental_age_retention(spark, batches):
    """Age-based retention (ActionRemove max-age / watermark analog):
    rows older than 60 s behind the max event time are evicted.

    event_time = t0 + i*250ms, so 60 s spans the last 240 rows
    (strict > cutoff excludes the row exactly 60 s old)."""
    full, parts = batches
    runner = IncrementalRunner(
        spark,
        lambda b: prepare_facts(spark, b),
        ["src"],
        AGGS,
        retention_age="60 seconds",
    )
    for b in parts:
        runner.add_batch(b)
    got = _res(runner)

    # max event_time at i=999; cutoff excludes rows with i <= 999-240
    oracle = {
        r["src"]: r.asDict()
        for r in prepare_facts(
            spark, full.filter(F.col("batch_ofs") > N - 1 - 240)
        )
        .groupBy("src")
        .agg(
            F.expr("count(*)").alias("n_seq"),
            F.expr("sum(n_tok_calc)").alias("sum_tok"),
            F.expr("max(n_tok_calc)").alias("max_tok"),
        )
        .collect()
    }
    assert got == oracle
    assert runner.window().count() == 240


UNFOLD_AGGS = [
    AggSpec("n_seq", "count(*)", "sum", 0, invertible=True),
    AggSpec("sum_tok", "sum(n_tok_calc)", "sum", 0, invertible=True),
]


@pytest.mark.parametrize(
    "retention", [{"retention_count": 300}, {"retention_age": "60 seconds"}]
)
def test_incremental_unfold_equals_recompute(spark, batches, retention):
    """Eviction un-fold (state += delta partial − evicted partial) must
    match the recompute fallback after EVERY batch of the scripted
    add/evict sequence — the reference's accu shrink-on-remove parity."""
    full, parts = batches
    unfolded = IncrementalRunner(
        spark, lambda b: prepare_facts(spark, b), ["src"], UNFOLD_AGGS,
        **retention,
    )
    recompute = IncrementalRunner(
        spark, lambda b: prepare_facts(spark, b), ["src"], UNFOLD_AGGS,
        unfold=False, **retention,
    )
    assert unfolded._unfold and not recompute._unfold
    for b in parts:
        unfolded.add_batch(b)
        recompute.add_batch(b)
        got = {r["src"]: r.asDict() for r in unfolded.result().collect()}
        want = {r["src"]: r.asDict() for r in recompute.result().collect()}
        assert got == want


def test_incremental_unfold_readout_plan(spark, batches):
    """Per-batch work ∝ delta: the un-fold read-out is a plain state read —
    its physical plan contains NO aggregation over the retained buffer,
    while the recompute fallback's read-out does."""
    full, parts = batches
    unfolded = IncrementalRunner(
        spark, lambda b: prepare_facts(spark, b), ["src"], UNFOLD_AGGS,
        retention_count=300,
    )
    recompute = IncrementalRunner(
        spark, lambda b: prepare_facts(spark, b), ["src"], UNFOLD_AGGS,
        unfold=False, retention_count=300,
    )
    unfolded.add_batch(parts[0])
    recompute.add_batch(parts[0])
    plan_u = unfolded.result()._jdf.queryExecution().executedPlan().toString()
    plan_r = recompute.result()._jdf.queryExecution().executedPlan().toString()
    assert "Aggregate" not in plan_u
    assert "Aggregate" in plan_r


def test_incremental_unfold_prunes_dead_groups(spark):
    """A group whose rows are ALL evicted must leave the un-fold state
    entirely (not persist as a __live_rows == 0 tombstone through every
    merge): state size tracks LIVE keys, not all-time distinct keys."""
    mk = lambda src, lo, n: spark.createDataFrame(
        [(src, 10, i) for i in range(lo, lo + n)],
        "src string, n_tok_calc long, batch_ofs long",
    )
    runner = IncrementalRunner(
        spark, lambda b: b, ["src"], UNFOLD_AGGS, retention_count=10
    )
    assert runner._unfold
    runner.add_batch(mk("a", 0, 5))
    runner.add_batch(mk("b", 5, 5))
    runner.add_batch(mk("b", 10, 5))  # evicts ofs 0-4 → group 'a' dead
    assert {r["src"] for r in runner.result().collect()} == {"b"}
    state_keys = {r["src"] for r in runner._state.collect()}
    assert state_keys == {"b"}, state_keys


def test_incremental_unfold_auto_fallback(spark):
    """max() has no inverse → auto mode must fall back to recompute, and
    forcing unfold=True must be rejected."""
    r = IncrementalRunner(
        spark, lambda b: b, ["src"], AGGS, retention_count=10
    )
    assert not r._unfold
    with pytest.raises(ValueError):
        IncrementalRunner(
            spark, lambda b: b, ["src"], AGGS, retention_count=10, unfold=True
        )


def test_incremental_buffer_partitions_bounded(spark):
    """The retained buffer is coalesced before each pin: over 24 one-
    partition deltas it never holds more partitions than there are cores,
    and the result still equals recompute over the retained rows."""
    n_deltas, size = 24, 10
    full = token_table_fast(spark, n_deltas * size).cache()
    runner = IncrementalRunner(
        spark,
        lambda b: prepare_facts(spark, b),
        ["src"],
        AGGS,
        retention_count=35,
    )
    cores = spark.sparkContext.defaultParallelism
    for i in range(n_deltas):
        lo = i * size
        runner.add_batch(
            full.filter(
                (F.col("batch_ofs") >= lo) & (F.col("batch_ofs") < lo + size)
            ).coalesce(1)
        )
        assert runner.window().rdd.getNumPartitions() <= cores
    oracle = {
        r["src"]: r.asDict()
        for r in prepare_facts(
            spark, full.filter(F.col("batch_ofs") >= n_deltas * size - 35)
        )
        .groupBy("src")
        .agg(
            F.expr("count(*)").alias("n_seq"),
            F.expr("sum(n_tok_calc)").alias("sum_tok"),
            F.expr("max(n_tok_calc)").alias("max_tok"),
        )
        .collect()
    }
    assert _res(runner) == oracle
    full.unpersist()


def test_incremental_addonly_state_types_fixed_from_first_trigger(spark):
    """The add-only state keeps one schema from trigger 1 on: a sum over
    DECIMAL(20, 6) widens to DECIMAL(38, 6) at the first merge, not at the
    second, and BIGINT stays BIGINT."""
    runner = IncrementalRunner(
        spark,
        lambda b: b,
        ["k"],
        [
            AggSpec("n", "count(*)", "sum", 0),
            AggSpec("s", "sum(cast(v as decimal(20,6)))", "sum", 0),
        ],
    )
    schemas = []
    for lo in (0, 10, 20):
        runner.add_batch(
            spark.range(lo, lo + 10).select(
                (F.col("id") % 3).alias("k"), (F.col("id") / 7).alias("v")
            )
        )
        schemas.append(runner.result().schema)
    assert schemas[0] == schemas[1] == schemas[2]
    types = {f.name: f.dataType.simpleString() for f in schemas[0]}
    assert types == {"k": "bigint", "n": "bigint", "s": "decimal(38,6)"}
    runner.close()


# -- retention parity, jobs and pins ------------------------------------------

PARITY_SCHEMA = "src string, tok long, v decimal(20,6), batch_ofs long, event_time timestamp"
PARITY_AGGS = [
    AggSpec("n", "count(*)", "sum", 0, invertible=True),
    AggSpec("s_tok", "sum(tok)", "sum", 0, invertible=True),
    AggSpec("s_v", "sum(v)", "sum", 0, invertible=True),
]
# batch_ofs steps of 0 give ties; event_time is t0 + batch_ofs seconds
PARITY_ROWS = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.integers(min_value=-50, max_value=50),
        st.integers(min_value=-(10**9), max_value=10**9),
        st.integers(min_value=0, max_value=2),
    ),
    min_size=1,
    max_size=24,
)


def _parity_rows(drawn):
    t0 = datetime(2024, 1, 1)
    rows, ofs = [], 0
    for src, tok, micros, step in drawn:
        ofs += step
        v = Decimal(micros).scaleb(-6)
        rows.append((src, tok, v, ofs, t0 + timedelta(seconds=ofs)))
    return rows


def _kept(seen, retention):
    """The rows a FIFO retention keeps out of every row seen so far, in
    arrival order (ties at the cutoff are all kept)."""
    if "retention_count" in retention:
        newest = sorted((r[3] for r in seen), reverse=True)
        cutoff = newest[: retention["retention_count"]][-1]
        return [r for r in seen if r[3] >= cutoff]
    latest = max(r[4] for r in seen)
    return [r for r in seen if r[4] > latest - timedelta(seconds=retention["age_s"])]


def _aggregate(rows):
    out: dict = {}
    for src, tok, v, _, _ in rows:
        n, s_tok, s_v = out.get(src, (0, 0, Decimal(0)))
        out[src] = (n + 1, s_tok + tok, s_v + v)
    return out


@pytest.mark.parametrize(
    "retention", [{"retention_count": 5}, {"age_s": 4}], ids=["count", "age"]
)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(drawn=PARITY_ROWS, data=st.data())
def test_incremental_retention_parity_property(spark, retention, drawn, data):
    """Random delta splits (a delta may outgrow the window, so its rows
    are added and evicted in one step; batch_ofs ties straddle the
    cutoff), under count and age retention: after EVERY step the un-fold
    result, the recompute result and the batch aggregate over the rows
    retention keeps are equal. No helper column leaks into result() or
    window(), and the un-fold DECIMAL state is DECIMAL(38, 6) from step 1."""
    rows = _parity_rows(drawn)
    cuts = sorted(
        data.draw(st.lists(st.integers(0, len(rows)), max_size=3))
    )
    bounds = [0, *cuts, len(rows)]
    deltas = [rows[lo:hi] for lo, hi in zip(bounds, bounds[1:])]
    kwargs = (
        retention
        if "retention_count" in retention
        else {"retention_age": f"{retention['age_s']} seconds"}
    )
    runners = [
        IncrementalRunner(spark, lambda b: b, ["src"], PARITY_AGGS, **kwargs),
        IncrementalRunner(
            spark, lambda b: b, ["src"], PARITY_AGGS, unfold=False, **kwargs
        ),
    ]
    assert runners[0]._unfold and not runners[1]._unfold
    seen = []
    try:
        for delta in deltas:
            seen += delta
            want = _aggregate(_kept(seen, retention)) if seen else {}
            frame = local_frame(spark, delta, PARITY_SCHEMA)
            for runner, s_v in zip(runners, ("decimal(38,6)", "decimal(30,6)")):
                runner.add_batch(frame)
                res = runner.result()
                types = [(f.name, f.dataType.simpleString()) for f in res.schema]
                assert types == [
                    ("src", "string"),
                    ("n", "bigint"),
                    ("s_tok", "bigint"),
                    ("s_v", s_v),
                ]
                assert runner.window().schema == frame.schema
                got = {r["src"]: tuple(r)[1:] for r in res.collect()}
                assert got == want
    finally:
        for runner in runners:
            runner.close()


# Spark jobs one steady-state retention add_batch of the calc →
# broadcast-link delta below ran (4 CPUs) when prepare ran once per
# consumer (cutoff collect, buffer pin, delta partial, evicted partial),
# each consumer paying its own broadcast job
PER_CONSUMER_PREPARE_JOBS = 9


def test_incremental_retention_step_jobs_and_pins(spark):
    """One steady-state un-fold retention step over a cached delta runs at
    least 2 fewer Spark jobs than the ``PER_CONSUMER_PREPARE_JOBS`` it
    ran when each consumer prepared the delta (prepare now runs once, and
    add + evict is one aggregate), and returns holding exactly one buffer
    and one state generation: the delta's pin is gone."""
    size, n_deltas = 200, 5
    full = token_table_fast(spark, size * n_deltas).cache()
    full.count()
    deltas = [
        full.filter(
            (F.col("batch_ofs") >= lo) & (F.col("batch_ofs") < lo + size)
        )
        for lo in range(0, size * n_deltas, size)
    ]
    before = pinned_ids(spark)
    runner = IncrementalRunner(
        spark, lambda b: prepare_facts(spark, b), ["src"], UNFOLD_AGGS,
        retention_count=2 * size,
    )
    sc = spark.sparkContext
    jobs = []
    try:
        for i, delta in enumerate(deltas):
            group = f"retention-step-{i}"
            sc.setJobGroup(group, group)
            runner.add_batch(delta)
            sc.setJobGroup("", "")
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            pinned = pinned_ids(spark) - before
            assert pinned == runner.owned_ids and len(pinned) == 2, i
        # steps 2.. evict; the last two are steady state
        assert max(jobs[-2:]) <= PER_CONSUMER_PREPARE_JOBS - 2, jobs
        runner.close()
        assert pinned_ids(spark) == before
    finally:
        runner.close()
        full.unpersist()
