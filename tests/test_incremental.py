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
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bistro_spark.caching import pin, pinned_ids, release
from bistro_spark.pipeline import prepare_facts
from bistro_spark.session import local_frame
from bistro_spark.sources.tokens import token_table_fast
from bistro_spark.streaming.incremental import AggSpec, IncrementalRunner, _row_form

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
# the last field is a batch_ofs step under monotone arrival (steps of 0
# give ties) and the batch_ofs itself under overlapping arrival, where the
# batch_ofs ranges of deltas interleave; event_time is t0 + batch_ofs
# seconds
PARITY_ROWS = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.integers(min_value=-50, max_value=50),
        st.integers(min_value=-(10**9), max_value=10**9),
        st.integers(min_value=0, max_value=12),
    ),
    min_size=1,
    max_size=24,
)


def _parity_rows(drawn, arrival):
    t0 = datetime(2024, 1, 1)
    rows, ofs = [], 0
    for src, tok, micros, x in drawn:
        ofs = ofs + x % 3 if arrival == "monotone" else x
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
@given(
    drawn=PARITY_ROWS,
    cuts=st.lists(st.integers(0, 24), max_size=3),
    arrival=st.sampled_from(["monotone", "overlapping"]),
)
# three deltas of five rows: the window is exactly the newest segment
@example(
    drawn=[("a", 1, 1, 1), ("b", 2, -1, 1), ("c", 3, 5, 1)] * 5,
    cuts=[5, 10],
    arrival="monotone",
)
# a delta larger than the window, an empty one, then a delta it straddles
@example(
    drawn=[("a", 1, 7, 1), ("b", -4, 3, 4), ("c", 2, 0, 2)] * 4,
    cuts=[9, 9],
    arrival="monotone",
)
# deltas whose batch_ofs ranges interleave
@example(
    drawn=[("a", 1, 1, 0), ("b", 2, 2, 6), ("c", 3, 3, 12), ("a", 4, 4, 3),
           ("b", 5, 5, 9), ("c", 6, 6, 1)] * 2,
    cuts=[3, 6, 9],
    arrival="overlapping",
)
def test_incremental_retention_parity_property(
    spark, retention, drawn, cuts, arrival
):
    """Random delta splits (a delta may outgrow the window, so its rows
    are added and evicted in one step; deltas may be empty; batch_ofs ties
    straddle the cutoff; under overlapping arrival the deltas' batch_ofs
    ranges interleave), under count and age retention: after EVERY step
    the un-fold result, the recompute result and the batch aggregate over
    the rows retention keeps are equal. Segments are then kept whole,
    evicted whole or split, and the count cutoff comes from segment stats
    or from a top-N query. No helper column leaks into result() or
    window(), and the un-fold DECIMAL state is DECIMAL(38, 6) from step
    1."""
    rows = _parity_rows(drawn, arrival)
    bounds = [0, *sorted(min(c, len(rows)) for c in cuts), len(rows)]
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
            kept = _kept(seen, retention) if seen else []
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
                window = runner.window()
                assert window.schema == frame.schema
                assert sorted(window.collect()) == sorted(kept)
                got = {r["src"]: tuple(r)[1:] for r in res.collect()}
                assert got == _aggregate(kept)
    finally:
        for runner in runners:
            runner.close()


# Spark jobs of one aligned steady-state retention add_batch of the calc →
# link delta below: the delta's pin, then the state pin's one merge_grid
# fold (its shuffle's map stage and the pin)
STEP_JOBS = 3


def test_incremental_retention_step_jobs_and_pins(spark):
    """Pinning a prepared delta runs its one job, none for the dim. One
    aligned steady-state un-fold retention step over a cached delta runs
    at most ``STEP_JOBS`` Spark jobs: the cutoff comes from the segment
    stats, and the oldest segment leaves whole. After each step the
    runner holds one pin per retained segment plus the state, and at
    most one segment more than the window needs."""
    size, n_deltas = 200, 5
    retention = 2 * size
    full = token_table_fast(spark, size * n_deltas).cache()
    full.count()
    deltas = [
        full.filter(
            (F.col("batch_ofs") >= lo) & (F.col("batch_ofs") < lo + size)
        )
        for lo in range(0, size * n_deltas, size)
    ]
    sc = spark.sparkContext
    for i in range(2):  # the first may build the dim's lookup
        group = f"prepare-pin-{i}"
        sc.setJobGroup(group, group)
        _, ids = pin(prepare_facts(spark, deltas[0]))
        sc.setJobGroup("", "")
        release(spark, ids)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1, i
    before = pinned_ids(spark)
    runner = IncrementalRunner(
        spark, lambda b: prepare_facts(spark, b), ["src"], UNFOLD_AGGS,
        retention_count=retention,
    )
    jobs = []
    try:
        for i, delta in enumerate(deltas):
            group = f"retention-step-{i}"
            sc.setJobGroup(group, group)
            runner.add_batch(delta)
            sc.setJobGroup("", "")
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            pinned = pinned_ids(spark) - before
            segments = len(runner._segments)
            assert pinned == runner.owned_ids, i
            assert len(pinned) == segments + 1, i
            assert segments <= -(-retention // size) + 1, i
        # steps 2.. evict; the last two are steady state
        assert max(jobs[-2:]) <= STEP_JOBS, jobs
        runner.close()
        assert pinned_ids(spark) == before
    finally:
        runner.close()
        full.unpersist()


@pytest.mark.parametrize(
    "expr, form",
    [("count(*)", "1"), ("COUNT( 1 )", "1"), ("sum(x)", "x"),
     ("sum(cast(x as decimal(20,6)))", "cast(x as decimal(20,6))"),
     ("sum(a * (b + 1))", "a * (b + 1)"), ("sum(concat(')', x))", "concat(')', x)")],
)
def test_invertible_aggspec_row_form(expr, form):
    """An invertible fold's per-row form, whose sum over a span is the
    fold over it: 1 for a row count, e for sum(e)."""
    assert _row_form(AggSpec("a", expr, "sum", invertible=True)) == form


@pytest.mark.parametrize(
    "expr", ["avg(x)", "sum(distinct x)", "count(x)", "count(distinct x)",
             "sum(a) + sum(b)", "sum(a) - count(*)", "max(x)", "sum()",
             "sum(x) filter (where y)", "2 * sum(x)"],
)
def test_invertible_aggspec_refuses_other_folds(expr):
    """Only count(*), count(1) and sum(e) have a per-row form whose sum
    is the fold; any other invertible spec raises at construction."""
    with pytest.raises(ValueError, match="'a'"):
        AggSpec("a", expr, "sum", invertible=True)
    AggSpec("a", expr, "sum")  # not invertible: recompute folds it


@pytest.mark.parametrize("unfold", [None, False], ids=["unfold", "recompute"])
@pytest.mark.parametrize(
    "retention",
    [{"retention_count": 2}, {"retention_age": "4 seconds"}],
    ids=["count", "age"],
)
def test_incremental_retention_refuses_null_retention_column(
    spark, retention, unfold
):
    """A row whose retention column is NULL can be neither kept nor
    evicted, so a delta holding one is refused with a ValueError naming
    the column, read from the delta pin's own stats: the call leaves the
    result, the owned pins and the session's pins as they were. Later
    deltas fold as if the refused one never came (count: un-fold ==
    recompute == window)."""
    schema = "k string, ofs long, t timestamp"
    t0 = datetime(2024, 1, 1)
    at = lambda ofs: t0 + timedelta(seconds=ofs)
    runner = IncrementalRunner(
        spark, lambda b: b, ["k"],
        [AggSpec("n", "count(*)", "sum", 0, invertible=True)],
        order_col="ofs", time_col="t", unfold=unfold, **retention,
    )
    col = "ofs" if "retention_count" in retention else "t"
    bad = [("a", None, None), ("a", 1, at(1))]
    try:
        with pytest.raises(ValueError, match=f"NULL '{col}'"):
            runner.add_batch(local_frame(spark, bad, schema))
        assert runner.owned_ids == frozenset() and runner.batches_seen == 0
        runner.add_batch(local_frame(spark, [("a", 2, at(2)), ("a", 3, at(3))], schema))
        result = runner.result().collect()
        owned, pinned = runner.owned_ids, pinned_ids(spark)
        with pytest.raises(ValueError, match=f"NULL '{col}'"):
            runner.add_batch(local_frame(spark, bad, schema))
        assert runner.owned_ids == owned and pinned_ids(spark) == pinned
        assert runner.result().collect() == result == [("a", 2)]
        assert runner.window().count() == 2
    finally:
        runner.close()


def test_incremental_retention_compacts_segments(spark):
    """40 one-partition deltas of 10 rows under a 300-row window: the
    segment FIFO is compacted (the adjacent pair with the fewest rows is
    merged) so it never holds more than 2 × cores segments, the window
    never has more partitions than cores, the pins are exactly the
    segments plus the state, and the result is the aggregate of the
    newest 300 rows."""
    n_deltas, size, keep = 40, 10, 300
    cores = spark.sparkContext.defaultParallelism
    aggs = [
        AggSpec("n", "count(*)", "sum", 0, invertible=True),
        AggSpec("s", "sum(batch_ofs)", "sum", 0, invertible=True),
    ]
    runner = IncrementalRunner(
        spark, lambda b: b, ["src"], aggs, retention_count=keep
    )
    before = pinned_ids(spark)
    try:
        for lo in range(0, n_deltas * size, size):
            runner.add_batch(
                spark.range(lo, lo + size, numPartitions=1).select(
                    F.concat(F.lit("s"), F.col("id") % 3).alias("src"),
                    F.col("id").alias("batch_ofs"),
                )
            )
            segments = len(runner._segments)
            pinned = pinned_ids(spark) - before
            assert segments <= 2 * cores, lo
            assert pinned == runner.owned_ids, lo
            assert len(pinned) == segments + 1, lo
            assert runner.window().rdd.getNumPartitions() <= cores, lo
        newest = range(n_deltas * size - keep, n_deltas * size)
        want = {
            f"s{m}": (len(ofs), sum(ofs))
            for m in range(3)
            for ofs in [[o for o in newest if o % 3 == m]]
        }
        got = {r["src"]: (r["n"], r["s"]) for r in runner.result().collect()}
        assert got == want
        assert runner.window().count() == keep
    finally:
        runner.close()



@pytest.mark.parametrize(
    "retention", [{"retention_count": 25}, {"retention_age": "24 seconds"}],
    ids=["count", "age"],
)
def test_incremental_retention_cutoff_stays_out_of_generated_code(
    spark, retention
):
    """Deltas of 10 rows under a window that is not a multiple of 10: every
    evicting step ranks a straddling segment (count) and filters it by a
    new cutoff. The cutoff reaches the filters by reference, not as an
    inlined literal, so once each plan shape has compiled, an evicting
    step compiles nothing (``CodegenMetrics`` counter; an inlined literal
    recompiled 8 stages every evicting step)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    t0 = datetime(2024, 1, 1)
    runner = IncrementalRunner(
        spark, lambda b: b, ["src"], UNFOLD_AGGS, **retention
    )
    compiles = []
    try:
        for lo in range(0, 120, 10):
            delta = [
                ("ab"[o % 2], o, o, t0 + timedelta(seconds=o))
                for o in range(lo, lo + 10)
            ]
            before = metrics.METRIC_COMPILATION_TIME().getCount()
            runner.add_batch(
                local_frame(
                    spark, delta,
                    "src string, n_tok_calc long, batch_ofs long, "
                    "event_time timestamp",
                )
            )
            compiles.append(metrics.METRIC_COMPILATION_TIME().getCount() - before)
        # steps 3.. evict; the first two of them meet their plan shapes
        assert compiles[4:] == [0] * len(compiles[4:]), compiles
        assert runner.window().count() == (
            25 if "retention_count" in retention else 24
        )
    finally:
        runner.close()
