"""StreamingMixtureScheduler: EXACT any-order full-history parity with
batch mixture_schedule at every trigger, kill/resume, and state bounds."""

from __future__ import annotations

from bistro_spark.operators.curation import mixture_schedule
from bistro_spark.streaming.mixture import StreamingMixtureScheduler

STEPS, BATCH = 7, 100


def _rows(n=120):
    srcs = ["web", "code", "books", "wiki"]
    return [(i, srcs[(i * 7) % 15 % 4]) for i in range(n)]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string")


def _grid(df):
    return sorted(
        tuple(r)
        for r in mixture_schedule(
            df, n_steps=STEPS, batch_size=BATCH
        ).collect()
    )


def test_any_order_parity_every_trigger(spark):
    rows = _rows()
    orders = [rows, sorted(rows, key=lambda r: (r[0] * 7919) % 23)]
    for order in orders:
        sched = StreamingMixtureScheduler(
            spark, n_steps=STEPS, batch_size=BATCH
        )
        cuts = [0, 30, 75, len(order)]
        seen = []
        for lo, hi in zip(cuts, cuts[1:]):
            seen.extend(order[lo:hi])
            sched.process_batch(_df(spark, order[lo:hi]))
            got = sorted(tuple(r) for r in sched.schedule().collect())
            assert got == _grid(_df(spark, seen))


def test_kill_resume_parity(spark):
    rows = _rows()
    full = StreamingMixtureScheduler(spark, n_steps=STEPS, batch_size=BATCH)
    full.process_batch(_df(spark, rows[:50]))
    snap = full.state_snapshot()
    full.process_batch(_df(spark, rows[50:]))

    fresh = StreamingMixtureScheduler(spark, n_steps=STEPS, batch_size=BATCH)
    fresh.restore_state(snap)
    fresh.process_batch(_df(spark, rows[50:]))
    assert fresh.state_snapshot() == full.state_snapshot()
    assert sorted(map(tuple, fresh.schedule().collect())) == sorted(
        map(tuple, full.schedule().collect())
    )


def test_state_source_bounded_and_guard(spark):
    sched = StreamingMixtureScheduler(spark, n_steps=STEPS, batch_size=BATCH)
    n = sched.process_batch(_df(spark, _rows()))
    assert n == 120
    snap = sched.state_snapshot()
    assert {s for s, _n in snap["rows"]} <= {"web", "code", "books", "wiki"}
    assert sum(n for _s, n in snap["rows"]) == 120
    tiny = StreamingMixtureScheduler(spark, max_sources=1)
    try:
        tiny.process_batch(_df(spark, _rows()))
        raise AssertionError("max_sources guard did not fire")
    except ValueError as e:
        assert "source count" in str(e)
