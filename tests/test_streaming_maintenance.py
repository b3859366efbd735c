"""StreamingCompactionMonitor: file_id-monotone parity with batch
compaction_plan/report at every trigger, out-of-order divergence
counter-example, kill/resume parity, and state/pin bounds."""

from __future__ import annotations

from bistro_spark.caching import pinned_ids
from bistro_spark.operators.maintenance import compaction_plan, compaction_report
from bistro_spark.streaming.maintenance import StreamingCompactionMonitor

TGT = 200


def _manifest():
    rows = []
    for p in ("a", "b", "c"):
        for i in range(30):
            rows.append((p, i, 10 + (i * 37 + ord(p)) % 150))
    rows.append(("a", 40, 900))  # oversize singleton
    return rows


def _df(spark, rows):
    return spark.createDataFrame(rows, "part string, file_id long, bytes long")


def test_monotone_parity_plan_and_report(spark):
    rows = sorted(_manifest(), key=lambda r: (r[1], r[0]))
    cuts = [0, 25, 55, len(rows)]
    mon = StreamingCompactionMonitor(spark, target_bytes=TGT)
    got_plan = []
    seen: list = []
    for lo, hi in zip(cuts, cuts[1:]):
        batch = rows[lo:hi]
        seen.extend(batch)
        got_plan.extend(
            tuple(r) for r in mon.process_batch(_df(spark, batch)).collect()
        )
        # report parity at EVERY trigger
        got_rep = sorted(tuple(r) for r in mon.report().collect())
        want_rep = sorted(
            tuple(r)
            for r in compaction_report(
                _df(spark, seen), partition_col="part", target_bytes=TGT
            ).collect()
        )
        assert got_rep == want_rep
    want_plan = sorted(
        tuple(r)
        for r in compaction_plan(
            _df(spark, rows), partition_col="part", target_bytes=TGT
        ).collect()
    )
    assert sorted(got_plan) == want_plan


def test_out_of_order_divergence_pinned(spark):
    """A late-arriving smaller file_id would have folded earlier in the
    batch plan — the monitor cannot reopen an emitted group, so the
    assignments legitimately diverge (the documented contract)."""
    rows = [("a", i, 120) for i in range(4)]
    mon = StreamingCompactionMonitor(spark, target_bytes=TGT)
    mon.process_batch(_df(spark, [rows[2], rows[3]])).collect()
    got = sorted(
        tuple(r)
        for r in mon.process_batch(_df(spark, [rows[0], rows[1]])).collect()
    )
    batch = {
        (r["file_id"]): (r["group_id"], r["group_offset"])
        for r in compaction_plan(
            _df(spark, rows), partition_col="part", target_bytes=TGT
        ).collect()
    }
    # batch folds ids 0..3 in order: groups (0,0),(0,?) pairwise by fill;
    # the monitor already placed ids 2,3 first, so ids 0,1 land later
    assert any(
        (r[3], r[4]) != batch[r[1]] for r in got
    ), "late smaller ids must diverge from the batch fold"


def test_kill_resume_parity(spark):
    rows = sorted(_manifest(), key=lambda r: (r[1], r[0]))
    cuts = [0, 40, 70, len(rows)]
    mon = StreamingCompactionMonitor(spark, target_bytes=TGT)
    out_full = []
    snapshots = []
    for lo, hi in zip(cuts, cuts[1:]):
        out_full.extend(
            tuple(r) for r in mon.process_batch(_df(spark, rows[lo:hi])).collect()
        )
        snapshots.append(mon.state_snapshot())
    # "kill" after trigger 1, resume a FRESH monitor from its snapshot
    mon2 = StreamingCompactionMonitor(spark, target_bytes=TGT)
    out_resumed = []
    for lo, hi in zip(cuts, cuts[1:2]):
        out_resumed.extend(
            tuple(r)
            for r in mon2.process_batch(_df(spark, rows[lo:hi])).collect()
        )
    mon3 = StreamingCompactionMonitor(spark, target_bytes=TGT)
    mon3.restore_state(snapshots[0])
    for lo, hi in zip(cuts[1:], cuts[2:]):
        out_resumed.extend(
            tuple(r)
            for r in mon3.process_batch(_df(spark, rows[lo:hi])).collect()
        )
    assert sorted(out_resumed) == sorted(out_full)
    assert mon3.state_snapshot() == snapshots[-1]


def test_state_and_pin_bounds(spark):
    rows = sorted(_manifest(), key=lambda r: (r[1], r[0]))
    before = pinned_ids(spark)
    mon = StreamingCompactionMonitor(spark, target_bytes=TGT)
    mon.process_batch(_df(spark, rows[:40])).collect()
    mon.process_batch(_df(spark, rows[40:])).collect()
    # state: one 5-int row per partition, never manifest-sized
    snap = mon.state_snapshot()
    assert set(snap) == {"a", "b", "c"}
    assert all(len(v) == 5 for v in snap.values())
    # pins: only the live trigger's output stays pinned
    extra = pinned_ids(spark) - before
    assert extra == mon.owned_ids and len(extra) <= 2
    from bistro_spark.caching import release

    release(spark, extra)
