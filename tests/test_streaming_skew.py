"""StreamingSkewMonitor: EXACT any-order full-history parity with batch
skew_report at every trigger, kill/resume, and key-bounded state."""

from __future__ import annotations

from bistro_spark.skew import skew_report
from bistro_spark.streaming.skew import StreamingSkewMonitor


def _rows():
    rows = []
    rid = 0
    for src, n in (("web", 80), ("code", 40), ("books", 20), ("wiki", 10)):
        for _ in range(n):
            rows.append((rid, src))
            rid += 1
    return rows


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string")


def test_any_order_parity_every_trigger(spark):
    rows = _rows()
    orders = [rows, sorted(rows, key=lambda r: (r[0] * 7919) % 31)]
    for order in orders:
        mon = StreamingSkewMonitor(spark, key_col="source")
        cuts = [0, 40, 100, len(order)]
        seen: list = []
        for lo, hi in zip(cuts, cuts[1:]):
            seen.extend(order[lo:hi])
            mon.process_batch(_df(spark, order[lo:hi]))
            got = sorted(tuple(r) for r in mon.report().collect())
            want = sorted(
                tuple(r)
                for r in skew_report(_df(spark, seen), "source").collect()
            )
            assert got == want


def test_kill_resume_and_state_bounds(spark):
    rows = _rows()
    full = StreamingSkewMonitor(spark, key_col="source")
    full.process_batch(_df(spark, rows[:70]))
    snap = full.state_snapshot()
    full.process_batch(_df(spark, rows[70:]))
    fresh = StreamingSkewMonitor(spark, key_col="source")
    fresh.restore_state(snap)
    fresh.process_batch(_df(spark, rows[70:]))
    assert fresh.state_snapshot() == full.state_snapshot()
    assert len(fresh.state_snapshot()["rows"]) == 4  # keys, not rows
    tiny = StreamingSkewMonitor(spark, key_col="source", max_keys=2)
    try:
        tiny.process_batch(_df(spark, rows))
        raise AssertionError("max_keys guard did not fire")
    except ValueError as e:
        assert "key count" in str(e)
