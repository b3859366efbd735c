"""StreamingQuantileMonitor: EXACT any-order full-history parity with
batch histogram_quantiles at every trigger, kill/resume via a
JSON-round-tripped histogram, domain-bounded state."""

from __future__ import annotations

import json

from bistro_spark.operators.olap import histogram_quantiles
from bistro_spark.streaming.quantiles import StreamingQuantileMonitor

QS = (0.25, 0.5, 0.9, 0.99)


def _rows(n=240):
    return [(i, 1 + (i * 2654435761) % 37) for i in range(n)]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, n_chars long")


def _want(spark, rows):
    return sorted(
        tuple(r)
        for r in histogram_quantiles(_df(spark, rows), quantiles=QS).collect()
    )


def test_any_order_parity_every_trigger(spark):
    rows = _rows()
    orders = [rows, sorted(rows, key=lambda r: (r[0] * 7919) % 41)]
    for order in orders:
        mon = StreamingQuantileMonitor(spark, quantiles=QS)
        cuts = [0, 70, 160, len(order)]
        seen: list = []
        for lo, hi in zip(cuts, cuts[1:]):
            seen.extend(order[lo:hi])
            mon.process_batch(_df(spark, order[lo:hi]))
            got = sorted(tuple(r) for r in mon.report().collect())
            assert got == _want(spark, seen)


def test_kill_resume_and_bounds(spark):
    rows = _rows()
    full = StreamingQuantileMonitor(spark, quantiles=QS)
    full.process_batch(_df(spark, rows[:100]))
    snap = json.loads(json.dumps(full.state_snapshot()))
    full.process_batch(_df(spark, rows[100:]))
    fresh = StreamingQuantileMonitor(spark, quantiles=QS)
    fresh.restore_state(snap)
    fresh.process_batch(_df(spark, rows[100:]))
    assert fresh.state_snapshot() == full.state_snapshot()
    # state is domain-bounded (37 distinct values), never stream-sized
    assert len(fresh.state_snapshot()["rows"]) <= 37
    tiny = StreamingQuantileMonitor(spark, max_domain=3)
    try:
        tiny.process_batch(_df(spark, rows))
        raise AssertionError("max_domain guard did not fire")
    except ValueError as e:
        assert "value domain" in str(e)
