"""StreamingCepMatcher: exactly-once finalized emission equals the batch
operator over full history — including out-of-event-time-order arrivals
within the watermark, where per-trigger re-emission would be wrong."""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from bistro_spark.caching import pinned_ids
from bistro_spark.operators.temporal import cep_followed_by
from bistro_spark.streaming.cep import StreamingCepMatcher


def _ts(m, s=0):
    return datetime(2024, 1, 1, 0, 0, 0) + timedelta(minutes=m, seconds=s)


_SCHEMA = "user_id bigint, event_id bigint, ts timestamp, event_type string"


def _collect_stream(spark, batches, **kw):
    matcher = StreamingCepMatcher(spark, **kw)
    got = []
    for b in batches:
        got += [tuple(r) for r in matcher.process_batch(b).collect()]
    got += [tuple(r) for r in matcher.flush().collect()]
    matcher.close()
    return sorted(got), matcher


def test_cep_stream_equals_batch_on_ordered_real_data(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").filter(
        "event_type IN ('view','purchase')"
    )
    day = F.dayofmonth("ts")
    batches = [ev.filter(day <= 10), ev.filter((day > 10) & (day <= 20)), ev.filter(day > 20)]
    got, _ = _collect_stream(
        spark, batches, horizon_s=14400.0, watermark_s=3600.0
    )
    want = sorted(
        tuple(r) for r in cep_followed_by(ev, horizon_s=14400.0).collect()
    )
    assert got == want


def test_cep_stream_exactly_once_no_reemission(spark):
    """An A matched and finalized in trigger k must not appear again."""
    b1 = spark.createDataFrame(
        [(1, 1, _ts(0), "view"), (1, 2, _ts(3), "purchase")], _SCHEMA
    )
    b2 = spark.createDataFrame([(1, 3, _ts(40), "view")], _SCHEMA)
    b3 = spark.createDataFrame([(1, 4, _ts(80), "purchase")], _SCHEMA)
    matcher = StreamingCepMatcher(
        spark, horizon_s=600.0, watermark_s=60.0, type_a="view",
        type_b="purchase",
    )
    seen: list = []
    for b in (b1, b2, b3):
        seen.append([r["a_id"] for r in matcher.process_batch(b).collect()])
    tail = [r["a_id"] for r in matcher.flush().collect()]
    matcher.close()
    # a=1 finalizes once its 10-min horizon closes (trigger 2's watermark
    # at minute 39); a=3 has no purchase within 10 min -> never emitted
    assert seen == [[], [1], []] and tail == []


def test_cep_stream_out_of_order_B_still_exact(spark):
    """A later-arriving B with an EARLIER ts (within the watermark) must
    replace the provisional best before finalization — emit-on-close
    gets this right; per-trigger emission would have emitted the wrong B."""
    b1 = spark.createDataFrame(
        [(1, 1, _ts(0), "A"), (1, 2, _ts(8), "B")], _SCHEMA
    )
    # arrives later, but ts is EARLIER (minute 5) — within the 10-min wm
    b2 = spark.createDataFrame([(1, 3, _ts(5), "B")], _SCHEMA)
    # pushes the watermark past a=1's horizon close (ts 40 - 10 > 0 + 15)
    b3 = spark.createDataFrame([(2, 9, _ts(40), "A")], _SCHEMA)
    matcher = StreamingCepMatcher(
        spark, type_a="A", type_b="B", horizon_s=900.0, watermark_s=600.0
    )
    out = []
    for b in (b1, b2, b3):
        out += [
            (r["a_id"], r["b_id"])
            for r in matcher.process_batch(b).collect()
        ]
    out += [(r["a_id"], r["b_id"]) for r in matcher.flush().collect()]
    matcher.close()
    assert out == [(1, 3), (9, None)] or out == [(1, 3)]


def test_cep_stream_unmatched_emission_and_flush(spark):
    b1 = spark.createDataFrame([(1, 1, _ts(0), "A")], _SCHEMA)
    matcher = StreamingCepMatcher(
        spark, type_a="A", type_b="B", horizon_s=60.0, watermark_s=0.0,
        emit_unmatched=True,
    )
    assert matcher.process_batch(b1).count() == 0  # horizon still open
    got = matcher.flush().collect()
    matcher.close()
    assert len(got) == 1
    assert got[0]["a_id"] == 1 and got[0]["b_id"] is None


def test_cep_stream_state_bounded_and_pins_recycled(spark):
    """Pending A's and the B pool shrink as the watermark advances; the
    pinned-block count stays flat across triggers."""
    matcher = StreamingCepMatcher(
        spark, type_a="A", type_b="B", horizon_s=60.0, watermark_s=60.0
    )
    base = pinned_ids(spark)
    sizes = []
    for i in range(5):
        b = spark.createDataFrame(
            [
                (1, 10 * i + 1, _ts(2 * i), "A"),
                (1, 10 * i + 2, _ts(2 * i, 30), "B"),
            ],
            _SCHEMA,
        )
        matcher.process_batch(b)
        sizes.append(len(pinned_ids(spark) - base))
    assert max(sizes) <= sizes[0] + 1  # flat modulo the first-emit pin
    # old A's horizons have closed and old B's fell below the watermark
    assert matcher.pending_size() <= 2
    assert matcher.bpool_size() <= 2
    matcher.close()
    assert pinned_ids(spark) - base == set()
