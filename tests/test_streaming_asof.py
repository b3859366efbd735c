"""StreamingAsofLinker (temporal-table join twin): full-history parity
within the watermark, bounded state under eviction, and the documented
beyond-watermark behavior."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from bistro_spark.caching import pinned_ids
from bistro_spark.operators.temporal import link_asof
from bistro_spark.streaming.asof import StreamingAsofLinker


def _ts(m, s=0):
    return datetime(2024, 1, 1, 0, m, s)


def _mk_left(spark, rows):
    return spark.createDataFrame(rows, "k bigint, lid bigint, ts timestamp")


def _mk_right(spark, rows):
    return spark.createDataFrame(rows, "k bigint, ts timestamp, value double")


def test_streaming_asof_full_history_parity_within_watermark(spark):
    """Event-time-ordered triggers with lefts late by < watermark: every
    trigger's output equals batch link_asof against ALL rights seen."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    lefts = ev.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("k"), F.col("event_id").alias("lid"), "ts"
    )
    rights = ev.filter("event_type = 'click'").select(
        F.col("user_id").alias("k"), "ts", "value"
    )
    day = F.dayofmonth("ts")
    cuts = [(day <= 10), (day > 10) & (day <= 20), (day > 20)]
    linker = StreamingAsofLinker(
        spark, on="k", bring=("value",), watermark_s=86_400.0 * 40
    )
    rights_seen = None
    for c in cuts:
        ld, rd = lefts.filter(c), rights.filter(c)
        got = sorted(
            tuple(r) for r in linker.process_batch(ld, rd).collect()
        )
        rights_seen = rd if rights_seen is None else rights_seen.unionByName(rd)
        want = sorted(
            tuple(r)
            for r in link_asof(ld, rights_seen, on="k").collect()
        )
        assert got == want
    linker.close()


def test_streaming_asof_state_bounded_by_watermark(spark):
    """Rights older than the watermark collapse to one row per key."""
    linker = StreamingAsofLinker(
        spark, on="k", bring=("value",), watermark_s=60.0
    )
    # 10 rights for key 1 spread over 10 minutes, then a left at minute 20
    rd = _mk_right(spark, [(1, _ts(i), float(i)) for i in range(10)])
    linker.process_batch(_mk_left(spark, []), rd)
    out = linker.process_batch(
        _mk_left(spark, [(1, 100, _ts(20))]),
        _mk_right(spark, []),
    )
    # watermark = 20min - 60s → every right is below it → state = 1 row
    assert linker.state_size() == 1
    # and that surviving row is the per-key LATEST, so as-of still exact
    assert out.collect()[0]["asof_value"] == 9.0
    linker.close()


def test_streaming_asof_out_of_order_left_within_watermark_exact(spark):
    """A left older than the newest right (but within the watermark) must
    match an OLDER right — the latest-only shortcut would get this wrong;
    the horizon-retained state gets it right."""
    linker = StreamingAsofLinker(
        spark, on="k", bring=("value",), watermark_s=600.0
    )
    linker.process_batch(
        _mk_left(spark, []),
        _mk_right(spark, [(1, _ts(10), 10.0), (1, _ts(14), 14.0)]),
    )
    out = linker.process_batch(
        _mk_left(spark, [(1, 7, _ts(12))]),  # 2 min late vs max ts
        _mk_right(spark, []),
    )
    assert out.collect()[0]["asof_value"] == 10.0
    linker.close()


def test_streaming_asof_one_state_checkpoint_alive(spark):
    linker = StreamingAsofLinker(
        spark, on="k", bring=("value",), watermark_s=60.0
    )
    base = pinned_ids(spark)
    sizes = []
    for i in range(4):
        linker.process_batch(
            _mk_left(spark, [(1, i, _ts(i + 1))]),
            _mk_right(spark, [(1, _ts(i), float(i))]),
        )
        sizes.append(len(pinned_ids(spark) - base))
    assert max(sizes) == sizes[0]
    linker.close()
    assert pinned_ids(spark) - base == set()
