"""StreamingBinidxWriter: id-monotone parity with batch binidx_manifest
at every trigger, out-of-order divergence counter-example, kill/resume,
cursor continuity, and state/pin bounds."""

from __future__ import annotations

from bistro_spark.caching import pinned_ids, release
from bistro_spark.operators.curation import binidx_manifest
from bistro_spark.streaming.pack import StreamingBinidxWriter


def _rows(n=80):
    return [(i, 1 + (i * 2654435761) % 40) for i in range(n)]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, n_tok long")


def _batch(spark, rows):
    docs = _df(spark, rows).withColumnRenamed("n_tok", "n_words")
    return sorted(
        tuple(r) for r in binidx_manifest(docs, n_shards=4).collect()
    )


def test_monotone_parity_every_trigger(spark):
    rows = _rows()
    wr = StreamingBinidxWriter(spark, n_shards=4)
    cuts = [0, 20, 45, len(rows)]
    got: list = []
    seen: list = []
    for lo, hi in zip(cuts, cuts[1:]):
        seen.extend(rows[lo:hi])
        got.extend(
            tuple(r) for r in wr.process_batch(_df(spark, rows[lo:hi])).collect()
        )
        assert sorted(got) == _batch(spark, seen)


def test_out_of_order_divergence_pinned(spark):
    rows = _rows(16)
    wr = StreamingBinidxWriter(spark, n_shards=4)
    wr.process_batch(_df(spark, rows[8:])).collect()
    got = [
        tuple(r) for r in wr.process_batch(_df(spark, rows[:8])).collect()
    ]
    want = {r[0]: r for r in _batch(spark, rows)}
    assert any(tuple(want[g[0]]) != g for g in got), (
        "late smaller ids must diverge: bytes already written cannot move"
    )


def test_kill_resume_parity(spark):
    rows = _rows()
    full = StreamingBinidxWriter(spark, n_shards=4)
    out_full = [
        tuple(r) for r in full.process_batch(_df(spark, rows[:30])).collect()
    ]
    snap = full.state_snapshot()
    out_full += [
        tuple(r) for r in full.process_batch(_df(spark, rows[30:])).collect()
    ]
    # replay trigger 1 on a fresh writer, then resume trigger 2 from the
    # persisted snapshot on another fresh writer ("kill" between them)
    out_res = [
        tuple(r)
        for r in StreamingBinidxWriter(spark, n_shards=4)
        .process_batch(_df(spark, rows[:30]))
        .collect()
    ]
    fresh = StreamingBinidxWriter(spark, n_shards=4)
    fresh.restore_state(snap)
    out_res += [
        tuple(r) for r in fresh.process_batch(_df(spark, rows[30:])).collect()
    ]
    assert sorted(out_res) == sorted(out_full)
    assert fresh.state_snapshot() == full.state_snapshot()


def test_state_and_pin_bounds(spark):
    rows = _rows(40)
    before = pinned_ids(spark)
    wr = StreamingBinidxWriter(spark, n_shards=4)
    wr.process_batch(_df(spark, rows[:20])).collect()
    wr.process_batch(_df(spark, rows[20:])).collect()
    # one (shard, seq_index, byte_offset) cursor row per touched shard
    rows = wr.state_snapshot()["rows"]
    assert {r[0] for r in rows} <= {0, 1, 2, 3}
    assert all(len(r) == 3 for r in rows)
    extra = pinned_ids(spark) - before
    assert extra == wr.owned_ids and len(extra) <= 2
    release(spark, extra)
