"""Streaming trainprep twins: the FIM gate on a real file-source stream
(pure projection — per-doc parity with the hash-checked batch
transform), and StreamingConcatChunker's id-monotone parity with batch
concat_chunks, kill/resume via the cursor snapshot, the out-of-order
divergence counter-example, and state/pin bounds."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from bistro_spark.caching import pinned_ids
from bistro_spark.operators.trainprep import concat_chunks, fim_transform
from bistro_spark.streaming.pack import (
    StreamingConcatChunker,
    streaming_fim_gate,
)

DOCS = "/root/testdata/sf0.001/documents.parquet"


def _with_len(df):
    return df.select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda w: w != ""))
        .cast("long")
        .alias("n_tok"),
    )


def test_streaming_fim_gate_on_real_stream(spark, tmp_path):
    """FIM is a pure md5-keyed projection: the batch operator applies to
    a streaming DataFrame unchanged and committed rows equal the batch
    transform regardless of micro-batching."""
    docs = spark.read.parquet(DOCS).select("doc_id", "text")
    src_dir = str(tmp_path / "src")
    for k in range(3):
        docs.filter(f"doc_id % 3 = {k}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src_dir, f"b{k}"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src_dir)
    )
    gated = streaming_fim_gate(stream)
    assert gated.isStreaming
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        gated.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = sorted(tuple(r) for r in spark.read.parquet(out_dir).collect())
    want = sorted(tuple(r) for r in fim_transform(docs).collect())
    assert got == want


# ----------------------------------------------------- concat chunker --


def test_streaming_chunker_id_monotone_parity(spark):
    """Id-monotone arrival: the union of per-trigger outputs equals
    batch concat_chunks over everything seen (concatenated per-batch
    prefix sums ARE the single prefix sum)."""
    docs = _with_len(spark.read.parquet(DOCS))
    cuts = [0, 120, 260, 400, 10**9]
    ch = StreamingConcatChunker(spark, capacity=256, n_shards=4)
    got = []
    for lo, hi in zip(cuts, cuts[1:]):
        batch = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        got.extend(tuple(r) for r in ch.process_batch(batch).collect())
    want = sorted(
        tuple(r)
        for r in concat_chunks(
            docs, len_col="n_tok", capacity=256, n_shards=4
        ).collect()
    )
    assert sorted(got) == want
    assert ch.batches_seen == 4


def test_streaming_chunker_kill_resume(spark):
    """A fresh chunker restored from the cursor snapshot continues the
    layout exactly where the snapshotted one stopped."""
    docs = _with_len(spark.read.parquet(DOCS))
    cuts = [0, 150, 320, 10**9]
    a = StreamingConcatChunker(spark, capacity=128, n_shards=4)
    got = []
    for lo, hi in zip(cuts[:2], cuts[1:3]):
        batch = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        got.extend(tuple(r) for r in a.process_batch(batch).collect())
    snap = a.state_snapshot()
    # simulate a crash: brand-new instance, restore, process the rest
    b = StreamingConcatChunker(spark, capacity=128, n_shards=4)
    b.restore_state({str(k): v for k, v in snap.items()})  # JSON round trip
    last = docs.filter(F.col("doc_id") >= 320)
    got.extend(tuple(r) for r in b.process_batch(last).collect())
    want = sorted(
        tuple(r)
        for r in concat_chunks(
            docs, len_col="n_tok", capacity=128, n_shards=4
        ).collect()
    )
    assert sorted(got) == want


def test_streaming_chunker_out_of_order_divergence(spark):
    """Counter-example pinned: a later-arriving smaller id would have
    laid out earlier in the batch stream — tokens already placed cannot
    move, so out-of-id-order arrival diverges by construction."""
    rows = [(0, 100), (4, 100), (8, 100)]  # all shard 0 (n_shards=4)
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    ch = StreamingConcatChunker(spark, capacity=64, n_shards=4)
    got = []
    # id 8 arrives before id 4
    for ids in ([0, 8], [4]):
        batch = df.filter(F.col("doc_id").isin(ids))
        got.extend(tuple(r) for r in ch.process_batch(batch).collect())
    want = sorted(tuple(r) for r in concat_chunks(df, len_col="n_tok",
                                                  capacity=64,
                                                  n_shards=4).collect())
    assert sorted(got) != want


def test_streaming_chunker_state_and_pin_bounds(spark):
    docs = _with_len(spark.read.parquet(DOCS))
    before = pinned_ids(spark)
    ch = StreamingConcatChunker(spark, capacity=256, n_shards=4)
    for lo, hi in [(0, 200), (200, 10**9)]:
        batch = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        ch.process_batch(batch).collect()
    # state is one BIGINT cursor per shard, never corpus-sized
    rows = ch.state_snapshot()["rows"]
    assert len(rows) <= 4
    total = docs.agg(
        F.sum(F.col("n_tok") + 1).cast("long").alias("s")
    ).collect()[0]["s"]
    assert sum(r[1] for r in rows) == total
    # pins: only the last trigger's output may remain pinned
    ch.close()
    assert pinned_ids(spark) - before == set()


# -------------------------------------------------- chunk read planner --


def _group_reads(entries):
    plans = {}
    for shard, chunk_id, _doc, off, nb in entries:
        plans.setdefault((shard, chunk_id), []).append((off, nb))
    return {
        key: tuple(sorted(reads)) for key, reads in plans.items()
    }


def test_streaming_read_planner_id_monotone_parity(spark):
    """Union of per-trigger read entries, grouped to offset-ordered
    arrays, equals batch chunk_read_plan over everything seen — both
    layouts (chunk + byte) composed in one pass."""
    from bistro_spark.operators.trainprep import chunk_read_plan
    from bistro_spark.streaming.pack import StreamingChunkReadPlanner

    docs = _with_len(spark.read.parquet(DOCS))
    cuts = [0, 120, 260, 400, 10**9]
    pl = StreamingChunkReadPlanner(spark, capacity=256, n_shards=4)
    got = []
    for lo, hi in zip(cuts, cuts[1:]):
        batch = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        got.extend(tuple(r) for r in pl.process_batch(batch).collect())
    want = {
        (r["shard"], r["chunk_id"]): tuple(
            zip(r["offsets"], r["sizes"])
        )
        for r in chunk_read_plan(
            docs, len_col="n_tok", capacity=256, n_shards=4
        ).collect()
    }
    assert _group_reads(got) == want
    assert pl.batches_seen == 4
    # n_shards-bounded state, pins released each trigger
    assert len(pl.state_snapshot()["rows"]) <= 4


def test_streaming_read_planner_kill_resume(spark):
    from bistro_spark.operators.trainprep import chunk_read_plan
    from bistro_spark.streaming.pack import StreamingChunkReadPlanner

    docs = _with_len(spark.read.parquet(DOCS))
    a = StreamingChunkReadPlanner(spark, capacity=128, n_shards=4)
    got = []
    for lo, hi in [(0, 150), (150, 320)]:
        batch = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        got.extend(tuple(r) for r in a.process_batch(batch).collect())
    import json

    snap = json.loads(json.dumps(a.state_snapshot()))  # JSON round trip
    b = StreamingChunkReadPlanner(spark, capacity=128, n_shards=4)
    b.restore_state(snap)
    got.extend(
        tuple(r)
        for r in b.process_batch(
            docs.filter(F.col("doc_id") >= 320)
        ).collect()
    )
    want = {
        (r["shard"], r["chunk_id"]): tuple(zip(r["offsets"], r["sizes"]))
        for r in chunk_read_plan(
            docs, len_col="n_tok", capacity=128, n_shards=4
        ).collect()
    }
    assert _group_reads(got) == want


def test_streaming_read_planner_out_of_order_divergence(spark):
    """Tokens and bytes already laid out cannot move: a smaller id
    arriving later lands at a later offset than the batch layout gives
    it — divergence pinned by counter-example."""
    from bistro_spark.operators.trainprep import chunk_read_plan
    from bistro_spark.streaming.pack import StreamingChunkReadPlanner

    rows = [(0, 100), (4, 60), (8, 130)]  # all shard 0, distinct lens
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    pl = StreamingChunkReadPlanner(spark, capacity=64, n_shards=4)
    got = []
    for did in (4, 8, 0):  # id 0 arrives LAST
        got.extend(
            tuple(r)
            for r in pl.process_batch(
                df.filter(F.col("doc_id") == did)
            ).collect()
        )
    want = {
        (r["shard"], r["chunk_id"]): tuple(zip(r["offsets"], r["sizes"]))
        for r in chunk_read_plan(
            df, len_col="n_tok", capacity=64, n_shards=4
        ).collect()
    }
    assert _group_reads(got) != want


def test_streaming_sft_gate_on_real_stream(spark, tmp_path):
    """sft_turn_spans is a row-local projection+bounded-explode: the
    batch operator applies to a streaming DataFrame unchanged and
    committed rows equal the batch manifest regardless of
    micro-batching."""
    from bistro_spark.operators.trainprep import sft_turn_spans
    from bistro_spark.streaming.pack import streaming_sft_gate

    docs = spark.read.parquet(DOCS).select("doc_id", "text")
    src_dir = str(tmp_path / "sft_src")
    for k in range(3):
        docs.filter(f"doc_id % 3 = {k}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src_dir, f"b{k}"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src_dir)
    )
    gated = streaming_sft_gate(stream)
    assert gated.isStreaming
    out_dir, ckpt = str(tmp_path / "sft_out"), str(tmp_path / "sft_ckpt")
    q = (
        gated.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = sorted(tuple(r) for r in spark.read.parquet(out_dir).collect())
    want = sorted(tuple(r) for r in sft_turn_spans(docs).collect())
    assert got == want


# ------------------------------------------------- SFT pack monitor --


def test_sft_pack_monitor_id_monotone_parity_and_resume(spark):
    """Id-monotone arrival: the live report equals batch
    sft_pack_manifest over everything seen at EVERY trigger; JSON
    kill/resume resumes both the cursor and the counters exactly."""
    import json as _json

    from bistro_spark.operators.trainprep import sft_pack_manifest
    from bistro_spark.streaming.pack import StreamingSftPackMonitor

    docs = spark.read.parquet(DOCS).select("doc_id", "text")
    cuts = [0, 150, 320, 10**9]
    mon = StreamingSftPackMonitor(spark, capacity=64)
    for i, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
        delta = docs.filter(f"doc_id >= {lo} AND doc_id < {hi}")
        mon.process_batch(delta)
        seen = docs.filter(f"doc_id < {hi}")
        got = sorted(tuple(r) for r in mon.report().collect())
        want = sorted(
            tuple(r)
            for r in sft_pack_manifest(seen, capacity=64).collect()
        )
        assert got == want, f"trigger {i}"
        if i == 0:
            snap = _json.loads(_json.dumps(mon.state_snapshot()))
    # resume from the first trigger's snapshot and replay the rest
    mon2 = StreamingSftPackMonitor(spark, capacity=64)
    mon2.restore_state(snap)
    for lo, hi in zip(cuts[1:], cuts[2:]):
        mon2.process_batch(
            docs.filter(f"doc_id >= {lo} AND doc_id < {hi}")
        )
    assert sorted(tuple(r) for r in mon2.report().collect()) == sorted(
        tuple(r) for r in sft_pack_manifest(docs, capacity=64).collect()
    )


def test_sft_card_monitor_any_order_parity(spark):
    """Additive per-source card: EXACT any-order full-history parity
    with batch sft_corpus_stats at every trigger; JSON kill/resume."""
    import json as _json

    from bistro_spark.operators.trainprep import sft_corpus_stats
    from bistro_spark.streaming.pack import StreamingSftCardMonitor

    docs = spark.read.parquet(DOCS)
    for order in ([0, 1, 2], [2, 0, 1]):
        mon = StreamingSftCardMonitor(spark)
        seen = None
        for part in order:
            delta = docs.filter(f"doc_id % 3 = {part}")
            seen = delta if seen is None else seen.union(delta)
            mon.process_batch(delta)
            assert sorted(tuple(r) for r in mon.report().collect()) == (
                sorted(tuple(r) for r in sft_corpus_stats(seen).collect())
            )
    snap = _json.loads(_json.dumps(mon.state_snapshot()))
    m2 = StreamingSftCardMonitor(spark)
    m2.restore_state(snap)
    assert sorted(tuple(r) for r in m2.report().collect()) == sorted(
        tuple(r) for r in sft_corpus_stats(docs).collect()
    )
