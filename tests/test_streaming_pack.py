"""Streaming tokenize→pack twins: the stateless encode gate on a real
stream, and StreamingPacker's id-monotone parity with batch
pack_sequences, its out-of-order divergence counter-example, cursor
continuity across triggers, and state/pin bounds."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from bistro_spark.caching import pinned_ids
from bistro_spark.operators.curation import pack_sequences
from bistro_spark.operators.wordpiece import FIXED_WORDPIECE_VOCAB, wordpiece_encode
from bistro_spark.streaming.pack import StreamingPacker, streaming_encode_gate

DOCS = "/root/testdata/sf0.001/documents.parquet"


def _with_len(df):
    return df.select(
        "doc_id",
        F.size(F.filter(F.split("text", r"\s+"), lambda w: w != ""))
        .cast("long")
        .alias("n_tok"),
    )


# ------------------------------------------------------- encode gate --


def test_streaming_encode_gate_on_real_stream(spark, tmp_path):
    """Subword encode is pure projection: a streaming DataFrame accepts
    the batch operator unchanged and the committed rows equal the batch
    encode (whose own correctness is DuckDB-hash-checked)."""
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
    gated = streaming_encode_gate(stream, FIXED_WORDPIECE_VOCAB)
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
    want = sorted(
        tuple(r) for r in wordpiece_encode(docs, FIXED_WORDPIECE_VOCAB).collect()
    )
    assert got == want


# ------------------------------------------------------------ packer --


def test_streaming_packer_id_monotone_parity(spark):
    """Per-shard id-monotone arrival: the union of per-trigger outputs
    equals batch pack_sequences over everything seen (the concatenation
    of resumed greedy folds IS the single fold)."""
    docs = _with_len(spark.read.parquet(DOCS))
    cuts = [0, 120, 260, 400, 10**9]
    packer = StreamingPacker(spark, capacity=256, n_shards=4, len_col="n_tok")
    got = []
    for lo, hi in zip(cuts, cuts[1:]):
        batch = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        got.extend(tuple(r) for r in packer.process_batch(batch).collect())
    want = sorted(
        tuple(r)
        for r in pack_sequences(
            docs, len_col="n_tok", capacity=256, n_shards=4
        ).collect()
    )
    assert sorted(got) == want
    assert packer.batches_seen == 4


def test_streaming_packer_cursor_continuity(spark):
    """A pack left part-filled by one trigger is continued (same
    pack_id, offset = previous end) by the next trigger's first doc
    when it fits, and closed when it does not."""
    packer = StreamingPacker(spark, capacity=100, n_shards=1, len_col="n_tok")
    b1 = spark.createDataFrame([(0, 60)], "doc_id long, n_tok long")
    r1 = {r["doc_id"]: r for r in packer.process_batch(b1).collect()}
    assert (r1[0]["pack_id"], r1[0]["offset"]) == (0, 0)
    assert packer.state_snapshot() == {0: (0, 60)}
    b2 = spark.createDataFrame([(1, 30), (2, 30)], "doc_id long, n_tok long")
    r2 = {r["doc_id"]: r for r in packer.process_batch(b2).collect()}
    assert (r2[1]["pack_id"], r2[1]["offset"]) == (0, 60)  # continues pack 0
    assert (r2[2]["pack_id"], r2[2]["offset"]) == (1, 0)  # 90+30 > 100
    assert packer.state_snapshot() == {0: (1, 30)}
    # oversize doc: gets a pack to itself (same as the batch op)
    b3 = spark.createDataFrame([(3, 500)], "doc_id long, n_tok long")
    r3 = {r["doc_id"]: r for r in packer.process_batch(b3).collect()}
    assert (r3[3]["pack_id"], r3[3]["offset"]) == (2, 0)
    assert packer.state_snapshot() == {0: (2, 500)}


def test_streaming_packer_out_of_order_divergence(spark):
    """Pinned counter-example: a smaller id arriving AFTER a larger one
    diverges from the batch fold — the packer cannot retroactively
    reopen an emitted buffer, exactly the token-budget twin's contract."""
    packer = StreamingPacker(spark, capacity=100, n_shards=1, len_col="n_tok")
    out = []
    for ids in [[(2, 60)], [(1, 60)]]:  # id 1 arrives after id 2
        df = spark.createDataFrame(ids, "doc_id long, n_tok long")
        out.extend(tuple(r) for r in packer.process_batch(df).collect())
    all_df = spark.createDataFrame(
        [(2, 60), (1, 60)], "doc_id long, n_tok long"
    )
    want = sorted(
        tuple(r)
        for r in pack_sequences(
            all_df, len_col="n_tok", capacity=100, n_shards=1
        ).collect()
    )
    assert sorted(out) != want  # batch packs id 1 FIRST (id order)
    # the streamed fold still never overfills a pack
    by_pack = {}
    for _id, _sh, pid, off, ln in out:
        by_pack.setdefault(pid, []).append((off, ln))
    for spans in by_pack.values():
        assert max(o + l for o, l in spans) <= 100


def test_streaming_packer_state_and_pin_bounds(spark):
    """State stays n_shards-bounded and each trigger recycles the
    previous trigger's pinned blocks (one output pinned at a time)."""
    docs = _with_len(spark.read.parquet(DOCS))
    before = set(pinned_ids(spark))
    packer = StreamingPacker(spark, capacity=256, n_shards=4, len_col="n_tok")
    sizes = []
    for k in range(5):
        batch = docs.filter(F.col("doc_id") % 5 == k)
        packer.process_batch(batch).count()
        assert len(packer.state_snapshot()) <= 4
        sizes.append(len(set(pinned_ids(spark)) - before))
    assert max(sizes) <= max(sizes[0], sizes[1])  # no per-trigger growth
    packer.close()
    assert set(pinned_ids(spark)) - before == set()


def test_streaming_packer_kill_resume_parity(spark):
    """Snapshot after trigger k, build a FRESH packer, restore, replay
    the remaining triggers: outputs equal the uninterrupted run (the
    foreachBatch epoch-recovery contract)."""
    docs = _with_len(spark.read.parquet(DOCS))
    cuts = [0, 150, 300, 10**9]
    batches = [
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        for lo, hi in zip(cuts, cuts[1:])
    ]
    cont = StreamingPacker(spark, capacity=256, n_shards=4, len_col="n_tok")
    cont_out = []
    for b in batches:
        cont_out.extend(tuple(r) for r in cont.process_batch(b).collect())

    first = StreamingPacker(spark, capacity=256, n_shards=4, len_col="n_tok")
    resumed_out = [tuple(r) for r in first.process_batch(batches[0]).collect()]
    snap = first.state_snapshot()
    # "kill": a brand-new packer restores the persisted snapshot
    second = StreamingPacker(spark, capacity=256, n_shards=4, len_col="n_tok")
    second.restore_state(snap)
    for b in batches[1:]:
        resumed_out.extend(tuple(r) for r in second.process_batch(b).collect())
    assert sorted(resumed_out) == sorted(cont_out)
    assert second.state_snapshot() == cont.state_snapshot()
