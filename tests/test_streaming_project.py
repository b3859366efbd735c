"""Mid-stream dim growth (project under streaming) + the quotes-stream
scenario (Bistro Streams examples mirror, FIXTURES.md F3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bistro_spark.schema import Schema
from bistro_spark.sources.tokens import token_table_fast
from bistro_spark.streaming.incremental import AggSpec, IncrementalRunner
from bistro_spark.streaming.project import StreamingProjector


def test_streaming_projector_dim_growth(spark):
    """Dim grows across batches; surrogate ids assigned in first-appearance
    (lineage-offset) order; link never misses (ColumnDefinitionProj)."""
    full = token_table_fast(spark, 300).cache()
    b1 = full.filter("batch_ofs < 60")    # sources seen: depends on mix
    b2 = full.filter("batch_ofs >= 60 and batch_ofs < 200")
    b3 = full.filter("batch_ofs >= 200")

    proj = StreamingProjector(spark, ["source"])
    out1 = proj.process_batch(b1).collect()
    dim_after_1 = {r["source"]: r["dim_id"] for r in proj.dim().collect()}
    out3 = proj.process_batch(b2)
    out3 = proj.process_batch(b3).collect()
    dim_final = {r["source"]: (r["dim_id"], r["first_ofs"]) for r in proj.dim().collect()}

    # ids are dense 0..n-1 in first-appearance order of the stream
    firsts = sorted(dim_final.values(), key=lambda t: t[0])
    assert [t[0] for t in firsts] == list(range(len(dim_final)))
    assert all(
        firsts[i][1] < firsts[i + 1][1] for i in range(len(firsts) - 1)
    )
    # ids stable: sources seen in batch 1 keep their ids
    for s, i in dim_after_1.items():
        assert dim_final[s][0] == i
    # link never misses
    assert all(r["dim_id"] is not None for r in out1 + out3)
    # parity with batch-mode project: same key set
    batch_dim = {r["source"] for r in full.select("source").distinct().collect()}
    assert set(dim_final) == batch_dim


def test_quotes_stream_scenario(spark):
    """Bistro Streams example mirror: price ticks → FIFO retention window
    (ActionRemove) → accumulate (count, decimal-exact VWAP parts) after
    every batch — asserting the full state trajectory."""
    rows = [
        # (ofs, ts_offset_s, price, volume)
        (i, i * 5, 100.0 + (i % 7), 1.0 + (i % 3)) for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "batch_ofs long, t long, price double, volume double"
    ).select(
        "batch_ofs",
        (F.lit("2026-01-01 00:00:00").cast("timestamp")
         + F.col("t").cast("string").cast("interval second")).alias("event_time"),
        "price",
        "volume",
        F.lit("kraken").alias("venue"),
    )
    batches = [
        df.filter("batch_ofs < 10"),
        df.filter("batch_ofs >= 10 and batch_ofs < 25"),
        df.filter("batch_ofs >= 25"),
    ]
    runner = IncrementalRunner(
        spark,
        lambda b: b,
        ["venue"],
        [
            AggSpec("n", "count(*)", "sum", 0),
            AggSpec("pv", "cast(sum(cast(price * volume as decimal(20,6))) as double)", "sum", 0.0),
            AggSpec("v", "cast(sum(cast(volume as decimal(20,6))) as double)", "sum", 0.0),
        ],
        retention_count=20,  # sliding 20-tick window, the FIFO queue analog
    )
    import pandas as pd

    pdf = df.toPandas().sort_values("batch_ofs")
    seen = 0
    for b, hi in zip(batches, [10, 25, 40]):
        runner.add_batch(b)
        got = {r["venue"]: r.asDict() for r in runner.result().collect()}
        window = pdf[max(0, hi - 20) : hi]
        assert got["kraken"]["n"] == len(window)
        assert abs(got["kraken"]["pv"] - (window.price * window.volume).sum()) < 1e-6
        assert abs(got["kraken"]["v"] - window.volume.sum()) < 1e-6
        seen = hi
    # VWAP read-out (the derived calc on the accu results)
    vwap = got["kraken"]["pv"] / got["kraken"]["v"]
    w = pdf[20:40]
    assert abs(vwap - (w.price * w.volume).sum() / w.volume.sum()) < 1e-9


def test_streaming_exact_dedup(spark, tmp_path):
    """Replayed doc_ids across micro-batches are dropped by the stateful
    dedup (first arrival wins); state expires past the watermark."""
    import os

    from pyspark.sql import functions as F

    from bistro_spark.sources.tokens import TOKEN_SCHEMA, token_table_fast
    from bistro_spark.streaming.project import streaming_exact_dedup

    root = str(tmp_path / "in")
    full = token_table_fast(spark, 120).cache()
    # batch 0: rows 0..59; batch 1: rows 40..119 (rows 40..59 are replays
    # arriving in a later micro-batch, within the watermark horizon)
    full.filter("batch_ofs < 60").coalesce(1).write.parquet(os.path.join(root, "b0"))
    full.filter("batch_ofs >= 40").coalesce(1).write.parquet(os.path.join(root, "b1"))
    src = (
        spark.readStream.schema(TOKEN_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(root)
    )
    deduped = streaming_exact_dedup(src, ["doc_id"], watermark="10 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = [r["doc_id"] for r in spark.sql("select doc_id from dedup_out").collect()]
    assert len(got) == 120  # 140 arrivals, 20 replays dropped
    assert len(set(got)) == 120
