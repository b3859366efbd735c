"""Structured Streaming mode (SURVEY.md §7.4): file-stream source (one file
per micro-batch = one ActionAdd delta), withWatermark (ActionRemove age
analog), tumbling/sliding/session windowed accumulate, late-data drop,
exactly-once idempotent sink, checkpoint kill/resume."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from bistro_spark.pipeline import prepare_facts
from bistro_spark.sources.tokens import TOKEN_SCHEMA, token_table_fast
from bistro_spark.streaming.sink import IdempotentParquetSink, write_json_atomic
from bistro_spark.streaming.windows import (
    session_window_accu,
    sliding_window_accu,
    tumbling_window_accu,
)

N = 1000
SPLITS = [100, 400, 50, 450]


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    """Token table written as 4 parquet files, one per scripted batch."""
    root = str(tmp_path_factory.mktemp("tokstream"))
    full = token_table_fast(spark, N).cache()
    lo = 0
    for k, size in enumerate(SPLITS):
        (
            full.filter(
                (F.col("batch_ofs") >= lo) & (F.col("batch_ofs") < lo + size)
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(root, f"b{k}"))
        )
        lo += size
    return root


def _stream(spark, stream_dir, files_per_trigger=1):
    return (
        spark.readStream.schema(TOKEN_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .option("recursiveFileLookup", "true")
        .parquet(stream_dir)
    )


def test_streaming_tumbling_window_accu(spark, stream_dir, tmp_path):
    """Stream → watermark → tumbling 60s window per source → idempotent
    sink; committed output equals the batch computation of the same windows
    (same input + watermark ⇒ same rows, the north-rule parity)."""
    sink = IdempotentParquetSink(str(tmp_path / "out"))
    src = _stream(spark, stream_dir).withWatermark("event_time", "30 seconds")
    prepared = prepare_facts(spark, src)
    windowed = tumbling_window_accu(
        prepared,
        "event_time",
        "60 seconds",
        ["src"],
        {"n_seq": "count(*)", "sum_tok": "sum(n_tok_calc)"},
    )
    q = (
        windowed.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: sink.write(df, bid))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        (r["window_start"], r["src"]): (r["n_seq"], r["sum_tok"])
        for r in sink.read_committed(spark).collect()
    }
    batch_df = spark.read.parquet(stream_dir, recursiveFileLookup=True)
    oracle = {
        (r["window_start"], r["src"]): (r["n_seq"], r["sum_tok"])
        for r in tumbling_window_accu(
            prepare_facts(spark, batch_df),
            "event_time",
            "60 seconds",
            ["src"],
            {"n_seq": "count(*)", "sum_tok": "sum(n_tok_calc)"},
        ).collect()
    }
    # append mode emits only windows closed by the final watermark; with
    # availableNow the last trigger advances the watermark to max(event)-30s,
    # so windows ending after that stay open — oracle restricted accordingly.
    max_t = batch_df.agg(F.max("event_time")).collect()[0][0]
    import datetime

    wm = max_t - datetime.timedelta(seconds=30)
    closed_oracle = {
        k: v
        for k, v in oracle.items()
        if k[0] + datetime.timedelta(seconds=60) <= wm
    }
    assert got == closed_oracle
    assert len(got) > 0


def test_streaming_late_rows_dropped(spark, tmp_path):
    """Rows arriving > watermark behind are dropped identically by engine
    and oracle (SURVEY.md §5.3: parity fixes input order + watermark).

    NOTE Spark's watermark commit lags one micro-batch (batch N filters
    with the max event time through batch N-2), so the guaranteed-drop
    case — the one parity can be defined on — is late data arriving ≥2
    batches after the watermark-advancing batch. Verified empirically on
    4.1.2; late-by-one-batch rows may legally still be aggregated.
    """
    # b0: rows 0..99 (t≤24.75s); b1: rows 400..499 (t≥100s) advances the
    # watermark; b2: rows 600..699 commits it; b3: LATE copies of rows
    # 0..19 — far behind the committed watermark → must be dropped.
    root = str(tmp_path / "late_in")
    full = token_table_fast(spark, 700).cache()
    full.filter("batch_ofs < 100").coalesce(1).write.parquet(root + "/b0")
    full.filter("batch_ofs >= 400 and batch_ofs < 500").coalesce(1).write.parquet(
        root + "/b1"
    )
    full.filter("batch_ofs >= 600").coalesce(1).write.parquet(root + "/b2")
    late = full.filter("batch_ofs < 20").withColumn(
        "doc_id", F.concat(F.lit("late_"), F.col("doc_id"))
    )
    late.coalesce(1).write.parquet(root + "/b3")

    sink = IdempotentParquetSink(str(tmp_path / "late_out"))
    src = (
        spark.readStream.schema(TOKEN_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .option("latestFirst", "false")
        .parquet(root)
        .withWatermark("event_time", "10 seconds")
    )
    windowed = tumbling_window_accu(
        src, "event_time", "30 seconds", ["source"], {"n_seq": "count(*)"}
    )
    q = (
        windowed.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: sink.write(df, bid))
        .option("checkpointLocation", str(tmp_path / "late_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    out_rows = sink.read_committed(spark).collect()
    got = {(r["window_start"], r["source"]): r["n_seq"] for r in out_rows}
    # exactly-once: no (window, key) emitted twice
    assert len(got) == len(out_rows)
    # every emitted window equals the ON-TIME-only computation (late copies
    # contributed nothing)
    on_time = full.filter(
        "batch_ofs < 100 or (batch_ofs >= 400 and batch_ofs < 500) or batch_ofs >= 600"
    )
    oracle = {
        (r["window_start"], r["source"]): r["n_seq"]
        for r in tumbling_window_accu(
            on_time, "event_time", "30 seconds", ["source"], {"n_seq": "count(*)"}
        ).collect()
    }
    for k, v in got.items():
        assert oracle.get(k) == v, k
    # the late rows' window [t0, t0+30s) must have been emitted with
    # strictly on-time counts
    t0 = min(k[0] for k in got)
    assert sum(v for k, v in got.items() if k[0] == t0) == 100
    assert len(got) > 0


def test_checkpoint_resume_exactly_once(spark, stream_dir, tmp_path):
    """Kill after two batches, restart from the same checkpoint: committed
    output is byte-identical to an uninterrupted run (no dupes, no gaps)."""
    out1, ck = str(tmp_path / "o1"), str(tmp_path / "ck")
    sink = IdempotentParquetSink(out1)

    def run(stop_after: int | None):
        seen = {"n": 0}

        def fb(df, bid):
            sink.write(df, bid)
            seen["n"] += 1
            if stop_after is not None and seen["n"] >= stop_after:
                raise RuntimeError("injected crash")

        src = _stream(spark, stream_dir).withWatermark("event_time", "30 seconds")
        prepared = prepare_facts(spark, src)
        w = tumbling_window_accu(
            prepared, "event_time", "60 seconds", ["src"],
            {"n_seq": "count(*)", "sum_tok": "sum(n_tok_calc)"},
        )
        q = (
            w.writeStream.outputMode("append")
            .foreachBatch(fb)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
        except Exception:
            pass  # the injected crash surfaces here

    run(stop_after=2)  # crash mid-stream
    run(stop_after=None)  # resume from checkpoint

    resumed = {
        (r["window_start"], r["src"]): (r["n_seq"], r["sum_tok"])
        for r in sink.read_committed(spark).collect()
    }

    # uninterrupted reference run, separate sink+checkpoint
    out2 = str(tmp_path / "o2")
    sink2 = IdempotentParquetSink(out2)
    src = _stream(spark, stream_dir).withWatermark("event_time", "30 seconds")
    w = tumbling_window_accu(
        prepare_facts(spark, src), "event_time", "60 seconds", ["src"],
        {"n_seq": "count(*)", "sum_tok": "sum(n_tok_calc)"},
    )
    q = (
        w.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: sink2.write(df, bid))
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    clean = {
        (r["window_start"], r["src"]): (r["n_seq"], r["sum_tok"])
        for r in sink2.read_committed(spark).collect()
    }
    assert resumed == clean
    assert len(resumed) > 0


def test_sliding_and_session_windows_batch_semantics(spark):
    """Sliding windows: each event lands in size/slide windows; session
    windows: gap-separated clusters merge (north-rule extension).
    Hand-computed fixture (the reference style: literal rows, exact
    asserts)."""
    rows = [
        ("a", "2026-01-01 00:00:00", 1.0),
        ("a", "2026-01-01 00:00:10", 2.0),
        ("a", "2026-01-01 00:00:50", 4.0),
        ("b", "2026-01-01 00:02:00", 8.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts string, v double").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    slid = sliding_window_accu(
        df, "ts", "60 seconds", "30 seconds", ["k"], {"s": "sum(v)"}
    )
    got = {
        (str(r["window_start"]), r["k"]): r["s"] for r in slid.collect()
    }
    # event at :00 lands in windows starting 23:59:30 and 00:00:00, etc.
    assert got[("2026-01-01 00:00:00", "a")] == 7.0  # :00,:10,:50
    assert got[("2026-01-01 00:00:30", "a")] == 4.0  # :50 only
    assert got[("2025-12-31 23:59:30", "a")] == 3.0  # :00,:10
    assert got[("2026-01-01 00:01:30", "b")] == 8.0

    sess = session_window_accu(df, "ts", "30 seconds", ["k"], {"s": "sum(v)"})
    sgot = {
        (str(r["window_start"]), r["k"]): (str(r["window_end"]), r["s"])
        for r in sess.collect()
    }
    # a: rows at :00/:10 merge (gap 10s < 30s); :50 is 40s later -> new session
    assert sgot[("2026-01-01 00:00:00", "a")] == ("2026-01-01 00:00:40", 3.0)
    assert sgot[("2026-01-01 00:00:50", "a")] == ("2026-01-01 00:01:20", 4.0)
    assert sgot[("2026-01-01 00:02:00", "b")] == ("2026-01-01 00:02:30", 8.0)


def test_streaming_session_window_emits_closed_sessions(spark, tmp_path):
    """True streaming session windows (F.session_window + watermark,
    append mode): sessions whose end falls behind the final watermark are
    emitted and match the batch gaps-and-islands computation; the still-
    open tail sessions are (correctly) withheld.

    Fixture: 3 sources, events every 2s with a 30s silence gap per source
    mid-stream, split into micro-batches that cut across sessions."""
    import os

    root = str(tmp_path / "in")
    # two bursts per source: [0..20s] and [60..80s] (gap 40s > 10s timeout)
    rows = []
    for si, src in enumerate(("web", "code", "books")):
        for burst_start in (0, 60):
            for t in range(0, 21, 2):
                rows.append((f"d{si}_{burst_start}_{t}", src, burst_start + t + si))
    df = spark.createDataFrame(rows, "doc_id string, src string, ofs int").select(
        "doc_id",
        "src",
        F.expr("timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,ofs)")
        .alias("event_time"),
    )
    # scripted batches split mid-burst
    for k, (lo, hi) in enumerate([(0, 10), (10, 70), (70, 100)]):
        df.filter(
            (F.unix_timestamp("event_time") - F.unix_timestamp(F.lit("2026-01-01 00:00:00")) >= lo)
            & (F.unix_timestamp("event_time") - F.unix_timestamp(F.lit("2026-01-01 00:00:00")) < hi)
        ).coalesce(1).write.parquet(os.path.join(root, f"b{k}"))

    src_stream = (
        spark.readStream.schema("doc_id string, src string, event_time timestamp")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(root)
    )
    from bistro_spark.streaming.windows import session_window_accu

    out = session_window_accu(
        src_stream.withWatermark("event_time", "5 seconds"),
        "event_time",
        "10 seconds",
        ["src"],
        {"n": "count(*)"},
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["src"], r["window_start"].isoformat(), r["n"])
        for r in spark.sql("select * from sess_out").collect()
    }
    # batch oracle: full-session computation, keep only sessions closed
    # before the final watermark (max event time - 5s)
    full = session_window_accu(
        df, "event_time", "10 seconds", ["src"], {"n": "count(*)"}
    )
    max_t = df.agg(F.max("event_time")).collect()[0][0]
    import datetime

    wm = max_t - datetime.timedelta(seconds=5)
    exp = {
        (r["src"], r["window_start"].isoformat(), r["n"])
        for r in full.collect()
        if r["window_end"] <= wm
    }
    assert exp  # the first burst of every source must have closed
    assert got == exp
    # each source's first burst = one 11-event session
    assert sum(1 for g in got if g[2] == 11) == 3


def test_salted_streaming_window_equals_unsalted(spark, stream_dir, tmp_path):
    """Chained stateful aggregation (salted two-phase windowed accumulate)
    emits the same closed windows as the plain windowed accumulate — the
    streaming skew path is semantics-preserving."""
    from bistro_spark.streaming.windows import salted_tumbling_window_accu

    def run(build, name, ck):
        src = _stream(spark, stream_dir).withWatermark("event_time", "30 seconds")
        q = (
            build(src)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r["window_start"].isoformat(), r["source"], r["n"], r["s"])
            for r in spark.sql(f"select * from {name}").collect()
        }

    plain = run(
        lambda src: tumbling_window_accu(
            src, "event_time", "60 seconds", ["source"],
            {"n": "count(*)", "s": "sum(n_tok)"},
        ),
        "win_plain", "ck_plain",
    )
    salted = run(
        lambda src: salted_tumbling_window_accu(
            src, "event_time", "60 seconds", ["source"],
            {"n": "count(*)", "s": "sum(n_tok)"},
            {"n": "sum(n)", "s": "sum(s)"},
            n_salts=8,
        ),
        "win_salted", "ck_salted",
    )
    assert plain and salted == plain


def test_simulator_connector_paced_replay(spark, tmp_path):
    """Rate-paced replay (ConnectorSimulatorFile analog): the connector
    lands timed delta files while a processing-time-triggered stream
    consumes them; the committed output equals batch evaluation of the
    full table — same final state regardless of arrival pacing."""
    import threading
    import time

    from bistro_spark.sources.io import SimulatorFileConnector

    n = 400
    full = token_table_fast(spark, n).cache()
    full.count()
    paced_dir = str(tmp_path / "paced")
    os.makedirs(paced_dir)  # the source dir must exist before readStream
    conn = SimulatorFileConnector(
        full, paced_dir, delta_rows=100, accel=200.0
    )
    sink = IdempotentParquetSink(str(tmp_path / "out"))

    src = (
        spark.readStream.schema(TOKEN_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(paced_dir)
    )
    prepared = prepare_facts(spark, src)
    q = (
        prepared.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: sink.write(df, bid))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    t = threading.Thread(target=conn.run)
    t.start()
    try:
        deadline = time.time() + 120
        done = False
        while time.time() < deadline and not done:
            time.sleep(0.5)
            try:
                done = sink.read_committed(spark).count() == n
            except Exception:
                done = False  # no committed batch yet
        assert done, "paced stream did not drain in time"
    finally:
        t.join(timeout=60)
        q.stop()
    assert conn.files_written == 4

    got = sink.read_committed(spark)
    want = prepare_facts(spark, full)
    assert got.count() == want.count() == n
    g = got.agg(F.sum("n_tok_calc").alias("s"), F.sum("weighted_tok").alias("w")).collect()[0]
    w = want.agg(F.sum("n_tok_calc").alias("s"), F.sum("weighted_tok").alias("w")).collect()[0]
    assert g["s"] == w["s"] and abs(g["w"] - w["w"]) < 1e-6


def test_streaming_rocksdb_state_store(spark, stream_dir, tmp_path):
    """The windowed accumulate runs (and checkpoints) identically on the
    RocksDB state store — the provider for state that outgrows executor
    heaps at 10^12-sequence scale (off-heap, no spill cliff)."""
    provider_conf = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    prev = spark.conf.get(provider_conf, None)
    spark.conf.set(provider_conf, rocks)
    try:
        src = _stream(spark, stream_dir).withWatermark(
            "event_time", "30 seconds"
        )
        prepared = prepare_facts(spark, src)
        windowed = tumbling_window_accu(
            prepared, "event_time", "60 seconds", ["src"],
            {"n_seq": "count(*)", "sum_tok": "sum(n_tok_calc)"},
        )
        q = (
            windowed.writeStream.format("memory")
            .queryName("rocks_out")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_rocks"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = {
            (r["window_start"], r["src"]): (r["n_seq"], r["sum_tok"])
            for r in spark.sql("select * from rocks_out").collect()
        }
    finally:
        if prev is None:
            spark.conf.unset(provider_conf)
        else:
            spark.conf.set(provider_conf, prev)
    full = token_table_fast(spark, N)
    want = {
        (r["ws"], r["src"]): (r["n"], r["s"])
        for r in prepare_facts(spark, full)
        .groupBy(
            F.window("event_time", "60 seconds").alias("w"), "src"
        )
        .agg(F.count("*").alias("n"), F.sum("n_tok_calc").alias("s"))
        .select(F.col("w.start").alias("ws"), "src", "n", "s")
        .collect()
    }
    # append mode emits exactly the watermark-closed windows (window_end <=
    # final watermark = max event time - 30s), value-identical to batch
    import datetime

    max_t = full.agg(F.max("event_time")).collect()[0][0]
    wm = max_t - datetime.timedelta(seconds=30)
    closed = {
        k: v
        for k, v in want.items()
        if k[0] + datetime.timedelta(seconds=60) <= wm
    }
    assert got == closed and len(got) > 0


def test_snapshot_write_interrupted_keeps_previous_snapshot(
    tmp_path, monkeypatch
):
    """An exception after the tmp file is opened (a crash mid-write)
    leaves the previous snapshot loadable and no tmp file beside it."""
    path = str(tmp_path / "state.json")
    write_json_atomic(path, {"epochs": [0, 1]})

    def torn_dump(obj, fh):
        fh.write('{"epochs": [0, 1,')
        raise OSError("disk gone")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk gone"):
        write_json_atomic(path, {"epochs": [0, 1, 2]})
    with open(path) as fh:
        assert json.load(fh) == {"epochs": [0, 1]}
    assert os.listdir(tmp_path) == ["state.json"]
