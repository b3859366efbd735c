"""One benchmark workload, run in its own process on one SparkSession.

    python3 perfbench/workloads.py <workload> <spec.json>

``run.py`` writes the spec (input files, sizes, Spark settings, output
path) and reads back the result JSON this process writes: the spans it
recorded around every call into a layer's public function, the timed
region, each step's check, and the layer figures only the live session can
give. The timed region runs the workload's public entry points only; every
output check runs outside it.

Workloads run here:

- ``batch_calculus``: Bistro's whole-table evaluate. A pass is the
  full-width facts write of ``build_pipeline`` (``noop`` sink, so every calc
  column is computed) plus the ``flagship()`` rollup collect; each rollup is
  checked against the closed-form F1 rollup.
- ``incremental_retention``: ``IncrementalRunner`` over ``prepare_facts``
  with count retention and invertible ``AggSpec`` folds (the un-fold path).
  A step adds one delta file and reads ``result()``; each read-out is
  checked against the closed-form rollup of the rows retention keeps.
- ``stream_check``: not timed. Checks the committed output of the
  ``stream_sketch`` job against a batch recompute; ``stream_driver.py``
  runs it in the job's own JVM once the job has stopped.
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import loadgen  # noqa: E402
from proctree import tree_cpu  # noqa: E402


class Spans:
    """Benchmark-side spans: (name, parent, start, end, step), in memory."""

    def __init__(self):
        self.rows: list[dict] = []
        self._stack: list[str] = []
        self.step: int | None = None

    @contextmanager
    def __call__(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.rows.append(
                {"name": name, "parent": parent, "start": t0, "end": time.time(), "step": self.step}
            )


def session(spec: dict, spans: Spans):
    from bistro_spark.session import get_spark

    with spans("session.start"):
        spark = get_spark(
            master=f"local[{spec['cpus']}]",
            app_name=f"perfbench_{spec['workload']}",
            extra_conf=spec["spark_conf"],
        )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def closed_loop(out: dict, spans: Spans, n_steps: int, warmup: int, step) -> list:
    """Run ``step(k)`` for k = 0 .. n_steps - 1, each once the previous
    result is back. Step 0 ends set-up (``first_result``), the next
    ``warmup`` steps are untimed, and the rest form the timed region, whose
    process-tree CPU time goes to ``out["cpu"]``. Returns every step's
    result."""
    results = []
    for k in range(n_steps):
        if k == 1 + warmup:
            out["cpu"] = [tree_cpu(os.getpid()), None]
            out["region"] = [time.time(), None]
        spans.step = k if k > warmup else None
        t0 = time.time()
        results.append(step(k))
        if k == 0:
            out["first_result"] = time.time()
        elif k > warmup:
            out["steps"].append([t0, time.time()])
    out["region"][1] = time.time()
    out["cpu"][1] = tree_cpu(os.getpid())
    spans.step = None
    return results


def rollup_rows(rows, key: str) -> dict:
    """key -> (n_seq, sum_tok, sum_weighted) of collected rollup rows."""
    return {r[key]: (r["n_seq"], r["sum_tok"], r["sum_weighted"]) for r in rows}


# -- batch_calculus -----------------------------------------------------------


def batch_calculus(spark, spec: dict, spans: Spans, out: dict) -> None:
    from bistro_spark.pipeline import build_pipeline, flagship

    first, n = spec["first"], spec["rows"]
    want = loadgen.expected_rollup(first, n)
    want = {s: want.get(s, (0, 0, 0.0)) for s in (*loadgen.SOURCES, "archive")}

    def one_pass(_k):
        with spans("sources.read"):
            df = spark.read.parquet(spec["input_dir"])
        with spans("schema.build"):
            _, facts, _ = build_pipeline(spark, df)
        with spans("schema.facts"):
            facts.df().write.format("noop").mode("overwrite").save()
        with spans("schema.rollup"):
            return flagship(spark, df).collect()

    results = closed_loop(out, spans, spec["steps"], spec["warmup"], one_pass)
    out["checks"] = [rollup_rows(rows, "source") == want for rows in results]
    out["rows_total"] = n * len(out["steps"])
    out["tokens_total"] = loadgen.token_count(first, n) * len(out["steps"])


# -- incremental_retention ----------------------------------------------------


def incremental_retention(spark, spec: dict, spans: Spans, out: dict) -> None:
    from bistro_spark.caching import pinned_ids
    from bistro_spark.pipeline import prepare_facts
    from bistro_spark.streaming.incremental import AggSpec, IncrementalRunner

    aggs = [
        AggSpec("n_seq", "count(*)", "sum", 0, invertible=True),
        AggSpec("sum_tok", "sum(n_tok_calc)", "sum", 0, invertible=True),
        AggSpec("sum_weighted", "sum(cast(weighted_tok as decimal(20,6)))", "sum", 0, invertible=True),
    ]
    keep = spec["retention"]
    runner = IncrementalRunner(
        spark, lambda b: prepare_facts(spark, b), ["src"], aggs, retention_count=keep
    )
    files, per = spec["input_files"], spec["rows_per_file"]

    def step(k: int):
        with spans("sources.read"):
            delta = spark.read.parquet(files[k])
        with spans("incremental.add"):
            runner.add_batch(delta)
        with spans("incremental.result"):
            return runner.result().collect()

    def expected(k: int) -> dict:
        added = (k + 1) * per
        lo = max(0, added - keep)
        return {s: (c, t, float(w)) for s, (c, t, w) in
                loadgen.expected_rollup(spec["first"] + lo, added - lo).items()}

    def got(rows) -> dict:
        return {s: (c, t, float(w)) for s, (c, t, w) in rollup_rows(rows, "src").items()}

    results = closed_loop(out, spans, len(files), spec["warmup"], step)
    out["checks"] = [got(rows) == expected(k) for k, rows in enumerate(results)]
    timed = len(out["steps"])
    out["rows_total"] = per * timed
    out["tokens_total"] = loadgen.token_count(spec["first"] + (len(files) - timed) * per, per * timed)
    out["layer"]["incremental.buffer_partitions"] = runner.window().rdd.getNumPartitions()
    storage = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    ids = pinned_ids(spark)
    out["layer"]["caching.pinned_bytes"] = float(
        sum(i.memSize() + i.diskSize() for i in storage if i.id() in ids)
    )


# -- stream_sketch output check ----------------------------------------------


def stream_check(spark, spec: dict, spans: Spans, out: dict) -> None:
    """Committed sink output against two oracles, over the windows the final
    watermark closed: the closed-form F1 window rollup (count and sums, every
    window), and a batch recompute with ``prepare_facts(sketch=True)`` +
    ``tumbling_window_accu`` (all columns, on a seed-chosen sample of
    windows, since the batch sketch costs as much as the stream itself).
    Also no (window, src) row may be committed twice. Counts one check per
    committed micro-batch, plus one for windows missing from the sink."""
    import random
    from datetime import datetime

    from pyspark.sql import functions as F

    from bistro_spark.pipeline import prepare_facts
    from bistro_spark.sources.tokens import TOKEN_SCHEMA
    from bistro_spark.streaming.sink import IdempotentParquetSink
    from bistro_spark.streaming.windows import tumbling_window_accu

    window_us = spec["window_s"] * 1_000_000
    watermark = datetime.fromisoformat(spec["watermark"].replace("Z", "+00:00"))
    want = {
        key: v for key, v in
        loadgen.expected_windows(spec["first"], spec["rows"], window_us).items()
        if key[0] + window_us <= watermark.timestamp() * 1_000_000
    }
    picked = random.Random(spec["seed"]).sample(sorted({w for w, _ in want}), min(4, len(want)))
    rows_per_window = window_us // loadgen.EVENT_STEP_US
    in_picked = F.lit(False)
    for w in picked:
        lo = (w - loadgen.EPOCH_US) // loadgen.EVENT_STEP_US
        in_picked = in_picked | F.col("batch_ofs").between(lo, lo + rows_per_window - 1)
    aggs = {
        "n_seq": "count(*)", "sum_tok": "sum(n_tok_calc)", "sum_weighted": "sum(weighted_tok)",
        "n_distinct": "approx_count_distinct(fingerprint)", "sig_min": "min(tok_sig[0])",
    }
    with spans("check.recompute"):
        src = spark.read.schema(TOKEN_SCHEMA).parquet(*spec["input_files"]).filter(in_picked)
        recomputed = tumbling_window_accu(
            prepare_facts(spark, src, sketch=True), "event_time", f"{spec['window_s']} seconds",
            ["src"], aggs,
        ).select(F.unix_micros("window_start").alias("ws"), "src", *aggs).collect()
    want_all = {(r["ws"], r["src"]): tuple(r[c] for c in aggs) for r in recomputed}

    sink = IdempotentParquetSink(spec["sink"])
    with spans("check.sink"):
        got = sink.read_committed(spark).select(
            F.unix_micros("window_start").alias("ws"), "src", *aggs, F.input_file_name().alias("file")
        ).collect()
    seen, bad_batches = set(), set()
    for r in got:
        key = (r["ws"], r["src"])
        vals = tuple(r[c] for c in aggs)
        ok = key not in seen and want.get(key) == vals[:3]
        if key in want_all:
            ok = ok and want_all[key] == vals
        if not ok:
            bad_batches.add(int(r["file"].split("batch_id=")[1].split("/")[0]))
        seen.add(key)
    out["checks"] = [b not in bad_batches for b in range(sink.committed_through() + 1)]
    out["checks"].append(seen == set(want))


WORKLOADS = {
    "batch_calculus": batch_calculus,
    "incremental_retention": incremental_retention,
    "stream_check": stream_check,
}


def run(name: str, spec: dict) -> None:
    """Run one workload and write its result JSON to ``spec["result"]``."""
    spans = Spans()
    out = {"checks": [], "steps": [], "layer": {}, "error": None}
    spark = session(spec, spans)
    try:
        WORKLOADS[name](spark, spec, spans, out)
    except Exception as e:  # noqa: BLE001 - reported as a failed run
        import traceback

        traceback.print_exc()
        out["error"] = f"{type(e).__name__}: {e}"
    finally:
        out["spans"] = spans.rows
        spark.stop()
        with open(spec["result"], "w") as f:
            json.dump(out, f)


if __name__ == "__main__":
    with open(sys.argv[2]) as f:
        run(sys.argv[1], json.load(f))
