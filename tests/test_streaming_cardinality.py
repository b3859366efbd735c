"""Streaming HLL cardinality monitor: batching-insensitive sketch
union (estimate parity with the batch sketch over the union of all
deltas at every trigger), error bound vs exact distincts, bounded
state, pin lifecycle."""

from __future__ import annotations

from pyspark.sql import functions as F

from bistro_spark.caching import pinned_ids
from bistro_spark.streaming.cardinality import StreamingCardinalityMonitor


def _batches(spark):
    docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet"
    ).select("doc_id", "source", "lang", "text")
    return docs, [docs.filter(f"doc_id % 4 = {i}") for i in range(4)]


def _batch_sketch_report(seen, lg_k=12):
    first = "text"
    out = seen.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        *[
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col(c), F.lit(lg_k))
            )
            .cast("long")
            .alias(f"n_{c}")
            for c in ("text", "lang")
        ],
    )
    return out.withColumn(
        "dup_ratio",
        F.round(F.lit(1.0) - F.col(f"n_{first}") / F.col("n_rows"), 6),
    )


def test_streaming_cardinality_estimate_parity_and_bounds(spark):
    """Sketch union is order/batching-insensitive: the monitor's report
    equals the batch sketch over everything seen, at every trigger —
    and the estimates stay within HLL error of exact distincts."""
    docs, batches = _batches(spark)
    mon = StreamingCardinalityMonitor(spark)
    seen = None
    for b in batches:
        got = sorted(tuple(r) for r in mon.process_batch(b).collect())
        seen = b if seen is None else seen.unionByName(b)
        want = sorted(
            tuple(r) for r in _batch_sketch_report(seen).collect()
        )
        assert got == want
    exact = {
        r["source"]: (r["n_rows"], r["nt"], r["nl"])
        for r in seen.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("text").alias("nt"),
            F.countDistinct("lang").alias("nl"),
        )
        .collect()
    }
    for r in mon.report().collect():
        n_rows, nt, nl = exact[r["source"]]
        assert r["n_rows"] == n_rows
        assert abs(r["n_text"] - nt) <= max(3, 0.1 * nt)
        assert abs(r["n_lang"] - nl) <= max(3, 0.1 * nl)
    mon.close()


def test_streaming_cardinality_state_bound_and_pin_lifecycle(spark):
    """State rows == #groups whatever the stream length; one pinned
    checkpoint across triggers; close() releases everything."""
    docs, batches = _batches(spark)
    n_groups = docs.select("source").distinct().count()
    mon = StreamingCardinalityMonitor(spark)
    before = set(pinned_ids(spark))
    for b in batches:
        mon.process_batch(b).count()
        assert mon.state_rows() <= n_groups
        assert len(set(pinned_ids(spark)) - before) == len(mon.owned_ids)
    assert mon.batches_seen == 4
    mon.close()
    assert set(pinned_ids(spark)) - before == set()
