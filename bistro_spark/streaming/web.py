"""Streaming twins of the web-curation family (operators/web.py): the
stateless URL gate and the incremental per-domain composition grid.

A live ingest pipeline runs the URL stages the moment pages arrive, not
in a nightly batch:

- :func:`streaming_url_gate` — canonicalization is PURE PROJECTION
  (zero state, zero shuffle, no watermark), so the batch expressions
  apply verbatim to a streaming DataFrame and fuse into the source scan.
  This is the gate form: downstream stages key on ``url_norm`` /
  ``domain`` columns that exist from the first operator on.

- :class:`StreamingDomainStats` — full-history ``domain_stats`` under
  micro-batches with EXACT parity in ANY arrival order. Two stores:

  * seen-URL membership (url_norm-keyed, append-only): the delta's
    distinct new URLs are found with one anti-join probe; on a real
    cluster this is an Iceberg table bucketed by url_norm so the probe
    is storage-partition-local and delta-bounded.
  * the domain grid (domain, n_pages, n_docs): ADDITIVE — every batch
    doc increments its domain's n_docs exactly once, every first-seen
    URL increments n_pages exactly once, so the merge is a
    grid ∪ delta-grid re-aggregation bounded by the DOMAIN count
    (report-sized), never by corpus or stream length.

  Exactness does not depend on arrival order because both measures are
  arrival-order-invariant: n_docs counts every row once, n_pages counts
  every distinct url_norm once (first arrival, whichever trigger that
  is). Pytest pins full-history equality with ``operators.web
  .domain_stats`` after every trigger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bistro_spark.caching import PinOwner
from bistro_spark.operators.web import with_normalized_urls
from bistro_spark.streaming.incremental import merge_grid


def streaming_url_gate(
    stream_df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Map-only canonicalization on a (streaming or batch) DataFrame:
    adds ``url_norm`` and ``domain``. Stateless — Structured Streaming
    accepts it unchanged because it is a projection; no watermark, no
    state store, fused into the scan."""
    return with_normalized_urls(stream_df, url_col=url_col, id_col=id_col)


class StreamingDomainStats(PinOwner):
    """Feed micro-batches of documents to :meth:`process_batch`; each
    call merges the delta and returns the CURRENT full-history
    (domain, n_pages, n_docs, dup_ratio) grid (valid until the next
    call — consumed-within-trigger, as foreachBatch does)."""

    def __init__(self, spark: SparkSession, id_col: str = "doc_id"):
        super().__init__(spark)
        self.id_col = id_col
        self._seen: DataFrame | None = None  # (url_norm) membership
        self._grid: DataFrame | None = None  # (domain, n_pages, n_docs)
        self.batches_seen = 0

    def grid_rows(self) -> int:
        return 0 if self._grid is None else self._grid.count()

    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        self.batches_seen += 1
        self._begin()
        norm = streaming_url_gate(batch_df, id_col=self.id_col)
        # delta-bounded: one partial agg collapses the batch to its URL
        # grid before any state is touched
        delta_urls = self._pin(
            norm.groupBy("url_norm", "domain").agg(
                F.count(F.lit(1)).alias("_n")
            ),
            trigger=True,
        )
        if self._seen is None:
            new_urls = delta_urls
        else:
            new_urls = delta_urls.join(self._seen, "url_norm", "left_anti")
        delta_grid = delta_urls.groupBy("domain").agg(
            F.sum("_n").alias("n_docs")
        ).join(
            new_urls.groupBy("domain").agg(
                F.count(F.lit(1)).alias("n_pages")
            ),
            "domain",
            "full_outer",
        ).select(
            "domain",
            F.coalesce("n_pages", F.lit(0)).cast("long").alias("n_pages"),
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
        )
        merged_grid = merge_grid(self._grid, delta_grid, ["domain"])
        merged_seen = (
            new_urls.select("url_norm")
            if self._seen is None
            else self._seen.unionByName(new_urls.select("url_norm"))
        )
        self._grid = self._pin(merged_grid)
        self._seen = self._pin(merged_seen)
        # the old stores fed the merges above (already materialized by the
        # eager pins); the delta checkpoint is free once the caller is done
        # with this trigger's returned grid
        self._commit()
        return self._grid.select(
            "domain",
            "n_pages",
            "n_docs",
            F.round(F.col("n_docs") / F.col("n_pages"), 6).alias("dup_ratio"),
        )
