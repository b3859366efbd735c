"""Streaming twin of the composed ingest pipeline (`q_ingest_pipeline`):
PII scrub → length/quality gates → exact dedup → per-source audit, as a
foreachBatch stage over live ingest.

Stage semantics under streaming:

- scrub + gates are STATELESS maps — identical per batch and in batch
  mode (the streaming≡batch property every stateless curation stage in
  this engine is tested for);
- exact dedup keeps the FIRST ARRIVAL of each distinct text (state =
  the md5 content-fingerprint store of retained docs — the same
  asymptote any exact dedup carries; on a cluster an Iceberg table
  MERGE'd per trigger, or the bloom-pruned probe of
  ``incremental_span_dedup`` when approximate pruning is acceptable);
- the per-source report is an ADDITIVE grid (n_docs, n_redactions,
  total_words are sums over survivors), merged by summation — so the
  emitted report after k triggers EXACTLY equals the batch pipeline
  over the union of all deltas WHENEVER first-arrival == min-id
  (batches arriving in id order), which is pytest-pinned; the
  documented divergence (a duplicate whose smaller id arrives later
  keeps the earlier arrival instead — reservoir semantics, the
  streaming-native survivor choice) is pinned by an explicit
  counter-example, mirroring the token-budget twin's contract.

Per-trigger work: O(|delta|) map work + one fingerprint-store probe
join + a grid-sized merge. State: fingerprint store (corpus-distinct-
sized) + the #sources-row report grid, each one pinned checkpoint
swapped per trigger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bistro_spark.caching import PinOwner
from bistro_spark.streaming.incremental import merge_grid


class StreamingIngestPipeline(PinOwner):
    """Feed micro-batches of (id, source, text) rows to
    :meth:`process_batch`; each call returns the cumulative
    (source, n_docs, n_redactions, total_words) audit report."""

    def __init__(
        self,
        spark: SparkSession,
        id_col: str = "doc_id",
        source_col: str = "source",
        text_col: str = "text",
        min_words: int = 20,
        min_quality: float = 1.05,
    ):
        super().__init__(spark)
        self.id_col = id_col
        self.source_col = source_col
        self.text_col = text_col
        self.min_words = min_words
        self.min_quality = min_quality
        self._seen: DataFrame | None = None  # (_fp) store
        self._grid: DataFrame | None = None  # per-source sums
        self.batches_seen = 0

    def store_rows(self) -> int:
        return 0 if self._seen is None else self._seen.count()

    def _scrub_and_gate(self, batch_df: DataFrame) -> DataFrame:
        from bistro_spark.operators.text import (
            quality_score,
            redact_pii,
            word_count,
        )

        # gates evaluate the RAW content before scrubbing (same reason
        # as the batch pipeline: scrub tokens distort quality metrics,
        # and Catalyst would re-inline the regexp chain per reference)
        clean = redact_pii(
            batch_df.withColumn(
                "_nw", word_count(self.text_col).cast("long")
            ).withColumn("_q", quality_score(self.text_col)),
            text_col=self.text_col,
        )
        nred = (
            F.col("n_redact_email")
            + F.col("n_redact_phone")
            + F.col("n_redact_ipv4")
        ).cast("long")
        enriched = clean.select(
            self.id_col,
            self.source_col,
            nred.alias("_nred"),
            "_nw",
            "_q",
            F.md5(F.col(self.text_col)).alias("_fp"),
        )
        return enriched.filter(
            (F.col("_nw") >= self.min_words)
            & (F.col("_q") >= self.min_quality)
        )

    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        self.batches_seen += 1
        gated = self._scrub_and_gate(batch_df)
        # within-batch first arrival = min id (deterministic), then
        # drop anything already retained from earlier triggers
        batch_surv = gated.groupBy("_fp").agg(
            F.min(
                F.struct(self.id_col, self.source_col, "_nred", "_nw")
            ).alias("s")
        )
        if self._seen is not None:
            batch_surv = batch_surv.join(self._seen, "_fp", "left_anti")
        delta_grid = batch_surv.groupBy(
            F.col(f"s.{self.source_col}").alias(self.source_col)
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("s._nred").cast("long").alias("n_redactions"),
            F.sum("s._nw").cast("long").alias("total_words"),
        )
        merged_seen = batch_surv.select("_fp")
        if self._seen is not None:
            merged_seen = self._seen.unionByName(merged_seen)
        self._grid = self._pin(
            merge_grid(self._grid, delta_grid, [self.source_col])
        )
        self._seen = self._pin(merged_seen)
        self._commit()
        return self._grid
