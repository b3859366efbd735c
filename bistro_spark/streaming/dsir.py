"""Streaming twin of DSIR importance weighting (`operators.curation`).

DSIR's hashed bag-of-words model is a fixed grid of per-bucket counts —
(tc, sc) for each of B hash buckets — so the twin's entire state is
2 × B integers, bucket-sized by construction (DSIR's whole trick), never
corpus-sized. Per trigger the delta reduces to its bucket-count grid
(`dsir_bucket_counts`), the log-ratio table is re-frozen from the
cumulative counts (`dsir_llr`) and the CURRENT batch is scored under it
(`dsir_apply`, a zero-shuffle literal-array map stage) — streaming
importance tagging: each document is weighted with everything seen up
to and including its own batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bistro_spark.operators.curation import (
    dsir_apply,
    dsir_bucket_counts,
    dsir_llr,
)
from bistro_spark.streaming.incremental import DriverSumGrid


class StreamingDSIR(DriverSumGrid):
    """Incremental DSIR weigher. Feed micro-batch DataFrames to
    :meth:`process_batch` (foreachBatch-shaped); each call returns the
    batch's (id, is_target, n_feats, log_importance) under the
    model-so-far. :meth:`rescore` replays any relation under the
    current model (exact batch parity over the full history)."""

    def __init__(
        self,
        spark: SparkSession,
        target_expr: str,
        n_buckets: int = 64,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        super().__init__(spark, ["b"], ["tc", "sc"], n_buckets, "bucket count")
        self.target_expr = target_expr
        self.n_buckets = n_buckets
        self.id_col = id_col
        self.text_col = text_col

    def state_size(self) -> int:
        """Retained integers — 2 × n_buckets, constant for life."""
        return 2 * self.n_buckets

    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        self.add(
            dsir_bucket_counts(
                batch_df, self.target_expr, self.n_buckets, self.text_col
            )
        )
        return self.rescore(batch_df)

    def rescore(self, df: DataFrame) -> DataFrame:
        """Weight ``df`` under the accumulated model — with ``df`` = the
        union of every batch fed so far, this is EXACTLY batch
        ``dsir_logweights`` of that union (additive integer counts ⇒
        identical frozen log-ratio table ⇒ identical exact sums)."""
        llr = dsir_llr(
            {b: tuple(v) for (b,), v in self._cells.items()}, self.n_buckets
        )
        scored = dsir_apply(
            df, llr, self.target_expr, self.id_col, self.text_col
        )
        return scored.select(
            self.id_col,
            "is_target",
            "n_feats",
            F.round(F.col("_wsum") / F.lit(1_000_000_000.0), 6).alias(
                "log_importance"
            ),
        )
