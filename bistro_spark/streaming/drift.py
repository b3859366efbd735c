"""Streaming twins of snapshot drift detection (`operators.drift`,
`operators.olap.ks_drift`).

A live ingest stream should raise the same alarm the batch op raises
between snapshots — without ever re-scanning history. Length drift's
sufficient statistic is the (group, log2-bucket, count) grid, bounded at
groups x 16 rows no matter how long the stream runs; the KS statistic's
is the (group, length, count) grid, bounded by |groups|·|distinct
lengths|. Each monitor merges its grid per trigger and emits the batch
operator's own finalizer over it. Contrast with the selection twins
(`streaming.select`), whose token-budget semantics are reservoir-shaped
by necessity; drift has no such caveat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bistro_spark.operators.drift import (
    length_counts,
    length_drift_from_counts,
)
from bistro_spark.operators.olap import ks_from_grid
from bistro_spark.session import local_frame
from bistro_spark.streaming.incremental import AggSpec, IncrementalRunner

_N = [AggSpec("_n", "sum(_n)", "sum")]


class StreamingDriftMonitor(IncrementalRunner):
    """Per-trigger length-drift report of the stream seen so far vs a
    fixed reference snapshot. Feed micro-batch DataFrames to
    :meth:`process_batch` (foreachBatch-shaped); each call returns the
    current (group, n_old, n_new, l1_drift) report."""

    def __init__(
        self,
        spark: SparkSession,
        reference_df: DataFrame,
        group_col: str = "source",
        len_col: str = "n_chars",
    ):
        def counts(df: DataFrame) -> DataFrame:
            return length_counts(df, group_col, len_col)

        super().__init__(spark, counts, [group_col, "_bk"], _N)
        self.group_col = group_col
        # the reference grid: one more add-only runner, fed once
        self._ref = IncrementalRunner(spark, counts, [group_col, "_bk"], _N)
        self._ref.add_batch(reference_df)

    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        self.add_batch(batch_df)
        return length_drift_from_counts(
            self._ref.result(), self.result(), self.group_col
        )

    def close(self) -> None:
        """Release both pinned grids (idempotent)."""
        super().close()
        self._ref.close()


class StreamingKSMonitor(IncrementalRunner):
    """Streaming twin of :func:`operators.olap.ks_drift` — the live
    source-vs-rest distribution-shift dashboard; the report is the batch
    operator's own ``ks_from_grid`` over the merged grid."""

    def __init__(
        self,
        spark: SparkSession,
        group_col: str = "source",
        len_col: str = "n_chars",
    ):
        super().__init__(
            spark,
            lambda df: df.select(
                F.col(group_col), F.col(len_col).cast("long").alias("_len")
            ),
            [group_col, "_len"],
            [AggSpec("_c", "count(1)", "sum")],
        )
        self.group_col = group_col

    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        self.add_batch(batch_df)
        return self.report()

    def report(self) -> DataFrame:
        g = (
            self._state
            if self._state is not None
            else local_frame(
                self.spark, [], f"{self.group_col} string, _len long, _c long"
            )
        )
        return ks_from_grid(g, self.group_col)
