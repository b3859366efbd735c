"""Streaming twin of snapshot drift detection (`operators.drift`).

A live ingest stream should raise the same alarm the batch op raises
between snapshots — without ever re-scanning history. Length drift makes
that free: its sufficient statistic is the (group, log2-bucket, count)
grid, which is *additive* across micro-batches and *bounded* at
groups x 16 rows no matter how long the stream runs. So the monitor's
entire state is one tiny count grid:

- per trigger, reduce the delta to its grid (the only data-sized work,
  one partial-aggregated groupBy over the batch);
- merge by summation into the retained grid (a union + re-agg over
  <= 2 x groups x 16 rows);
- emit :func:`operators.drift.length_drift_from_counts` of the pinned
  REFERENCE grid vs the retained grid.

Because counts are additive, the output after k triggers is EXACTLY the
batch ``length_drift(reference, union of all deltas)`` — full-history
equivalence with O(groups) state (pytest-pinned). Contrast with the
selection twins (`streaming.select`), whose token-budget semantics are
reservoir-shaped by necessity; drift has no such caveat.

State is a keep-released localCheckpoint chain (`bistro_spark.caching`):
one pinned grid for the reference (released on close()) and one for the
accumulated stream, swapped per trigger. On a real cluster the grid
would live in the checkpoint as a tiny table; either way it is
group-cardinality-sized, never corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bistro_spark.caching import pin, release
from bistro_spark.operators.drift import (
    length_counts,
    length_drift_from_counts,
)
from bistro_spark.session import local_frame


class StreamingDriftMonitor:
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
        self.spark = spark
        self.group_col = group_col
        self.len_col = len_col
        ref, self._ref_ids = pin(
            length_counts(reference_df, group_col, len_col)
        )
        self._ref = ref
        self._grid: DataFrame | None = None  # accumulated stream counts
        self._pin_ids: set[int] = set()
        self.batches_seen = 0

    def state_rows(self) -> int:
        """Current retained-grid size — bounded by groups x 16."""
        return 0 if self._grid is None else self._grid.count()

    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        self.batches_seen += 1
        delta = length_counts(batch_df, self.group_col, self.len_col)
        merged = (
            delta
            if self._grid is None
            else self._grid.unionByName(delta)
            .groupBy(self.group_col, "_bk")
            .agg(F.sum("_n").alias("_n"))
        )
        grid, grid_ids = pin(merged)
        old_ids = self._pin_ids
        self._grid = grid
        self._pin_ids = grid_ids
        release(self.spark, old_ids)
        return length_drift_from_counts(self._ref, grid, self.group_col)

    def close(self) -> None:
        """Release both pinned grids (idempotent)."""
        release(self.spark, self._pin_ids)
        release(self.spark, self._ref_ids)
        self._pin_ids = set()
        self._ref_ids = set()
        self._grid = None


class StreamingKSMonitor:
    """Streaming twin of :func:`operators.olap.ks_drift` — the live
    source-vs-rest distribution-shift dashboard. The KS statistic's
    sufficient statistic is the additive (group, length, count) grid
    (dimension-sized: |groups|·|distinct lengths|, independent of stream
    length), so state is ONE pinned grid; per trigger the delta reduces
    to its grid in one partial-aggregated groupBy, the merge is a
    union+re-agg, and the report is the batch operator's own
    ``ks_from_grid`` over the retained grid — exact full-history parity
    at every trigger by construction (integer counts never lose
    anything to batching)."""

    def __init__(
        self,
        spark: SparkSession,
        group_col: str = "source",
        len_col: str = "n_chars",
    ):
        self.spark = spark
        self.group_col = group_col
        self.len_col = len_col
        self._grid: DataFrame | None = None
        self._pin_ids: set[int] = set()
        self.batches_seen = 0

    def state_rows(self) -> int:
        return 0 if self._grid is None else self._grid.count()

    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        self.batches_seen += 1
        g = self.group_col
        delta = batch_df.groupBy(
            F.col(g), F.col(self.len_col).cast("long").alias("_len")
        ).agg(F.count(F.lit(1)).cast("long").alias("_c"))
        merged = (
            delta
            if self._grid is None
            else self._grid.unionByName(delta)
            .groupBy(g, "_len")
            .agg(F.sum("_c").cast("long").alias("_c"))
        )
        old = self._pin_ids
        self._grid, self._pin_ids = pin(merged)
        release(self.spark, old)
        return self.report()

    def report(self) -> DataFrame:
        from bistro_spark.operators.olap import ks_from_grid

        g = (
            self._grid
            if self._grid is not None
            else local_frame(
                self.spark, [], f"{self.group_col} string, _len long, _c long"
            )
        )
        return ks_from_grid(g, self.group_col)

    def close(self) -> None:
        release(self.spark, self._pin_ids)
        self._pin_ids = set()
        self._grid = None
