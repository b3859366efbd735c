"""Streaming twin of the data-mixing schedule
(``operators/curation.mixture_schedule``): keep the mixture's source
counts warm inside the ingest loop, so the training scheduler can be
re-planned from live corpus composition at any trigger without a corpus
re-scan. State is one BIGINT per source; the schedule is the batch
operator's own finalizer over that count vector.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bistro_spark.operators.curation import (
    mixture_counts,
    mixture_schedule_from_counts,
)
from bistro_spark.streaming.incremental import DriverSumGrid


class StreamingMixtureScheduler(DriverSumGrid):
    """Feed per-trigger corpus deltas (any frame with a source column) to
    :meth:`process_batch`; :meth:`schedule` returns the live mixing grid
    — same schema and same rows as batch ``mixture_schedule`` over
    everything seen so far."""

    def __init__(
        self,
        spark: SparkSession,
        source_col: str = "source",
        n_steps: int = 100,
        batch_size: int = 1024,
        max_sources: int = 1_000_000,
    ):
        super().__init__(
            spark, [source_col], ["n"], int(max_sources), "source count"
        )
        self.source_col = source_col
        self.n_steps = int(n_steps)
        self.batch_size = int(batch_size)

    def process_batch(self, batch_df: DataFrame) -> int:
        """Add one trigger's delta to the count vector; returns the
        number of rows absorbed."""
        rows = self.add(mixture_counts(batch_df, self.source_col))
        return sum(r["n"] for r in rows)

    def schedule(self) -> DataFrame:
        """The live mixing grid: per (step, source), sequences to draw
        this step and cumulatively."""
        self.require_rows()
        return mixture_schedule_from_counts(
            self.frame(f"{self.source_col} string, n long"),
            self.source_col,
            self.n_steps,
            self.batch_size,
        )
