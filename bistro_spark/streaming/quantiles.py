"""Streaming twin of ``operators/olap.histogram_quantiles``: exact
quantiles of a bounded-domain integer metric maintained live.

State is the value-domain histogram itself — one BIGINT per DISTINCT
VALUE, the same bound the batch operator's shuffle carries — and the
report is the batch operator's own finalizer over it.

Why this matters on a stream: percentile dashboards over live ingest
(sequence-length p99, quality-score median) usually reach for
approximate sketches; for bounded integer domains the EXACT answer
costs only domain-sized state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bistro_spark.operators.olap import (
    histogram_counts,
    histogram_quantiles_from_counts,
)
from bistro_spark.streaming.incremental import DriverSumGrid


class StreamingQuantileMonitor(DriverSumGrid):
    """Feed per-trigger deltas to :meth:`process_batch`; read the live
    exact-quantile grid via :meth:`report` — same schema and rows as
    batch ``histogram_quantiles`` over everything seen."""

    def __init__(
        self,
        spark: SparkSession,
        value_col: str = "n_chars",
        quantiles: tuple[float, ...] = (0.25, 0.5, 0.9, 0.99),
        max_domain: int = 10_000_000,
    ):
        super().__init__(spark, ["v"], ["c"], int(max_domain), "value domain")
        self.value_col = value_col
        self.quantiles = tuple(float(q) for q in quantiles)

    def process_batch(self, batch_df: DataFrame) -> int:
        rows = self.add(histogram_counts(batch_df, self.value_col))
        return sum(r["c"] for r in rows)

    def report(self) -> DataFrame:
        self.require_rows()
        return histogram_quantiles_from_counts(
            self.frame("v long, c long"), self.quantiles
        )
