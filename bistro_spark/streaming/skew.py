"""Streaming twin of ``bistro_spark.skew.skew_report``: the salting
decision kept live. A stateful streaming aggregation keyed on a hot key
is the case where skew hurts EVERY micro-batch (the state-store
partition for the hot key becomes the per-trigger straggler), so the
place to watch key skew is the stream itself. State is one BIGINT per
key (count or weight mass); the report is the batch operator's own
finalizer over it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bistro_spark.skew import skew_counts, skew_report_from_counts
from bistro_spark.streaming.incremental import DriverSumGrid


class StreamingSkewMonitor(DriverSumGrid):
    """Feed per-trigger deltas to :meth:`process_batch`; read the live
    key-skew audit via :meth:`report` — same schema and same rows as
    batch ``skew_report`` over everything seen."""

    def __init__(
        self,
        spark: SparkSession,
        key_col: str,
        weight_col: str | None = None,
        hot_multiple: float = 2.0,
        max_keys: int = 50_000_000,
    ):
        super().__init__(spark, [key_col], ["n"], int(max_keys), "key count")
        self.key_col = key_col
        self.weight_col = weight_col
        self.hot_multiple = float(hot_multiple)

    def process_batch(self, batch_df: DataFrame) -> int:
        rows = self.add(skew_counts(batch_df, self.key_col, self.weight_col))
        return sum(r["n"] for r in rows)

    def report(self) -> DataFrame:
        self.require_rows()
        key = next(iter(self._cells))[0]
        ktype = "string" if isinstance(key, str) else "long"
        return skew_report_from_counts(
            self.frame(f"{self.key_col} {ktype}, n long"),
            self.key_col,
            self.hot_multiple,
        )
