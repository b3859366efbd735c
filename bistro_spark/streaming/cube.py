"""Streaming twins of the OLAP rollup report (`operators.olap.rollup_report`)
and the load heatmap (`operators.temporal.load_heatmap`) — the live mixture
and capacity dashboards.

The rollup's sufficient statistic is the (d1, d2, count, sum) CELL grid,
bounded by |d1|×|d2| no matter how long the stream runs, and every rollup
level is derivable from the cells by re-aggregation over that tiny grid;
the heatmap's is the (dow, hour, count, Σvalue) grid, bounded at 168
cells. The grouping-set expansion runs over grid-sized inputs only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bistro_spark.session import local_frame
from bistro_spark.streaming.incremental import AggSpec, IncrementalRunner

_ALL = "(all)"


class StreamingCubeMonitor(IncrementalRunner):
    """Per-trigger rollup report of the stream seen so far. Feed
    micro-batch DataFrames to :meth:`process_batch` (foreachBatch-shaped);
    each call returns the current (d1, d2, n_rows, total_len) table with
    '(all)' subtotal and grand-total rows — the batch operator's exact
    schema and values."""

    def __init__(
        self,
        spark: SparkSession,
        dims: tuple[str, str] = ("source", "lang"),
        len_col: str = "n_chars",
    ):
        super().__init__(
            spark,
            lambda df: df,
            list(dims),
            [
                AggSpec("n_rows", "count(1)", "sum"),
                AggSpec(
                    "total_len", f"sum(CAST(`{len_col}` AS BIGINT))", "sum"
                ),
            ],
        )
        self.dims = dims

    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        self.add_batch(batch_df)
        return self.report()

    def report(self) -> DataFrame:
        """Rollup-expand the retained cell grid (grid-sized work)."""
        d1, d2 = self.dims
        g = (
            self._state
            if self._state is not None
            else local_frame(
                self.spark,
                [], f"{d1} string, {d2} string, n_rows long, total_len long"
            )
        )
        lvl = lambda e1, e2: g.groupBy().agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("total_len").cast("long").alias("total_len"),
        ).select(e1.alias(d1), e2.alias(d2), "n_rows", "total_len")
        cells = g.select(d1, d2, "n_rows", "total_len")
        sub = (
            g.groupBy(d1)
            .agg(
                F.sum("n_rows").cast("long").alias("n_rows"),
                F.sum("total_len").cast("long").alias("total_len"),
            )
            .select(d1, F.lit(_ALL).alias(d2), "n_rows", "total_len")
        )
        grand = lvl(F.lit(_ALL), F.lit(_ALL))
        out = cells.union(sub).union(grand)
        # an empty stream has no grand-total row yet (sum over zero rows
        # yields one NULL row from groupBy().agg) — drop it
        return out.filter(F.col("n_rows").isNotNull())


class StreamingHeatmap(IncrementalRunner):
    """Streaming twin of :func:`operators.temporal.load_heatmap`. The value
    sum is carried UNROUNDED as a decimal, so the per-trigger report's
    round-6 ``sum_value`` equals the batch operator's bit-for-bit
    regardless of batching. The integer epoch time math is the batch
    operator's own (no calendar layer)."""

    def __init__(self, spark: SparkSession, ts_col: str = "ts",
                 val_col: str = "value"):
        us = F.unix_micros(F.col(ts_col).cast("timestamp"))
        super().__init__(
            spark,
            lambda df: df.select(
                us.alias("_us"),
                F.col(val_col).cast("decimal(30,6)").alias("_v"),
            ).select(
                ((F.expr("_us DIV 86400000000") + F.lit(4)) % 7)
                .cast("long")
                .alias("dow"),
                (F.expr("_us DIV 3600000000") % 24).cast("long").alias("hour"),
                "_v",
            ),
            ["dow", "hour"],
            [
                AggSpec("n_events", "count(1)", "sum"),
                AggSpec("_sum", "sum(_v)", "sum"),
            ],
        )

    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        self.add_batch(batch_df)
        return self.report()

    def report(self) -> DataFrame:
        g = (
            self._state
            if self._state is not None
            else local_frame(
                self.spark,
                [], "dow long, hour long, n_events long, _sum decimal(30,6)"
            )
        )
        return g.select(
            "dow",
            "hour",
            "n_events",
            F.round(F.col("_sum").cast("double"), 6).alias("sum_value"),
        )
