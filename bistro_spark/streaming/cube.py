"""Streaming twin of the OLAP rollup report (`operators.olap.rollup_report`)
— the live mixture dashboard: per trigger, the (d1, d2) cell / subtotal /
grand-total table of everything ingested so far.

Like the drift monitor, this is the easy-exact case: the rollup's
sufficient statistic is the additive (d1, d2, count, sum) CELL grid —
bounded by |d1|×|d2| no matter how long the stream runs — and every
rollup level is derivable from the cells by re-aggregation over that
tiny grid. So state is ONE pinned cell grid; per trigger the only
data-sized work is one partial-aggregated groupBy reducing the delta to
its grid; the merge and the three grouping-set expansions run over
grid-sized inputs. Output after k triggers equals the batch
``rollup_report`` of the union of all deltas EXACTLY (pytest-pinned) —
counts and BIGINT sums are order- and batching-independent by
construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bistro_spark.caching import pin, release
from bistro_spark.session import local_frame

_ALL = "(all)"


class StreamingCubeMonitor:
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
        self.spark = spark
        self.dims = dims
        self.len_col = len_col
        self._grid: DataFrame | None = None
        self._pin_ids: set[int] = set()
        self.batches_seen = 0

    def state_rows(self) -> int:
        return 0 if self._grid is None else self._grid.count()

    def _cells(self, df: DataFrame) -> DataFrame:
        d1, d2 = self.dims
        return df.groupBy(d1, d2).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col(self.len_col).cast("long")).cast("long").alias("total_len"),
        )

    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        self.batches_seen += 1
        d1, d2 = self.dims
        delta = self._cells(batch_df)
        merged = (
            delta
            if self._grid is None
            else self._grid.unionByName(delta)
            .groupBy(d1, d2)
            .agg(
                F.sum("n_rows").cast("long").alias("n_rows"),
                F.sum("total_len").cast("long").alias("total_len"),
            )
        )
        old = self._pin_ids
        self._grid, self._pin_ids = pin(merged)
        release(self.spark, old)
        return self.report()

    def report(self) -> DataFrame:
        """Rollup-expand the retained cell grid (grid-sized work)."""
        d1, d2 = self.dims
        g = (
            self._grid
            if self._grid is not None
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
        out = cells.unionByName(sub).unionByName(grand)
        # an empty stream has no grand-total row yet (sum over zero rows
        # yields one NULL row from groupBy().agg) — drop it
        return out.filter(F.col("n_rows").isNotNull())

    def close(self) -> None:
        release(self.spark, self._pin_ids)
        self._pin_ids = set()
        self._grid = None


class StreamingHeatmap:
    """Streaming twin of :func:`operators.temporal.load_heatmap` — the
    live capacity dashboard. Same easy-exact shape as the cube monitor:
    the heatmap's sufficient statistic is the additive
    (dow, hour, count, Σvalue) grid, bounded at 168 cells forever, with
    the value sum carried UNROUNDED (``decimal(30,6)``) so the per-
    trigger report's round-6 ``sum_value`` equals the batch operator's
    bit-for-bit regardless of batching. Per trigger: one partial-
    aggregated groupBy reduces the delta to ≤168 rows; merge is a
    union+re-agg of two grids. The integer epoch time math is the batch
    operator's own (no calendar layer)."""

    def __init__(self, spark: SparkSession, ts_col: str = "ts",
                 val_col: str = "value"):
        self.spark = spark
        self.ts_col = ts_col
        self.val_col = val_col
        self._grid: DataFrame | None = None
        self._pin_ids: set[int] = set()
        self.batches_seen = 0

    def state_rows(self) -> int:
        return 0 if self._grid is None else self._grid.count()

    def _cells(self, df: DataFrame) -> DataFrame:
        us = F.unix_micros(F.col(self.ts_col).cast("timestamp"))
        return (
            df.select(
                us.alias("_us"),
                F.col(self.val_col).cast("decimal(30,6)").alias("_v"),
            )
            .groupBy(
                ((F.expr("_us DIV 86400000000") + F.lit(4)) % 7)
                .cast("long")
                .alias("dow"),
                (F.expr("_us DIV 3600000000") % 24).cast("long").alias("hour"),
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.sum("_v").cast("decimal(30,6)").alias("_sum"),
            )
        )

    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        self.batches_seen += 1
        delta = self._cells(batch_df)
        merged = (
            delta
            if self._grid is None
            else self._grid.unionByName(delta)
            .groupBy("dow", "hour")
            .agg(
                F.sum("n_events").cast("long").alias("n_events"),
                F.sum("_sum").cast("decimal(30,6)").alias("_sum"),
            )
        )
        old = self._pin_ids
        self._grid, self._pin_ids = pin(merged)
        release(self.spark, old)
        return self.report()

    def report(self) -> DataFrame:
        g = (
            self._grid
            if self._grid is not None
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

    def close(self) -> None:
        release(self.spark, self._pin_ids)
        self._pin_ids = set()
        self._grid = None
