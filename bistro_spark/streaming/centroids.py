"""Streaming centroid-shift monitor: embedding drift against a FIXED
reference snapshot, kept live as new vectors arrive — the alarm an
embedding pipeline wants the moment an encoder change or upstream
filter starts moving class centroids.

The reference side's per-(label, dim) integer component sums are
computed ONCE batch-side at construction (labels×dims grid, the same
cardinality the batch operator aggregates to). The live side's state is
the identical grid: each trigger's delta reduces distributed-side
through the same quantize→posexplode→conditional-sum plan the batch
operator runs. The report recomputes the DECIMAL numerator from the
exact integer grids with the batch operator's own formula, and the one
float through the engine, so rows hash-match the batch columns
verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bistro_spark.operators.similarity import (
    _int_quantize_expr,
    centroid_shift,
)
from bistro_spark.session import local_frame
from bistro_spark.streaming.incremental import DriverSumGrid


class StreamingCentroidShiftMonitor(DriverSumGrid):
    """Feed per-trigger deltas of (vec, label) rows to
    :meth:`process_batch`; read the live drift via :meth:`report` —
    same schema and rows as batch ``centroid_shift(reference,
    all_seen)``."""

    def __init__(
        self,
        spark: SparkSession,
        reference: DataFrame,
        vec_col: str = "embedding",
        label_col: str = "label",
        scale: int = 10**6,
        max_cells: int = 10_000_000,
    ):
        super().__init__(
            spark, ["lbl", "dim"], ["s", "n"], int(max_cells),
            "live grid cell count (max_cells)",
        )
        self.vec_col = vec_col
        self.label_col = label_col
        self.scale = int(scale)
        # the reference grid, computed once: (label, dim) -> (sum, n)
        self._ref = {
            (r["lbl"], r["dim"]): (r["s"], r["n"])
            for r in self._grid(reference).collect()
        }
        if not self._ref:
            raise ValueError(
                "StreamingCentroidShiftMonitor: empty reference snapshot"
            )

    def _grid(self, df: DataFrame):
        if df.filter(F.col(self.label_col).isNull()).limit(1).count():
            raise ValueError("centroid_shift: NULL label")
        return (
            df.select(
                F.col(self.label_col).alias("lbl"),
                F.posexplode(
                    _int_quantize_expr(self.vec_col, self.scale)
                ).alias("dim", "v"),
            )
            .groupBy("lbl", "dim")
            .agg(
                F.sum("v").cast("long").alias("s"),
                F.count(F.lit(1)).cast("long").alias("n"),
            )
        )

    def state_size(self) -> int:
        return len(self._cells)

    def process_batch(self, batch_df: DataFrame) -> int:
        """Merge one trigger's delta (reduced distributed-side to its
        own (label, dim) grid); returns cells touched."""
        return len(self.add(self._grid(batch_df)))

    # --------------------------------------------------------- report --
    def report(self) -> DataFrame:
        """The live drift — columns and rows exactly as the batch
        operator emits them (numerator from exact integer grids; the
        float computed by the ENGINE with the batch expression)."""
        labels = {k[0] for k in self._ref} | {k[0] for k in self._cells}
        rows = []
        for lbl in labels:
            ro = {d: sn for (l2, d), sn in self._ref.items() if l2 == lbl}
            rn = {d: sn for (l2, d), sn in self._cells.items() if l2 == lbl}
            n_old = next(iter(ro.values()))[1] if ro else 0
            n_new = next(iter(rn.values()))[1] if rn else 0
            if n_old and n_new:
                num = sum(
                    (
                        ro.get(d, (0, 0))[0] * n_new
                        - rn.get(d, (0, 0))[0] * n_old
                    )
                    ** 2
                    for d in set(ro) | set(rn)
                )
            else:
                num = None
            import decimal

            rows.append(
                (
                    lbl,
                    n_old,
                    n_new,
                    decimal.Decimal(num) if num is not None else None,
                )
            )
        df = local_frame(
            self.spark,
            rows,
            f"{self.label_col} int, n_old long, n_new long, "
            "shift2_num decimal(38,0)",
        )
        denom = (
            F.col("n_old").cast("double")
            * F.col("n_new").cast("double")
            * F.lit(float(self.scale))
        )
        return df.withColumn(
            "shift",
            F.when(
                F.col("shift2_num").isNotNull(),
                F.round(
                    F.sqrt(F.col("shift2_num").cast("double")) / denom, 9
                ),
            ),
        )


__all__ = ["StreamingCentroidShiftMonitor", "centroid_shift"]
