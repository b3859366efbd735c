"""Streaming twin of ``operators.olap.cardinality_report``'s sketch path.

Exact distinct-counting over an unbounded stream needs state proportional
to the number of distinct values ever seen — stream-sized, the one thing
streaming state must never be. The HLL++ sketch path removes the problem
by construction: a Datasketches HLL sketch is a FIXED-SIZE mergeable
summary whose union is associative and commutative, so the state is one
(group, n_rows, sketch-per-col) row per group, merged by `sum` +
`hll_union_agg`, and the report applies `hll_sketch_estimate` to the
merged sketches — the SAME estimate the batch sketch over the union of
all deltas yields (pytest pins estimate equality against the batch path
at every trigger, plus the error bound against exact distincts).

State: #groups rows x (8 bytes + ~k bytes per tracked column) — bounded
by group cardinality, independent of stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bistro_spark.streaming.incremental import AggSpec, IncrementalRunner


class StreamingCardinalityMonitor(IncrementalRunner):
    """Per-trigger cardinality profile (rows, approx distincts, dup
    ratio) of the stream seen so far. Feed micro-batch DataFrames to
    :meth:`process_batch` (foreachBatch-shaped); each call returns the
    current (group, n_rows, n_<col>..., dup_ratio) report with the
    same schema as ``cardinality_report``."""

    def __init__(
        self,
        spark: SparkSession,
        group_col: str = "source",
        distinct_cols: tuple[str, ...] = ("text", "lang"),
        lg_config_k: int = 12,
    ):
        super().__init__(
            spark,
            lambda df: df,
            [group_col],
            [AggSpec("n_rows", "count(1)", "sum")]
            + [
                AggSpec(
                    f"sk_{c}",
                    f"hll_sketch_agg(`{c}`, {int(lg_config_k)})",
                    "hll_union_agg",
                )
                for c in distinct_cols
            ],
        )
        self.group_col = group_col
        self.distinct_cols = distinct_cols

    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        self.add_batch(batch_df)
        return self.report()

    def report(self) -> DataFrame:
        first = self.distinct_cols[0]
        return self.result().select(
            self.group_col,
            "n_rows",
            *[
                F.hll_sketch_estimate(F.col(f"sk_{c}"))
                .cast("long")
                .alias(f"n_{c}")
                for c in self.distinct_cols
            ],
        ).withColumn(
            "dup_ratio",
            F.round(
                F.lit(1.0) - F.col(f"n_{first}") / F.col("n_rows"), 6
            ),
        )
