"""Streaming vocabulary monitor: entropy + Zipf exponent per trigger.

``token_entropy`` and ``zipf_alpha`` share one sufficient statistic —
the (group, term, c) term-frequency store, vocabulary-sized
(|groups| x |terms-seen|) — bounded by the corpus vocabulary, not the
stream length (Heaps' law: sublinear growth; the same asymptote any
exact vocabulary needs). On a real cluster the store is an
Iceberg/Delta table MERGE'd per trigger, co-partitioned on (group, term).

One store, two live reports — the pattern that matters operationally:
entropy collapse and alpha steepening are the two earliest template-
spam alarms, and they come for free off the same state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bistro_spark.streaming.incremental import AggSpec, IncrementalRunner


def _term_counts(df: DataFrame, group_col: str, text_col: str) -> DataFrame:
    return (
        df.select(
            F.col(group_col),
            F.explode(F.split(F.col(text_col), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy(group_col, "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def _entropy_from_counts(counts: DataFrame, group_col: str) -> DataFrame:
    per_group = counts.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(
            F.round(F.col("c") * F.log("c"), 9).cast("decimal(38,9)")
        ).alias("_clnc"),
        F.sum(
            F.round(F.log(F.col("c") * 2.0), 9).cast("decimal(38,9)")
        ).alias("_slnx"),
    )
    return per_group.select(
        group_col,
        "n_terms",
        "n_tokens",
        F.round(
            F.log("n_tokens")
            - F.col("_clnc").cast("double") / F.col("n_tokens"),
            6,
        ).alias("entropy"),
        F.round(
            F.lit(1.0) + F.col("n_terms") / F.col("_slnx").cast("double"),
            6,
        ).alias("alpha"),
    )


class StreamingVocabMonitor(IncrementalRunner):
    """Feed micro-batches to :meth:`process_batch`; each call returns
    the current (group, n_terms, n_tokens, entropy, alpha) report for
    everything seen so far — exact batch parity per trigger. State is
    |groups| x |terms seen| rows — vocabulary-, not stream-sized."""

    def __init__(
        self,
        spark: SparkSession,
        group_col: str = "source",
        text_col: str = "text",
    ):
        super().__init__(
            spark,
            lambda df: _term_counts(df, group_col, text_col),
            [group_col, "term"],
            [AggSpec("c", "sum(c)", "sum")],
        )
        self.group_col = group_col

    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        self.add_batch(batch_df)
        return _entropy_from_counts(self.result(), self.group_col)
