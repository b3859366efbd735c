"""Streaming twin of the filter funnel (`operators.curation.filter_funnel`).

A live curation pipeline needs the same drop-attribution report the
batch pass prints — per-rule document/char/word counts — maintained over
an unbounded ingest stream. The funnel's report IS its sufficient
statistic: the (rule, n_docs, n_chars_total, n_words_total) grid is
bounded at #rules + 1 rows, so the monitor keeps nothing else. Gate
attribution is per-document and stateless, so ordering across batches
cannot change any bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bistro_spark.operators.curation import filter_funnel
from bistro_spark.streaming.incremental import AggSpec, IncrementalRunner


class StreamingFunnelMonitor(IncrementalRunner):
    """Per-trigger drop-attribution report of the stream seen so far.
    Feed micro-batch DataFrames to :meth:`process_batch`
    (foreachBatch-shaped); each call returns the cumulative
    (rule, rule_order, n_docs, n_chars_total, n_words_total) report."""

    def __init__(
        self,
        spark: SparkSession,
        text_col: str = "text",
        lang_col: str = "lang",
    ):
        super().__init__(
            spark,
            lambda df: filter_funnel(df, text_col, lang_col),
            ["rule", "rule_order"],
            [
                AggSpec(c, f"sum({c})", "sum")
                for c in ("n_docs", "n_chars_total", "n_words_total")
            ],
        )

    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        self.add_batch(batch_df)
        return self.result()
