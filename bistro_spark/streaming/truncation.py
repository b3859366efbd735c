"""Streaming context-truncation monitor: the context-window sizing
sweep (``curation.context_truncation_sweep``) kept live as sequences
arrive. Every column of the report is an additive integer sum over rows
(doc count, token total, per-L truncated-doc count and lost-token mass),
so the state is one cell of 2 + 2·|grid| BIGINT counters — grid-bounded,
never stream-bounded — each trigger's delta is reduced distributed-side
by the batch operator's own partials, and the report is the batch
operator's own finalizer over the counters."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bistro_spark.operators.curation import (
    context_truncation_sweep_from_counts,
    truncation_counts,
)
from bistro_spark.streaming.incremental import DriverSumGrid


class StreamingTruncationMonitor(DriverSumGrid):
    """Feed per-trigger deltas of rows carrying ``len_col`` to
    :meth:`process_batch`; read the live sweep via :meth:`report` —
    same schema and rows as batch ``context_truncation_sweep`` over
    everything seen."""

    def __init__(
        self,
        spark: SparkSession,
        len_col: str = "n_tok",
        lengths: tuple[int, ...] = (128, 256, 512, 1024),
    ):
        self.len_col = len_col
        self.lengths = tuple(int(x) for x in lengths)
        cols = ["total_docs", "total_tokens"] + [
            f"{c}_{L}" for L in self.lengths for c in ("tr", "lost")
        ]
        super().__init__(spark, [], cols, 1, "length grid")
        self._cells[()] = [0] * len(cols)  # the sweep of nothing

    def process_batch(self, batch_df: DataFrame) -> None:
        self.add(truncation_counts(batch_df, self.len_col, self.lengths))

    def report(self) -> DataFrame:
        return context_truncation_sweep_from_counts(
            self.frame(", ".join(f"{c} long" for c in self._values)),
            self.lengths,
        )
