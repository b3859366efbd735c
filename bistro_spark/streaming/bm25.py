"""Streaming twin of BM25 relevance (`operators.text.bm25_scores`).

BM25's corpus model is three sufficient statistics — N (doc count),
Σdl (total token count), and df_t per query term — and all three are
ADDITIVE across micro-batches. So the twin's entire state is
2 + #query-terms integers, held driver-side (on a real cluster they
would ride the streaming checkpoint; either way the state is
query-sized, never corpus-sized), and merging a batch is integer
addition — exact, order-independent, overflow-safe to 2⁶³ tokens.

Per trigger:

- ONE partial-aggregated pass over the delta reduces it to its stats
  row (`bm25_stats` — the only data-sized work);
- the grid's one cell (a zero-key ``DriverSumGrid``) absorbs it by
  addition;
- the CURRENT batch's documents are scored against the UPDATED
  cumulative model (`bm25_apply`, broadcast one-row crossJoin) and
  emitted — streaming relevance tagging: each doc is scored with
  everything seen up to and including its own batch.

Full-history equivalence (pytest-pinned): because the accumulated
integers after k triggers EQUAL the batch statistics of the union,
:meth:`rescore` of any relation under the streamed model is
bit-identical to batch ``bm25_scores`` over the union — the same
additive-sufficient-statistics argument as the drift monitor
(`streaming.drift`) and heavy hitters (`streaming.state`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bistro_spark.operators.text import bm25_apply, bm25_stats
from bistro_spark.streaming.incremental import DriverSumGrid


class StreamingBM25(DriverSumGrid):
    """Incremental BM25 scorer. Feed micro-batch DataFrames to
    :meth:`process_batch` (foreachBatch-shaped); each call returns the
    batch's (query_id, doc_id, n_hits, score) under the
    stats-so-far model. :meth:`rescore` replays any relation under the
    current model (exact batch parity over the full history).

    The model is one zero-key cell of the grid, holding ``bm25_stats``'
    columns; it starts at zero counts, and kill/resume is the grid's
    snapshot."""

    def __init__(
        self,
        spark: SparkSession,
        queries: dict[int, list[str]],
        text_col: str = "text",
        id_col: str = "doc_id",
    ):
        self.terms = sorted({t for ts in queries.values() for t in ts})
        stats = ["_n_docs", "_sum_dl"]
        stats += [f"_df_{i}" for i in range(len(self.terms))]
        super().__init__(spark, [], stats, None, "cells")
        self.absorb([dict.fromkeys(stats, 0)])
        self.queries = queries
        self.text_col = text_col
        self.id_col = id_col

    @property
    def n_docs(self) -> int:
        return self.rows()[0][0]

    @property
    def sum_dl(self) -> int:
        return self.rows()[0][1]

    @property
    def df_t(self) -> dict[str, int]:
        return dict(zip(self.terms, self.rows()[0][2:]))

    def state_size(self) -> int:
        """Retained integers — 2 + #query-terms, constant for life."""
        return len(self._values)

    def _stats_df(self) -> DataFrame:
        return self.frame(", ".join(f"{c} long" for c in self._values))

    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        self.add(bm25_stats(batch_df, self.terms, self.text_col))
        return bm25_apply(
            batch_df, self.queries, self._stats_df(), self.text_col, self.id_col
        )

    def rescore(self, df: DataFrame) -> DataFrame:
        """Score ``df`` under the accumulated model — with ``df`` = the
        union of every batch fed so far, this is EXACTLY batch
        ``bm25_scores`` of that union (additive integer stats). A model of
        zero documents (no trigger yet, or restored from a zero snapshot)
        has no average length to score against, so it raises."""
        if self.n_docs == 0:
            raise ValueError("no rows absorbed yet")
        return bm25_apply(
            df, self.queries, self._stats_df(), self.text_col, self.id_col
        )
