"""Streaming corpus-health monitor: the one-stop per-slice dashboard
(``operators/olap.corpus_health``) maintained incrementally — live
volume, duplication, lexical diversity, head-heaviness, and mean
heuristic quality per source, per trigger.

Every constituent of the batch dashboard has an ADDITIVE (or
first-arrival) sufficient statistic, so the monitor is exact in ANY
arrival order:

- **volume + quality grid** (group → n_rows, Σ round-9 decimal quality):
  plain additive sums; the batch op rounds each doc's double score ONCE
  before the decimal sum, so per-batch partial sums merge to the exact
  batch total regardless of batching.
- **content membership store** (group, md5(text)): ``n_distinct`` counts
  every distinct content once at first arrival, whichever trigger that
  is — the same store discipline as ``streaming/web.py``'s seen-URL set
  (Iceberg table bucketed by fingerprint on a real cluster; the delta
  probe is an anti-join, delta-bounded).
- **term-frequency store** (group, term, c): reused verbatim from
  ``streaming/vocab.py`` — integer counts merge by summation; entropy
  and Zipf alpha recompute from MERGED counts exactly as the batch ops
  do (that parity is pinned in test_streaming_vocab).

State = |groups| grid + |distinct contents| membership + |vocabulary|
term store — bounded by corpus content, never stream length (the
membership store is the dedup asymptote any exact distinct needs; swap
``approx=True`` HLL sketches in ``cardinality_report`` when approximate
duplication is acceptable — then state is groups × sketch bytes).

Pytest pins full-history equality with ``corpus_health`` after every
trigger under two different arrival orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bistro_spark.caching import PinOwner
from bistro_spark.streaming.incremental import merge_grid
from bistro_spark.streaming.vocab import _entropy_from_counts, _term_counts


class StreamingCorpusHealth(PinOwner):
    """Feed micro-batches to :meth:`process_batch`; each call returns
    the CURRENT full-history (group, n_rows, n_distinct, dup_ratio,
    n_terms, n_tokens, entropy, alpha, mean_quality) dashboard — valid
    until the next call (consumed-within-trigger, as foreachBatch
    does)."""

    def __init__(
        self,
        spark: SparkSession,
        group_col: str = "source",
        text_col: str = "text",
    ):
        super().__init__(spark)
        self.group_col = group_col
        self.text_col = text_col
        self._grid: DataFrame | None = None  # (group, n_rows, sum_q)
        self._members: DataFrame | None = None  # (group, fp)
        self._terms: DataFrame | None = None  # (group, term, c)
        self.batches_seen = 0

    def state_rows(self) -> tuple[int, int, int]:
        """(grid, membership, term-store) row counts — grid is
        group-bounded, membership content-bounded, terms vocab-bounded."""
        return (
            0 if self._grid is None else self._grid.count(),
            0 if self._members is None else self._members.count(),
            0 if self._terms is None else self._terms.count(),
        )

    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        from bistro_spark.operators.text import quality_score

        self.batches_seen += 1
        self._begin()
        g, t = self.group_col, self.text_col

        delta_grid = batch_df.groupBy(g).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(
                F.round(quality_score(F.col(t)), 9).cast("decimal(38,9)")
            ).alias("sum_q"),
        )
        grid = merge_grid(self._grid, delta_grid, [g])
        delta_members = batch_df.select(
            F.col(g), F.md5(F.col(t)).alias("fp")
        ).distinct()
        members = (
            delta_members
            if self._members is None
            else self._members.unionByName(delta_members).distinct()
        )
        terms = merge_grid(
            self._terms, _term_counts(batch_df, g, t), [g, "term"]
        )

        self._grid = self._pin(grid)
        self._members = self._pin(members)
        self._terms = self._pin(terms)
        self._commit()

        card = self._members.groupBy(g).agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct")
        )
        vol = self._grid.join(card, g).select(
            g,
            "n_rows",
            "n_distinct",
            F.round(
                F.lit(1.0) - F.col("n_distinct") / F.col("n_rows"), 6
            ).alias("dup_ratio"),
            F.round(
                F.col("sum_q").cast("double") / F.col("n_rows"), 6
            ).alias("mean_quality"),
        )
        ent = _entropy_from_counts(self._terms, g)
        return self._pin(
            vol.join(ent, g).select(
                g,
                "n_rows",
                "n_distinct",
                "dup_ratio",
                "n_terms",
                "n_tokens",
                "entropy",
                "alpha",
                "mean_quality",
            ),
            trigger=True,
        )
