"""Streaming twins of the selection family (quota / token budget /
skyline).

Batch ops ``curation.quota_per_group`` and ``curation.token_budget_select``
pick the best documents per group under a cap. Under streaming, the cap
applies to the RETAINED pool (the foreachBatch state), updated per
micro-batch: candidates = retained pool ∪ batch delta, re-select, the
winners become the new pool. Per-batch work is O(|pool| + |delta|) — the
pool is bounded by the cap itself (n rows/group, resp. budget tokens
/group), so state never grows with stream length.

Semantics vs the batch op over FULL history:

- **quota** is exactly equal: top-n ranks only harden as rows arrive, so
  a row outside the top-n can never re-enter — selecting over
  (pool ∪ delta) is selecting over everything ever seen (pytest-pinned
  against the batch op over the accumulated union).
- **token budget** is equal over the retained view but NOT over full
  history: a rejected row's tokens no longer count against later
  arrivals' running totals (once evicted, gone — the reservoir
  semantics). Example: budget 10, A(order 5, 8 tok) kept, B(order 4,
  8 tok) rejected; a later C(order 3, 1 tok) is kept here (8+1 ≤ 10)
  while a full-history recompute would count B and reject C. The parity
  contract (pytest-pinned) is therefore
  with the batch op applied to (retained ∪ delta) each trigger.

State is a keep-released localCheckpoint chain (``bistro_spark.caching``):
each trigger pins the new pool and frees the previous one, so a
long-running stream holds exactly one pool checkpoint. On a real cluster
the pool is an Iceberg/Delta table rewritten per trigger (it is cap-sized,
not corpus-sized).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bistro_spark.caching import PinOwner
from bistro_spark.streaming.incremental import AggSpec, IncrementalRunner


class _PoolSelector(PinOwner):
    """Shared pool-union-reselect loop; subclasses supply the batch op."""

    def __init__(self, spark: SparkSession):
        super().__init__(spark)
        self._pool: DataFrame | None = None  # retained winners, input cols
        self.batches_seen = 0

    def _select(self, candidates: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _derived_cols(self) -> list[str]:
        raise NotImplementedError

    def pool(self) -> DataFrame:
        if self._pool is None:
            raise ValueError("no batches processed")
        return self._pool

    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        """Union the delta into the retained pool, re-select, swap state.
        Returns the CURRENT winners (with the op's derived columns); valid
        until the next call (consumed-within-trigger, as foreachBatch
        does)."""
        self.batches_seen += 1
        cands = (
            batch_df
            if self._pool is None
            else self._pool.unionByName(batch_df)
        )
        # the sweep frees any pins the batch op created internally (e.g.
        # the skyline level set): `out` is checkpointed, so they have no
        # consumer left
        with self._sweep():
            out = self._pin(self._select(cands))
            # the pool view shares `out`'s blocks — no second checkpoint
            self._pool = out.drop(*self._derived_cols())
            self._commit()
        return out


class StreamingQuotaSelector(_PoolSelector):
    """Streaming twin of ``curation.quota_per_group``: keep at most ``n``
    best rows per group across the whole stream (exact full-history
    equivalence — see module docstring)."""

    def __init__(
        self,
        spark: SparkSession,
        group_col: str,
        order_col: str,
        n: int,
        id_col: str = "doc_id",
        ascending: bool = False,
    ):
        super().__init__(spark)
        self.kw = dict(
            group_col=group_col,
            order_col=order_col,
            n=n,
            id_col=id_col,
            ascending=ascending,
        )

    def _select(self, candidates: DataFrame) -> DataFrame:
        from bistro_spark.operators.curation import quota_per_group

        return quota_per_group(candidates, **self.kw)

    def _derived_cols(self) -> list[str]:
        return ["quota_rank"]


class StreamingSkylineSelector(_PoolSelector):
    """Streaming twin of ``curation.pareto_frontier``: maintain the
    Pareto frontier (skyline) of everything ever seen, both signals
    maximized.

    EXACT full-history equivalence, from skyline algebra:
    ``sky(A ∪ B) = sky(sky(A) ∪ B)`` — a point dominated in A ∪ B is
    dominated by some skyline point of A ∪ B (dominance is transitive,
    the point set per trigger is finite), which survives into
    ``sky(A) ∪ B``; a point undominated in A ∪ B is a fortiori
    undominated in the subset. So pool-∪-delta re-selection over the
    retained frontier equals the batch op over the whole stream
    (pytest-pinned).

    State is frontier-sized — at most one point per distinct x value
    (plus exact (x, y) ties), NOT stream-sized: skylines of random
    2-D data grow O(log n). Per-trigger work is
    O(|frontier| + |delta|) through the batch op's level-set plan.

    Input batches carry pre-derived signal columns (``x_col``,
    ``y_col`` — calc columns upstream); to minimize a signal, negate
    it upstream. Output/pool schema: (id_col, x, y)."""

    def __init__(
        self,
        spark: SparkSession,
        id_col: str = "doc_id",
        x_col: str = "x",
        y_col: str = "y",
        n_partitions: int | None = None,
    ):
        super().__init__(spark)
        self.id_col, self.x_col, self.y_col = id_col, x_col, y_col
        self.n_partitions = n_partitions

    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        norm = batch_df.select(
            self.id_col,
            F.col(self.x_col).cast("long").alias("x"),
            F.col(self.y_col).cast("long").alias("y"),
        )
        return super().process_batch(norm)

    def _select(self, candidates: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        from bistro_spark.operators.curation import pareto_frontier

        return pareto_frontier(
            candidates,
            id_col=self.id_col,
            x=F.col("x"),
            y=F.col("y"),
            n_partitions=self.n_partitions,
        )

    def _derived_cols(self) -> list[str]:
        return []


class StreamingTokenBudgetSelector(_PoolSelector):
    """Streaming twin of ``curation.token_budget_select``: maintain the
    per-group best-first document pool whose running token total stays
    within ``budget`` (reservoir semantics over the retained view — see
    module docstring for the one documented divergence from a
    full-history recompute)."""

    def __init__(
        self,
        spark: SparkSession,
        group_col: str,
        order_col: str,
        budget: int,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        super().__init__(spark)
        self.kw = dict(
            group_col=group_col,
            order_col=order_col,
            budget=budget,
            id_col=id_col,
            text_col=text_col,
        )

    def _select(self, candidates: DataFrame) -> DataFrame:
        from bistro_spark.operators.curation import token_budget_select

        return token_budget_select(candidates, **self.kw)

    def _derived_cols(self) -> list[str]:
        return ["n_tok", "cum_tok"]


class StreamingCalibrationMonitor(IncrementalRunner):
    """Streaming twin of ``curation.calibrate_signal``'s calibration
    MAP: maintain the (group, v, count) level-set grid — bounded by
    #groups x value domain, never stream-sized — and emit the midrank
    map (group, v, pct) per trigger. Tagging live documents with their
    calibrated score is then a stateless broadcast join the caller
    applies inside the same foreachBatch."""

    def __init__(
        self,
        spark: SparkSession,
        group_col: str = "source",
        value_col: str = "n_chars",
    ):
        from bistro_spark.operators.curation import signal_counts

        super().__init__(
            spark,
            lambda df: signal_counts(
                df.select(group_col, F.col(value_col).cast("long").alias("v")),
                group_col,
            ),
            [group_col, "v"],
            [AggSpec("c_eq", "sum(c_eq)", "sum")],
        )
        self.group_col = group_col

    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        from bistro_spark.operators.curation import calibration_map_from_counts

        self.add_batch(batch_df)
        return calibration_map_from_counts(self.result(), self.group_col)
