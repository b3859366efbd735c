"""Streaming twin of ``operators/curation.bottomk_sample``: a
deterministic uniform-without-replacement sample of everything the
stream has EVER carried, maintained in O(k) state.

Bottom-k by a hash key is a mergeable summary: bottom-k(A ∪ B) =
bottom-k(bottom-k(A) ∪ bottom-k(B)). Each trigger therefore reduces its
delta DISTRIBUTED-side to at most k candidates (TakeOrderedAndProject),
and the driver merge keeps the k smallest overall — EXACT any-order
full-history parity with the batch operator at every trigger, pinned.
Replays are idempotent (the merge dedups by id), and state is exactly
k rows regardless of stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bistro_spark.session import local_frame


class StreamingBottomKSampler:
    """Feed per-trigger deltas to :meth:`process_batch`; read the live
    sample via :meth:`sample` — same schema and rows as batch
    ``bottomk_sample`` over everything seen."""

    def __init__(
        self,
        spark: SparkSession,
        id_col: str = "doc_id",
        k: int = 100,
        keep_cols: tuple[str, ...] = ("source", "n_chars"),
    ):
        self.spark = spark
        self.id_col = id_col
        self.k = int(k)
        self.keep_cols = tuple(keep_cols)
        self._best: list = []  # [(sample_key, id, *keep)] sorted, <= k
        self._schema = None
        self.batches_seen = 0

    # ------------------------------------------------------- recovery --
    def state_snapshot(self) -> list:
        return [list(r) for r in self._best]

    def restore_state(self, snapshot: list) -> None:
        self._best = [tuple(r) for r in snapshot]

    # ---------------------------------------------------------- fold --
    def process_batch(self, batch_df: DataFrame) -> int:
        """Merge one trigger's delta; returns how many sample slots
        changed (0 on a pure replay)."""
        self.batches_seen += 1
        cols = [self.id_col, *self.keep_cols]
        delta = (
            batch_df.select(
                F.md5(F.col(self.id_col).cast("string")).alias(
                    "sample_key"
                ),
                *cols,
            )
            .orderBy("sample_key", self.id_col)
            .limit(self.k)
        )
        if self._schema is None:
            self._schema = delta.schema
        merged = {(r[0], r[1]): tuple(r) for r in self._best}
        before = set(merged)
        for r in delta.collect():
            merged[(r["sample_key"], r[self.id_col])] = tuple(r)
        best = sorted(merged.values())[: self.k]
        changed = len(set((r[0], r[1]) for r in best) - before)
        self._best = best
        return changed

    # -------------------------------------------------------- sample --
    def sample(self) -> DataFrame:
        """The live sample — column order matches the batch operator
        (id, keeps, sample_key)."""
        assert self._schema is not None, "no batch processed yet"
        df = local_frame(self.spark, self._best, self._schema)
        return df.select(self.id_col, *self.keep_cols, "sample_key")


class StreamingStratifiedSampler:
    """Streaming twin of ``operators/curation.stratified_bottomk``: the
    exact-k-per-stratum sample maintained live. Bottom-k is mergeable
    PER GROUP, so state is ≤ k rows per stratum seen and the sample
    equals the batch operator over everything seen at EVERY trigger in
    ANY arrival order (pytest-pinned). Each trigger's delta is pruned
    distributed-side first (WindowGroupLimit — the batch operator's own
    plan), so the driver merge handles ≤ k·#strata rows per trigger."""

    def __init__(
        self,
        spark: SparkSession,
        strata_col: str = "source",
        id_col: str = "doc_id",
        k: int = 25,
        keep_cols: tuple[str, ...] = ("n_chars",),
        max_strata: int = 1_000_000,
    ):
        self.spark = spark
        self.strata_col = strata_col
        self.id_col = id_col
        self.k = int(k)
        self.keep_cols = tuple(keep_cols)
        self.max_strata = int(max_strata)
        self._best: dict = {}  # stratum -> sorted [(key, id, *keep)] <= k
        self.batches_seen = 0

    # ------------------------------------------------------- recovery --
    def state_snapshot(self) -> dict:
        return {s: [list(r) for r in v] for s, v in self._best.items()}

    def restore_state(self, snapshot: dict) -> None:
        self._best = {
            s: [tuple(r) for r in v] for s, v in snapshot.items()
        }

    # ---------------------------------------------------------- fold --
    def process_batch(self, batch_df: DataFrame) -> int:
        from bistro_spark.operators.curation import stratified_bottomk

        self.batches_seen += 1
        delta = stratified_bottomk(
            batch_df, self.strata_col, self.id_col, self.k, self.keep_cols
        ).collect()
        if len(self._best) + len(delta) > self.max_strata * max(self.k, 1):
            raise ValueError(
                f"StreamingStratifiedSampler: strata budget exceeded "
                f"({self.max_strata})"
            )
        changed = 0
        touched: dict = {}
        for r in delta:
            touched.setdefault(r[self.strata_col], []).append(
                (
                    r["sample_key"],
                    r[self.id_col],
                    *[r[c] for c in self.keep_cols],
                )
            )
        for s, rows in touched.items():
            cur = {(r[0], r[1]): r for r in self._best.get(s, [])}
            before = set(cur)
            for r in rows:
                cur[(r[0], r[1])] = r
            best = sorted(cur.values())[: self.k]
            changed += len(set((r[0], r[1]) for r in best) - before)
            self._best[s] = best
        return changed

    # -------------------------------------------------------- sample --
    def sample(self) -> DataFrame:
        """Same schema and rows (incl. per-stratum rank) as batch
        ``stratified_bottomk`` over everything seen."""
        rows = []
        for s in sorted(self._best):
            for rk, r in enumerate(self._best[s], start=1):
                rows.append((s, r[1], *r[2:], r[0], rk))
        keeps = "".join(
            f", {c} long" if c == "n_chars" else f", {c} string"
            for c in self.keep_cols
        )
        return local_frame(
            self.spark,
            rows,
            f"{self.strata_col} string, {self.id_col} long{keeps}, "
            "sample_key string, rk long",
        )
