"""Streaming twin of embedding near-dup: incremental LSH bucket store.

``operators.dedup.embedding_neardup_pairs`` finds all ≥-threshold cosine
pairs via banded hyperplane LSH. In an incremental-crawl flow the
question per micro-batch is "which arriving vectors near-duplicate
anything retained so far (or each other)?" — and re-running the batch op
over the full history per trigger re-pays the whole corpus every time.

This linker makes the per-trigger cost O(|delta| + collisions):

- state = the bucketed corpus store (id, embedding, table_id, bucket) of
  everything retained so far — the SAME rows the batch op's bucketize
  stage would recompute from scratch (n_tables rows per vector; on a
  real cluster an Iceberg/Delta table appended per trigger, co-bucketed
  on (table_id, bucket) so the probe join is storage-partition-local);
- per trigger, the delta is bucketized ONCE (one Arrow GEMM), probed
  against the store AND against itself bucket-locally, exact cosine runs
  once per distinct candidate pair, and the delta's bucket rows append
  to the store.

EXACT delta-restricted parity with the batch op (pytest-pinned): after
any number of triggers, the union of all emissions equals
``embedding_neardup_pairs(everything seen)`` — each trigger emits
precisely the qualifying pairs that touch ≥1 delta vector, because a
pair collides in the incremental bucket join iff it collides in the
batch bucketize (same deterministic Weyl hyperplanes), and both sides
score the same exact cosine. No recall drift accumulates across
batching boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bistro_spark.caching import PinOwner
from bistro_spark.operators.dedup import (
    _banded_sign_buckets_np,
    _pair_cosine_np,
)


class StreamingNeardupLinker(PinOwner):
    """Feed micro-batches of (id, embedding) rows to
    :meth:`process_batch`; each call returns the qualifying
    (id_a, id_b, cos_sim) pairs involving at least one batch vector
    (valid until the next call — consumed-within-trigger)."""

    def __init__(
        self,
        spark: SparkSession,
        threshold: float = 0.95,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_tables: int = 4,
        bits_per_table: int = 8,
    ):
        super().__init__(spark)
        self.threshold = threshold
        self.id_col = id_col
        self.vec_col = vec_col
        self.n_tables = n_tables
        self.bits = bits_per_table
        self._store: DataFrame | None = None
        self.batches_seen = 0

    def store_rows(self) -> int:
        """n_tables rows per retained vector."""
        return 0 if self._store is None else self._store.count()

    def _bucketize(self, df: DataFrame) -> DataFrame:
        return df.select(
            F.col(self.id_col).alias("id"),
            F.col(self.vec_col).alias("vec"),
            F.posexplode(
                _banded_sign_buckets_np(
                    self.vec_col, self.n_tables, self.bits
                )
            ).alias("table_id", "bucket"),
        )

    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        self.batches_seen += 1
        # previous trigger's delta blocks are consumable until now
        self._begin()
        delta = self._pin(self._bucketize(batch_df), trigger=True)
        l, r = delta.alias("l"), delta.alias("r")
        within = l.join(
            r,
            (F.col("l.table_id") == F.col("r.table_id"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        ).select(
            F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b")
        )
        if self._store is not None:
            s, d = self._store.alias("s"), delta.alias("d")
            cross = s.join(
                d,
                (F.col("s.table_id") == F.col("d.table_id"))
                & (F.col("s.bucket") == F.col("d.bucket")),
            ).select(
                F.least(F.col("s.id"), F.col("d.id")).alias("id_a"),
                F.greatest(F.col("s.id"), F.col("d.id")).alias("id_b"),
            )
            cand = within.unionByName(cross)
        else:
            cand = within
        cand = cand.distinct()
        # embedding lookup: one row per vector (table 0 slice of
        # store ∪ delta — no separate vector table to maintain)
        all_vecs = (
            delta
            if self._store is None
            else self._store.unionByName(delta)
        ).filter(F.col("table_id") == 0)
        va = all_vecs.select(
            F.col("id").alias("id_a"), F.col("vec").alias("va")
        )
        vb = all_vecs.select(
            F.col("id").alias("id_b"), F.col("vec").alias("vb")
        )
        out = (
            cand.join(va, "id_a")
            .join(vb, "id_b")
            .withColumn("cos_sim", F.round(_pair_cosine_np("va", "vb"), 6))
            .filter(F.col("cos_sim") >= self.threshold)
            .select("id_a", "id_b", "cos_sim")
        )
        merged = (
            delta
            if self._store is None
            else self._store.unionByName(delta)
        )
        self._store = self._pin(merged)
        # the returned pairs still read `delta`'s checkpoint AND the
        # previous store (cross candidates + vector lookup) — keep both
        # pinned until the next trigger (consumed-within-trigger)
        self._commit(hold=True)
        return out
