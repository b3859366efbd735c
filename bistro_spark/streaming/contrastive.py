"""Streaming contrastive-pair miner: hard negatives and hard positives
kept live as embedding rows arrive.

The batch operator (``operators/similarity.contrastive_topk``) ranks by
exact integer squared-L2, and a per-(anchor, kind) bottom-k is MERGEABLE:
bottom-k of a union is the bottom-k of merged bottom-ks, the
``StreamingBottomKSampler`` argument. So each trigger is pruned
DISTRIBUTED-side first — the batch operator itself runs on the delta,
emitting at most anchors·2k candidate rows — and the driver merge is a
dict keyed by (anchor, kind, vec_id) with exact-int values, which makes
the fold commutative, associative, AND idempotent: full-history parity
with the batch miner is EXACT at every trigger in ANY arrival order, and
a replayed delta is a no-op (exactly-once comes free).

State is ≤ anchors · 2k rows of integers — anchor-bounded, never
corpus-bounded. Report rows are rebuilt from the state's exact integers,
so they hash-match the batch operator's columns verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bistro_spark.operators.similarity import contrastive_topk
from bistro_spark.session import local_frame


class StreamingContrastiveMiner:
    """Feed per-trigger deltas to :meth:`process_batch`; read the live
    mined pairs via :meth:`pairs` — same schema and rows as batch
    ``contrastive_topk(all_seen, anchors, k)``."""

    def __init__(
        self,
        spark: SparkSession,
        anchors: DataFrame,
        k: int = 5,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        label_col: str = "label",
        scale: int = 10**6,
    ):
        self.spark = spark
        self.anchors = anchors
        self.k = int(k)
        self.id_col = id_col
        self.vec_col = vec_col
        self.label_col = label_col
        self.scale = int(scale)
        # (query_id, kind) -> {vec_id: (l2_sq, label)}, pruned to k
        self._best: dict = {}
        self.batches_seen = 0

    # ------------------------------------------------------- recovery --
    def state_snapshot(self) -> dict:
        """JSON-safe: '<qid>|<kind>' -> [[vec_id, l2_sq, label], ...]."""
        return {
            f"{q}|{kind}": [
                [v, d, lb] for v, (d, lb) in sorted(m.items())
            ]
            for (q, kind), m in self._best.items()
        }

    def restore_state(self, snapshot: dict) -> None:
        self._best = {}
        for key, rows in snapshot.items():
            q, kind = key.rsplit("|", 1)
            self._best[(int(q), kind)] = {
                int(v): (int(d), int(lb)) for v, d, lb in rows
            }

    def _prune(self) -> None:
        for key, m in self._best.items():
            top = sorted(
                ((d, v, lb) for v, (d, lb) in m.items())
            )[: self.k]
            self._best[key] = {v: (d, lb) for d, v, lb in top}

    # ---------------------------------------------------------- fold --
    def process_batch(self, batch_df: DataFrame) -> int:
        """Merge one trigger's delta (pruned distributed-side via the
        batch operator's own plan); returns changed slot count (0 on a
        pure replay)."""
        self.batches_seen += 1
        delta = contrastive_topk(
            batch_df,
            self.anchors,
            k=self.k,
            id_col=self.id_col,
            vec_col=self.vec_col,
            label_col=self.label_col,
            scale=self.scale,
        ).collect()
        before = {
            (q, kind, v)
            for (q, kind), m in self._best.items()
            for v in m
        }
        for r in delta:
            key = (r["query_id"], r["kind"])
            self._best.setdefault(key, {})[r[self.id_col]] = (
                int(r["l2_sq"]),
                r[self.label_col],
            )
        self._prune()
        after = {
            (q, kind, v)
            for (q, kind), m in self._best.items()
            for v in m
        }
        return len(after - before) + len(before - after)

    # --------------------------------------------------------- report --
    def pairs(self) -> DataFrame:
        """The live mined pairs — columns and ranks exactly as the batch
        operator emits them."""
        rows = []
        for (q, kind), m in self._best.items():
            for rank, (d, v, lb) in enumerate(
                sorted((d, v, lb) for v, (d, lb) in m.items()), 1
            ):
                rows.append((q, kind, rank, v, lb, d))
        return local_frame(
            self.spark,
            rows,
            f"query_id long, kind string, rank int, {self.id_col} long, "
            f"{self.label_col} int, l2_sq long",
        )
