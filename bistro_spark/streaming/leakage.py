"""Streaming split-leakage monitor: the release-gate audit
(``curation.split_leakage_audit``) kept live as near-dup edges arrive —
the natural consumer of ``streaming/neardup.py``'s linker output, and
the last gate before an eval set ships.

Design: the split of an id is a PURE md5 function (``split_corpus``'s
cumulative 4-hex-threshold rule), so the monitor needs no assignment
table at all — only the edge set. State is the seen-pair membership
store (the ``StreamingDomainStats`` seen-URL discipline): candidate
near-dup edges are bounded far below the corpus by construction, each
trigger's delta is reduced DISTRIBUTED-side to its distinct pairs
before the driver sees it, and a set insert is commutative,
associative, and idempotent — so full-history parity with the batch
audit is EXACT at every trigger in ANY arrival order, and replayed
deltas are no-ops (exactly-once free). The report is a pure function of
the state: each pair's (split_lo, split_hi) cell is recomputed
driver-side with the identical md5 rule (hashlib and Spark md5 agree —
pinned against batch ``split_corpus`` output in the tests).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bistro_spark.session import local_frame


class StreamingLeakMonitor:
    """Feed per-trigger deltas of (id_a, id_b) near-dup edges to
    :meth:`process_batch`; read the live audit via :meth:`audit` —
    same schema and rows as batch ``split_leakage_audit(all_edges,
    split_corpus(ids))``."""

    def __init__(
        self,
        spark: SparkSession,
        id_a: str = "id_a",
        id_b: str = "id_b",
        weights: dict[str, float] | None = None,
        max_state: int = 50_000_000,
    ):
        self.spark = spark
        self.id_a = id_a
        self.id_b = id_b
        self.weights = weights or {"test": 0.05, "train": 0.9, "val": 0.05}
        total = sum(self.weights.values())
        if not 0.999 <= total <= 1.001:
            raise ValueError(f"weights must sum to 1, got {total}")
        self.max_state = int(max_state)
        self._pairs: set = set()
        self.batches_seen = 0

    # --------------------------------------------------------- split --
    def _split(self, key) -> str:
        """split_corpus's exact rule, driver-side: first 4 md5 hex
        chars against the cumulative thresholds in sorted-name order."""
        bucket = hashlib.md5(str(key).encode()).hexdigest()[:4]
        items = sorted(self.weights.items())
        cum = 0.0
        for i, (name, w) in enumerate(items):
            cum += w
            if i == len(items) - 1:
                return name
            if bucket < format(int(round(cum * 65536)), "04x"):
                return name
        return items[-1][0]

    # ------------------------------------------------------- recovery --
    def state_snapshot(self) -> dict:
        return {"pairs": sorted([a, b] for a, b in self._pairs)}

    def restore_state(self, snapshot: dict) -> None:
        self._pairs = {(int(a), int(b)) for a, b in snapshot["pairs"]}

    def state_size(self) -> int:
        return len(self._pairs)

    # ---------------------------------------------------------- fold --
    def process_batch(self, batch_df: DataFrame) -> int:
        """Merge one trigger's delta (reduced to distinct pairs
        distributed-side first); returns new-pair count (0 on replay)."""
        self.batches_seen += 1
        delta = (
            batch_df.select(
                F.col(self.id_a).alias("a"), F.col(self.id_b).alias("b")
            )
            .distinct()
            .collect()
        )
        before = len(self._pairs)
        for r in delta:
            self._pairs.add((r["a"], r["b"]))
        if len(self._pairs) > self.max_state:
            raise ValueError(
                f"StreamingLeakMonitor: {len(self._pairs)} pairs exceed "
                f"max_state={self.max_state}"
            )
        return len(self._pairs) - before

    # --------------------------------------------------------- report --
    def audit(self) -> DataFrame:
        """The live audit grid — columns and rows exactly as batch
        ``split_leakage_audit`` emits them."""
        cells: dict = {}
        for a, b in self._pairs:
            sa, sb = self._split(a), self._split(b)
            lo, hi = min(sa, sb), max(sa, sb)
            cells[(lo, hi)] = cells.get((lo, hi), 0) + 1
        rows = [
            (lo, hi, n, lo != hi) for (lo, hi), n in cells.items()
        ]
        return local_frame(
            self.spark,
            rows,
            "split_lo string, split_hi string, n_pairs long, "
            "is_leak boolean",
        )
