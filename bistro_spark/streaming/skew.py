"""Streaming twin of ``bistro_spark.skew.skew_report``: the salting
decision kept live. A stateful streaming aggregation keyed on a hot key
is the case where skew hurts EVERY micro-batch (the state-store
partition for the hot key becomes the per-trigger straggler), so the
place to watch key skew is the stream itself.

State is ONE additive BIGINT per key (count or weight mass), so
full-history parity with the batch report is EXACT at every trigger in
ANY arrival order — the report is a pure function of the
arrival-order-invariant count vector (the ``StreamingMixtureScheduler``
discipline). The report itself is computed driver-side over the
key-bounded vector with the batch operator's exact integer salt math
(``ceil(n·K/N) = (n·K + N − 1) // N``) and HALF_UP 9-digit rounding via
the engine (``F.round``) so the rows hash-match the batch operator's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bistro_spark.session import local_frame


class StreamingSkewMonitor:
    """Feed per-trigger deltas to :meth:`process_batch`; read the live
    key-skew audit via :meth:`report` — same schema and same rows as
    batch ``skew_report`` over everything seen."""

    def __init__(
        self,
        spark: SparkSession,
        key_col: str,
        weight_col: str | None = None,
        hot_multiple: float = 2.0,
        max_keys: int = 50_000_000,
    ):
        self.spark = spark
        self.key_col = key_col
        self.weight_col = weight_col
        self.hot_multiple = float(hot_multiple)
        self.max_keys = int(max_keys)
        self._counts: dict = {}
        self.batches_seen = 0

    # ------------------------------------------------------- recovery --
    def state_snapshot(self) -> dict:
        return dict(self._counts)

    def restore_state(self, snapshot: dict) -> None:
        self._counts = dict(snapshot)

    # ---------------------------------------------------------- fold --
    def process_batch(self, batch_df: DataFrame) -> int:
        self.batches_seen += 1
        w = (
            F.count("*")
            if self.weight_col is None
            else F.sum(self.weight_col)
        )
        rows = (
            batch_df.groupBy(self.key_col)
            .agg(w.cast("long").alias("n"))
            .collect()
        )
        if len(self._counts) + len(rows) > self.max_keys:
            raise ValueError(
                f"StreamingSkewMonitor: key count would exceed "
                f"{self.max_keys}; shard the monitor by key range"
            )
        absorbed = 0
        for r in rows:
            k = r[self.key_col]
            self._counts[k] = self._counts.get(k, 0) + int(r["n"])
            absorbed += int(r["n"])
        return absorbed

    # -------------------------------------------------------- report --
    def report(self) -> DataFrame:
        """Exactly the batch ``skew_report`` rows: the double columns are
        computed by the ENGINE from the integer state (same expressions,
        same HALF_UP rounding), not in Python."""
        n_total = sum(self._counts.values())
        n_keys = len(self._counts)
        assert n_total > 0, "no rows absorbed yet"
        ktype = (
            "string"
            if isinstance(next(iter(self._counts)), str)
            else "long"
        )
        base = local_frame(
            self.spark,
            sorted(self._counts.items()),
            f"{self.key_col} {ktype}, n long",
        )
        return base.select(
            self.key_col,
            F.col("n").alias("n_rows"),
            F.round(F.col("n") / F.lit(n_total), 9).alias("share"),
            F.round(
                F.col("n") * F.lit(n_keys) / F.lit(n_total), 9
            ).alias("uniform_multiple"),
            F.expr(f"(n * {n_keys} + {n_total} - 1) DIV {n_total}")
            .cast("long")
            .alias("salt_factor"),
            (
                F.col("n") * F.lit(n_keys)
                > F.lit(self.hot_multiple) * F.lit(n_total)
            ).alias("is_hot"),
        )
