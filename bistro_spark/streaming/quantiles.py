"""Streaming twin of ``operators/olap.histogram_quantiles``: exact
quantiles of a bounded-domain integer metric maintained live.

State is the value-domain histogram itself — one additive BIGINT per
DISTINCT VALUE, the same bound the batch operator's shuffle carries —
so full-history parity is EXACT at every trigger in ANY arrival order
(counts are commutative; the quantile is a pure function of the
histogram). The report rebuilds the batch operator's domain-grid
cumulative walk from the state via the ENGINE (same expressions, same
lower-quantile definition), so rows hash-match the batch output.

Why this matters on a stream: percentile dashboards over live ingest
(sequence-length p99, quality-score median) usually reach for
approximate sketches; for bounded integer domains the EXACT answer
costs only domain-sized state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bistro_spark.session import local_frame


class StreamingQuantileMonitor:
    """Feed per-trigger deltas to :meth:`process_batch`; read the live
    exact-quantile grid via :meth:`report` — same schema and rows as
    batch ``histogram_quantiles`` over everything seen."""

    def __init__(
        self,
        spark: SparkSession,
        value_col: str = "n_chars",
        quantiles: tuple[float, ...] = (0.25, 0.5, 0.9, 0.99),
        max_domain: int = 10_000_000,
    ):
        self.spark = spark
        self.value_col = value_col
        self.quantiles = tuple(float(q) for q in quantiles)
        self.max_domain = int(max_domain)
        self._hist: dict[int, int] = {}
        self.batches_seen = 0

    # ------------------------------------------------------- recovery --
    def state_snapshot(self) -> dict:
        return {str(k): v for k, v in self._hist.items()}

    def restore_state(self, snapshot: dict) -> None:
        self._hist = {int(k): int(v) for k, v in snapshot.items()}

    # ---------------------------------------------------------- fold --
    def process_batch(self, batch_df: DataFrame) -> int:
        self.batches_seen += 1
        rows = (
            batch_df.select(F.col(self.value_col).cast("long").alias("v"))
            .groupBy("v")
            .agg(F.count("*").cast("long").alias("c"))
            .collect()
        )
        if len(self._hist) + len(rows) > self.max_domain:
            raise ValueError(
                f"StreamingQuantileMonitor: value domain exceeds "
                f"{self.max_domain}; quantize the metric first"
            )
        absorbed = 0
        for r in rows:
            self._hist[int(r["v"])] = self._hist.get(int(r["v"]), 0) + int(
                r["c"]
            )
            absorbed += int(r["c"])
        return absorbed

    # -------------------------------------------------------- report --
    def report(self) -> DataFrame:
        """Engine-computed from the integer histogram so rows hash-match
        batch ``histogram_quantiles``."""
        assert self._hist, "no rows absorbed yet"
        vc = local_frame(
            self.spark,
            sorted(self._hist.items()), "v long, c long"
        )
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        grid = vc.select(
            "v", "c", F.sum("c").over(w).cast("long").alias("cum")
        ).crossJoin(
            F.broadcast(vc.agg(F.sum("c").cast("long").alias("n_total")))
        )
        aggs = [F.max("n_total").alias("n_total")]
        for q in self.quantiles:
            tag = str(q).replace(".", "_")
            thr = F.ceil(F.lit(q) * F.col("n_total")).cast("long")
            aggs.append(
                F.min(F.when(F.col("cum") >= thr, F.col("v"))).alias(
                    f"v_{tag}"
                )
            )
            aggs.append(
                F.min(F.when(F.col("cum") >= thr, F.col("cum"))).alias(
                    f"c_{tag}"
                )
            )
        row = grid.agg(*aggs)
        stack = ", ".join(
            f"CAST({repr(q)} AS DOUBLE), v_{str(q).replace('.', '_')}, "
            f"c_{str(q).replace('.', '_')}"
            for q in self.quantiles
        )
        return row.select(
            F.expr(
                f"stack({len(self.quantiles)}, {stack}) "
                "AS (quantile, value, n_le)"
            ),
            "n_total",
        ).select("quantile", "value", "n_le", "n_total")
