"""Streaming twin of the watermark-delay audit
(``operators/temporal.watermark_audit``): the live late-data counter.

The batch operator PLANS the watermark delay from a corpus snapshot; this
monitor measures the same quantity on the stream itself — per candidate
delay, how many arrived events WOULD have been dropped had that delay
been configured. Running it alongside a live pipeline answers "is our
configured delay still safe?" continuously, without re-scanning history.

State is three scalars' worth: one BIGINT running max of event time over
committed triggers (exactly Spark's watermark base — the watermark
applied to trigger t is computed from data seen through t-1), one total
counter, and one late counter per candidate delay. Per trigger the delta
is reduced with ONE aggregate (count + max + the per-delay conditional
sums evaluated against the CURRENT base as literals), so the per-trigger
cost is a single map-reduce over the delta and the state never grows.

**Parity contract (pytest-pinned):** fed the batch operator's arrival
model (md5 buckets of the arrival key, consumed in bucket order), the
report EQUALS batch ``watermark_audit`` over everything seen — at every
trigger. Under any other arrival order the two legitimately diverge
(lateness is a property of the arrival sequence; the monitor measures
the TRUE one) — pinned by counter-example.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bistro_spark.session import local_frame


class StreamingLatenessMonitor:
    """Feed per-trigger deltas to :meth:`process_batch`; read the live
    delay-grid audit via :meth:`report` — same schema as batch
    ``watermark_audit``."""

    def __init__(
        self,
        spark: SparkSession,
        ts_col: str = "ts",
        delays_s: tuple[int, ...] = (0, 86400, 604800, 1296000, 2592000),
    ):
        self.spark = spark
        self.ts_col = ts_col
        self.delays_s = tuple(int(d) for d in delays_s)
        self._wm_base: int | None = None  # max event-us through last trigger
        self._n_events = 0
        self._late = {d: 0 for d in self.delays_s}
        self.batches_seen = 0

    # ------------------------------------------------------- recovery --
    def state_snapshot(self) -> dict:
        return {
            "wm_base": self._wm_base,
            "n_events": self._n_events,
            "late": dict(self._late),
        }

    def restore_state(self, snapshot: dict) -> None:
        self._wm_base = (
            None if snapshot["wm_base"] is None else int(snapshot["wm_base"])
        )
        self._n_events = int(snapshot["n_events"])
        self._late = {int(k): int(v) for k, v in snapshot["late"].items()}

    # ---------------------------------------------------------- fold --
    def process_batch(self, batch_df: DataFrame) -> int:
        """Absorb one trigger's delta; returns rows absorbed."""
        self.batches_seen += 1
        us = F.unix_micros(F.col(self.ts_col).cast("timestamp"))
        aggs = [
            F.count("*").cast("long").alias("n"),
            F.max(us).alias("mx"),
        ]
        if self._wm_base is not None:
            for d in self.delays_s:
                wm = self._wm_base - d * 1_000_000
                aggs.append(
                    F.sum(F.when(us < F.lit(wm), 1).otherwise(0))
                    .cast("long")
                    .alias(f"late_{d}")
                )
        row = batch_df.agg(*aggs).collect()[0]
        n = int(row["n"])
        self._n_events += n
        if self._wm_base is not None:
            for d in self.delays_s:
                self._late[d] += int(row[f"late_{d}"] or 0)
        if row["mx"] is not None:
            mx = int(row["mx"])
            self._wm_base = mx if self._wm_base is None else max(
                self._wm_base, mx
            )
        return n

    # -------------------------------------------------------- report --
    def report(self) -> DataFrame:
        """Live audit grid — frac_late rounded engine-side (HALF_UP,
        matching the batch operator and the DuckDB twin)."""
        rows = [
            (d, self._n_events, self._late[d]) for d in self.delays_s
        ]
        return local_frame(
            self.spark,
            rows, "delay_s long, n_events long, n_late long"
        ).select(
            "delay_s",
            "n_events",
            "n_late",
            F.round(F.col("n_late") / F.col("n_events"), 9).alias(
                "frac_late"
            ),
        )
