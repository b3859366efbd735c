"""Streaming twin of the as-of link: the temporal-table join.

Enrich a stream of left events with the latest same-key right event at or
before each left row's event time (``operators.temporal.link_asof``
semantics), maintained incrementally per micro-batch. This is the op
Flink calls a *temporal join*; Spark Structured Streaming has no native
equivalent — its stream-stream join is range-bounded both ways, not
"latest at or before".

State discipline (the 100 TB story): retaining EVERY right event would
grow state with stream length; retaining only the per-key latest breaks
as-of for lefts that arrive out of event-time order. The exact bounded
middle is the watermark contract, mirrored from Spark's own stream-stream
join reasoning:

- lefts may arrive late by at most ``watermark_s`` (event time vs the
  max event time seen so far);
- therefore a right row can still be the as-of match of some FUTURE left
  only if (a) its ts is within the watermark horizon, or (b) it is the
  per-key LATEST row below the horizon (the match for lefts whose ts
  falls between it and the horizon).

So state = rights with ``ts >= wm`` ∪ per-key max-struct of rights with
``ts < wm`` — bounded by (arrival rate × watermark) + one row per key,
independent of stream length. Eviction is a partial-aggregatable
``max(struct(ts, payload))`` — no window function. Each trigger runs the
BATCH ``link_asof`` of (left delta) against (state ∪ right delta):
exact full-history parity for every left within the watermark
(pytest-pinned), which is the same guarantee Spark gives its
stream-stream joins.

The checkpoint chain is owned by ``bistro_spark.caching.PinOwner`` — one
state generation alive at a time, like the other streaming runners.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bistro_spark.caching import PinOwner


class StreamingAsofLinker(PinOwner):
    """Per-trigger as-of enrichment with watermark-bounded right state.

    ``process_batch(left_delta, right_delta)`` returns the enriched left
    delta (all left columns + ``asof_<bring>`` + ``asof_ts``), valid
    until the next call (consumed-within-trigger, the foreachBatch
    contract). Pass an empty DataFrame for a side with no new rows.
    """

    def __init__(
        self,
        spark: SparkSession,
        on: str | list[str],
        left_ts: str = "ts",
        right_ts: str = "ts",
        bring: tuple[str, ...] = ("value",),
        horizon_s: float | None = None,
        watermark_s: float = 0.0,
        prefix: str = "asof_",
    ):
        super().__init__(spark)
        self.keys = [on] if isinstance(on, str) else list(on)
        self.left_ts = left_ts
        self.right_ts = right_ts
        self.bring = tuple(bring)
        self.horizon_s = horizon_s
        self.watermark_s = watermark_s
        self.prefix = prefix
        self._state: DataFrame | None = None  # retained right rows
        self._max_ts_us: int | None = None  # max event time seen (µs)
        self.batches_seen = 0

    def state_size(self) -> int:
        return 0 if self._state is None else self._state.count()

    def _right_proj(self, df: DataFrame) -> DataFrame:
        return df.select(
            *self.keys,
            F.col(self.right_ts).cast("timestamp").alias(self.right_ts),
            *self.bring,
        )

    def process_batch(
        self, left_delta: DataFrame, right_delta: DataFrame
    ) -> DataFrame:
        from bistro_spark.operators.temporal import link_asof

        self.batches_seen += 1
        rd = self._right_proj(right_delta)
        cands = rd if self._state is None else self._state.unionByName(rd)

        # pin the (delta-sized) enriched output BEFORE the old state is
        # released below — it reads the old state's checkpoint blocks;
        # its own blocks are recycled on the next trigger
        out = self._pin(
            link_asof(
                left_delta,
                cands,
                on=self.keys,
                left_ts=self.left_ts,
                right_ts=self.right_ts,
                bring=self.bring,
                horizon_s=self.horizon_s,
                prefix=self.prefix,
            )
        )

        # advance the watermark: max event time over both deltas (two
        # tiny delta-sized aggregates — never a scan of retained state)
        hi = []
        for df, c in ((left_delta, self.left_ts), (right_delta, self.right_ts)):
            r = df.agg(
                F.max(F.unix_micros(F.col(c).cast("timestamp"))).alias("m")
            ).collect()[0]["m"]
            if r is not None:
                hi.append(r)
        if hi:
            m = max(hi)
            self._max_ts_us = (
                m if self._max_ts_us is None else max(self._max_ts_us, m)
            )

        # evict: keep rights within the watermark horizon, plus the
        # per-key latest below it (max-struct partial agg, no window)
        new_state = cands
        if self._max_ts_us is not None:
            wm = self._max_ts_us - int(round(self.watermark_s * 1_000_000))
            ts_us = F.unix_micros(F.col(self.right_ts))
            recent = cands.filter(ts_us >= wm)
            latest_below = (
                cands.filter(ts_us < wm)
                .groupBy(*self.keys)
                .agg(
                    F.max(
                        F.struct(F.col(self.right_ts), *[F.col(c) for c in self.bring])
                    ).alias("_p")
                )
                .select(
                    *self.keys,
                    F.col(f"_p.{self.right_ts}").alias(self.right_ts),
                    *[F.col(f"_p.{c}").alias(c) for c in self.bring],
                )
            )
            new_state = recent.unionByName(latest_below)

        self._state = self._pin(new_state)
        self._commit()
        return out
