"""Streaming CEP matcher: "A followed by B within t", exactly-once.

The streaming twin of ``operators.temporal.cep_followed_by`` with the
semantics a real CEP engine gives: each A event's match is emitted
EXACTLY ONCE, when it is FINAL — i.e. when the event-time watermark has
passed ``a_ts + horizon``, so no late B (within the watermark contract)
can still beat the best B found so far. This makes the output exact even
when events arrive out of event-time order, which per-trigger re-emission
(the hardening contract pinned in test_temporal.py) cannot promise.

Why finalization at ``wm > a_ts + horizon`` is exact: a late B can only
arrive with ``b_ts >= wm`` (older events are beyond the watermark);
once ``wm > a_ts + horizon``, any such B has ``b_ts > a_ts + horizon`` —
outside A's window — so the remembered best-B is immutable.

State, both sides bounded independent of stream length:

- **pending A's** with their best-B-so-far: retained while
  ``a_ts + horizon >= wm`` → ≤ rate × (horizon + watermark) rows;
- **B pool**: B's with ``b_ts > wm`` only. An older B is safe to evict
  because every CURRENT pending A has already folded it into its
  best-so-far this trigger, and every FUTURE A arrives with
  ``a_ts >= wm`` ⇒ needs ``b_ts > a_ts >= wm``.

Per-trigger work: one bucketed join of (pending ∪ delta A's) × (B pool ∪
delta B's) — the batch operator's plan — plus a ``least(struct)`` merge
with the remembered best; no window functions. Checkpoint chain via
``bistro_spark.caching`` (one pinned state generation alive).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bistro_spark.caching import PinOwner
from bistro_spark.session import local_frame


class StreamingCepMatcher(PinOwner):
    """Feed event deltas (mixed types) via ``process_batch``; it returns
    the matches FINALIZED by this trigger — (key, a_id, a_ts, b_id, b_ts,
    gap_us), b-fields null when the A event's horizon closed with no B.
    Call ``flush()`` at end-of-stream to finalize everything pending."""

    def __init__(
        self,
        spark: SparkSession,
        key: str = "user_id",
        ts_col: str = "ts",
        type_col: str = "event_type",
        id_col: str = "event_id",
        type_a: str = "view",
        type_b: str = "purchase",
        horizon_s: float = 600.0,
        watermark_s: float = 0.0,
        emit_unmatched: bool = False,
    ):
        super().__init__(spark)
        self.key = key
        self.ts_col = ts_col
        self.type_col = type_col
        self.id_col = id_col
        self.type_a = type_a
        self.type_b = type_b
        self.h_us = int(round(horizon_s * 1_000_000))
        self.wm_us = int(round(watermark_s * 1_000_000))
        self.emit_unmatched = emit_unmatched
        self._pending: DataFrame | None = None  # A's + best-B-so-far
        self._bpool: DataFrame | None = None  # B's with ts > wm
        self._max_ts_us: int | None = None
        self.batches_seen = 0

    # ---------------------------------------------------------- helpers --

    def _a_proj(self, df: DataFrame) -> DataFrame:
        ts = F.col(self.ts_col).cast("timestamp")
        return df.filter(F.col(self.type_col) == self.type_a).select(
            F.col(self.key),
            F.col(self.id_col).alias("a_id"),
            ts.alias("a_ts"),
            F.unix_micros(ts).alias("_aus"),
            F.lit(None).cast("long").alias("_bus"),
            F.lit(None).cast(dict(df.dtypes)[self.id_col]).alias("b_id"),
            F.lit(None).cast("timestamp").alias("b_ts"),
        )

    def _b_proj(self, df: DataFrame) -> DataFrame:
        ts = F.col(self.ts_col).cast("timestamp")
        return df.filter(F.col(self.type_col) == self.type_b).select(
            F.col(self.key),
            F.col(self.id_col).alias("b_id"),
            ts.alias("b_ts"),
            F.unix_micros(ts).alias("_bus"),
        )

    def pending_size(self) -> int:
        return 0 if self._pending is None else self._pending.count()

    def bpool_size(self) -> int:
        return 0 if self._bpool is None else self._bpool.count()

    def _wm(self) -> int | None:
        return None if self._max_ts_us is None else self._max_ts_us - self.wm_us

    # ------------------------------------------------------------ engine --

    def _emit_cols(self, df: DataFrame) -> DataFrame:
        out = df.select(
            self.key,
            "a_id",
            "a_ts",
            "b_id",
            "b_ts",
            (F.col("_bus") - F.col("_aus")).cast("long").alias("gap_us"),
        )
        return out if self.emit_unmatched else out.filter(
            F.col("b_id").isNotNull()
        )

    def _step(self, delta: DataFrame | None, wm: int | None) -> tuple:
        """One trigger: fold new B's into best-so-far, split finalized vs
        still-pending, evict the B pool. Returns (emit, pending, bpool)
        lazy DataFrames."""
        new_a = self._a_proj(delta) if delta is not None else None
        pend = (
            new_a
            if self._pending is None
            else (self._pending if new_a is None else self._pending.unionByName(new_a))
        )
        new_b = self._b_proj(delta) if delta is not None else None
        bpool = (
            new_b
            if self._bpool is None
            else (self._bpool if new_b is None else self._bpool.unionByName(new_b))
        )
        if pend is None:
            return None, None, bpool

        if bpool is not None:
            # bucketed candidate join (the batch operator's plan): each B
            # in its own horizon bucket, each pending A probes two
            b = bpool.withColumn(
                "_bk", (F.col("_bus") / F.lit(self.h_us)).cast("long")
            )
            a_probe = pend.select(
                self.key, "a_id", "_aus"
            ).withColumn(
                "_bk",
                F.explode(
                    F.array(
                        (F.col("_aus") / F.lit(self.h_us)).cast("long"),
                        (F.col("_aus") / F.lit(self.h_us)).cast("long") + 1,
                    )
                ),
            )
            hits = (
                a_probe.join(b, [self.key, "_bk"])
                .filter(
                    (F.col("_bus") > F.col("_aus"))
                    & (F.col("_bus") <= F.col("_aus") + F.lit(self.h_us))
                )
                .groupBy(self.key, "a_id")
                .agg(
                    F.min(F.struct("_bus", "b_id", "b_ts")).alias("_nb")
                )
            )
            merged = (
                pend.join(hits.select(self.key, "a_id", "_nb"), [self.key, "a_id"], "left")
                .withColumn(
                    "_best",
                    # least(old best, new best): least ignores NULL
                    # arguments, so the no-previous-match side must be a
                    # true NULL struct — a struct OF nulls would compare
                    # smallest and always win
                    F.least(
                        F.when(
                            F.col("_bus").isNotNull(),
                            F.struct("_bus", "b_id", "b_ts"),
                        ),
                        F.col("_nb"),
                    ),
                )
                .select(
                    self.key,
                    "a_id",
                    "a_ts",
                    "_aus",
                    F.col("_best._bus").alias("_bus"),
                    F.col("_best.b_id").alias("b_id"),
                    F.col("_best.b_ts").alias("b_ts"),
                )
            )
        else:
            merged = pend

        if wm is None:
            return None, merged, bpool
        closed = F.col("_aus") + F.lit(self.h_us) < F.lit(wm)
        emit = merged.filter(closed)
        still = merged.filter(~closed)
        bpool_kept = (
            None
            if bpool is None
            else bpool.filter(F.col("_bus") > F.lit(wm))
        )
        return emit, still, bpool_kept

    def process_batch(self, delta: DataFrame) -> DataFrame:
        """Advance the watermark with the delta, fold it in, and return
        the matches this trigger FINALIZED (exactly-once; valid until the
        next call — consumed-within-trigger, the foreachBatch contract)."""
        self.batches_seen += 1
        m = delta.agg(
            F.max(F.unix_micros(F.col(self.ts_col).cast("timestamp"))).alias("m")
        ).collect()[0]["m"]
        if m is not None:
            self._max_ts_us = (
                m if self._max_ts_us is None else max(self._max_ts_us, m)
            )
        emit, still, bpool = self._step(delta, self._wm())
        return self._swap(emit, still, bpool)

    def flush(self) -> DataFrame:
        """End-of-stream: finalize every pending A (watermark → ∞)."""
        emit, still, bpool = self._step(None, wm=(2**62))
        return self._swap(emit, still, bpool)

    def _swap(self, emit, still, bpool) -> DataFrame:
        if emit is not None:
            emit = self._pin(self._emit_cols(emit))
        self._pending = None if still is None else self._pin(still)
        self._bpool = None if bpool is None else self._pin(bpool)
        self._commit()
        if emit is None:
            schema = (
                f"{self.key} bigint, a_id bigint, a_ts timestamp, "
                "b_id bigint, b_ts timestamp, gap_us bigint"
            )
            return local_frame(self.spark, [], schema)
        return emit
