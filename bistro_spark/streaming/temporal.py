"""Streaming twins of the temporal-analytics batch operators
(`operators.temporal.sessionize` / `transition_matrix`).

Both follow this package's foreachBatch runner shape (`streaming/drift.py`,
`streaming/asof.py`): DataFrame-valued state held as a keep-released
localCheckpoint chain (`bistro_spark.caching`), one pinned generation per
trigger, `close()` releases everything. On a real cluster the state
tables live in the checkpoint location; either way they are
key-cardinality-sized, never stream-length-sized.

Ordering contract (shared with the FIFO/ordered-fold twins in
`streaming/state.py`): each key's events arrive in event-time order
ACROSS micro-batches (within a batch, order is free — each trigger sorts
its own delta). That is what per-key lag/gap semantics need to be
incremental at all; under it both twins are EXACT full-history
equivalents (pytest-pinned), not approximations.

Transition counting is the easy case: its sufficient statistic is the
additive (from_type, to_type, count) grid — bounded by #event-types² —
plus ONE row per key (the key's latest event, the lag seed for the next
delta). Sessionization needs real lifecycle logic: a session is emitted
exactly once, when it becomes immutable — a successor event already
started the next session, or the event-time watermark passed its
gap-extension deadline (``last_ts + gap``); until then it is open state
(≤ 1 row per key). `flush()` closes the tail at end-of-stream, so
emissions ∪ flush == the batch operator row-for-row, including the
per-key 1-based ``session_idx``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from bistro_spark.caching import PinOwner
from bistro_spark.session import local_frame
from bistro_spark.streaming.incremental import merge_grid

_SUMT = "decimal(30,6)"


class StreamingTransitionCounter(PinOwner):
    """Per-trigger first-order Markov transition report of the stream
    seen so far — the streaming twin of
    :func:`operators.temporal.transition_matrix`.

    State: the additive (from_type, to_type, n) grid (≤ #types² rows)
    plus each key's latest event (the cross-batch lag seed, 1 row/key).
    Per trigger the only data-sized work is one key-shuffled lag window
    over (delta ∪ seeds) and one partial-aggregated groupBy down to the
    grid; the merge is a union+re-agg over two grids.
    """

    def __init__(
        self,
        spark: SparkSession,
        key_col: str = "user_id",
        ts_col: str = "ts",
        id_col: str = "event_id",
        type_col: str = "event_type",
    ):
        super().__init__(spark)
        self.key_col = key_col
        self.ts_col = ts_col
        self.id_col = id_col
        self.type_col = type_col
        self._grid: DataFrame | None = None
        self._last: DataFrame | None = None
        self.batches_seen = 0

    def state_rows(self) -> int:
        n = 0
        for df in (self._grid, self._last):
            if df is not None:
                n += df.count()
        return n

    def _report(self) -> DataFrame:
        out = Window.partitionBy("from_type")
        grid = (
            self._grid
            if self._grid is not None
            else local_frame(
                self.spark,
                [], "from_type string, to_type string, n_transitions long"
            )
        )
        return grid.select(
            "from_type",
            "to_type",
            "n_transitions",
            F.round(
                F.col("n_transitions") / F.sum("n_transitions").over(out), 6
            ).alias("p"),
        )

    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        self.batches_seen += 1
        k, t, i, y = self.key_col, self.ts_col, self.id_col, self.type_col
        delta = batch_df.select(
            F.col(k), F.col(t), F.col(i), F.col(y), F.lit(0).alias("_st")
        )
        tagged = (
            delta
            if self._last is None
            else self._last.withColumn("_st", F.lit(1)).unionByName(delta)
        )
        w = Window.partitionBy(k).orderBy(t, i)
        new_pairs = (
            tagged.select(
                F.lag(F.col(y)).over(w).alias("from_type"),
                F.col(y).alias("to_type"),
                "_st",
            )
            .filter((F.col("_st") == 0) & F.col("from_type").isNotNull())
            .groupBy("from_type", "to_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
        )
        merged = merge_grid(self._grid, new_pairs, ["from_type", "to_type"])
        # next lag seed: per-key latest event (max-struct partial agg —
        # no window; the lag window above is the only key shuffle)
        last = (
            tagged.groupBy(k)
            .agg(F.max(F.struct(F.col(t), F.col(i), F.col(y))).alias("_p"))
            .select(
                k,
                F.col(f"_p.{t}").alias(t),
                F.col(f"_p.{i}").alias(i),
                F.col(f"_p.{y}").alias(y),
            )
        )
        self._grid = self._pin(merged)
        self._last = self._pin(last)
        self._commit()
        return self._report()


class StreamingSessionizer(PinOwner):
    """Exactly-once sessionization — the streaming twin of
    :func:`operators.temporal.sessionize` (same gaps-and-islands
    semantics, same output schema and per-key 1-based session_idx).

    Emission rule: a session row is emitted exactly once, when it is
    IMMUTABLE — either a successor event of the same key has already
    opened the next session (under the cross-batch event-time-order
    contract nothing can extend it), or the event-time watermark
    (max event ts seen − ``watermark_s``) passed ``last_ts + gap_s``, its
    last possible extension instant. Until then the session is open
    state: exactly one (key, session_idx, start, last_ts, n, Σvalue)
    row per active key, with the value sum carried exact
    (``decimal(30,6)``) so emitted ``sum_value`` is order-independent
    and equal to the batch operator's.

    ``process_batch`` returns the sessions closed by that trigger;
    ``flush()`` emits whatever is still open (end-of-stream). Across any
    split of an in-order stream: concat(emissions) ∪ flush() equals the
    batch ``sessionize`` of the whole input row-for-row (pytest-pinned,
    including the session_idx numbering and a batch split mid-session).
    With ``watermark_s=None`` only the successor rule fires — sessions
    then close as soon as the next one starts, and the tail waits for
    ``flush()``.
    """

    def __init__(
        self,
        spark: SparkSession,
        gap_s: float,
        key_col: str = "user_id",
        ts_col: str = "ts",
        id_col: str = "event_id",
        val_col: str = "value",
        watermark_s: float | None = None,
    ):
        super().__init__(spark)
        self.gap_us = int(round(gap_s * 1_000_000))
        self.key_col = key_col
        self.ts_col = ts_col
        self.id_col = id_col
        self.val_col = val_col
        self.watermark_s = watermark_s
        self._open: DataFrame | None = None
        self._max_ts_us: int | None = None
        self.batches_seen = 0

    # ---- helpers ---------------------------------------------------
    def open_sessions(self) -> int:
        return 0 if self._open is None else self._open.count()

    def _emit(self, sessions: DataFrame) -> DataFrame:
        """Project internal session rows to the batch output schema."""
        k = self.key_col
        return sessions.select(
            F.col(k),
            F.col("session_idx"),
            F.col("session_start"),
            F.col("last_ts").alias("session_end"),
            F.col("n_events"),
            F.round(
                (
                    F.unix_micros(F.col("last_ts").cast("timestamp"))
                    - F.unix_micros(F.col("session_start").cast("timestamp"))
                )
                / F.lit(1_000_000.0),
                6,
            ).alias("duration_s"),
            F.round(F.col("sum_dec").cast("double"), 6).alias("sum_value"),
        )

    def _local_sessions(self, delta: DataFrame) -> DataFrame:
        """Gaps-and-islands over ONE delta: (key, local_idx, start,
        last_ts, n, Σdec) — the same single-key-shuffle plan as the
        batch operator, unrounded so state stays exact."""
        k, t, i, v = self.key_col, self.ts_col, self.id_col, self.val_col
        w = Window.partitionBy(k).orderBy(t, i)
        run = w.rowsBetween(Window.unboundedPreceding, 0)
        us = F.unix_micros(F.col(t).cast("timestamp"))
        lag_us = F.lag(us).over(w)
        new_sess = F.when(
            lag_us.isNull() | (us - lag_us > F.lit(self.gap_us)), 1
        ).otherwise(0)
        flagged = delta.select(
            F.col(k),
            F.col(t),
            F.col(i),
            F.col(v),
            F.sum(new_sess).over(run).cast("long").alias("local_idx"),
        )
        return flagged.groupBy(k, "local_idx").agg(
            F.min(t).alias("session_start"),
            F.max(t).alias("last_ts"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col(v).cast(_SUMT)).cast(_SUMT).alias("sum_dec"),
        )

    # ---- the trigger -----------------------------------------------
    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        self.batches_seen += 1
        k, t = self.key_col, self.ts_col

        # advance the event-time watermark (delta-sized aggregate)
        m = batch_df.agg(
            F.max(F.unix_micros(F.col(t).cast("timestamp"))).alias("m")
        ).collect()[0]["m"]
        if m is not None:
            self._max_ts_us = (
                m if self._max_ts_us is None else max(self._max_ts_us, m)
            )

        local = self._local_sessions(batch_df)
        st = (
            self._open
            if self._open is not None
            else local_frame(
                self.spark,
                [],
                f"{k} string, session_idx long, session_start timestamp,"
                f" last_ts timestamp, n_events long, sum_dec {_SUMT}",
            ).withColumn(k, F.col(k).cast(local.schema[k].dataType))
        )

        # stitch: does the delta's FIRST session extend the open one?
        stf = st.select(
            F.col(k),
            F.col("session_idx").alias("_sidx"),
            F.col("session_start").alias("_sstart"),
            F.col("last_ts").alias("_slast"),
            F.col("n_events").alias("_sn"),
            F.col("sum_dec").alias("_ssum"),
        )
        j = local.join(stf, k, "full_outer")
        gap_ok = (
            F.unix_micros(F.col("session_start").cast("timestamp"))
            - F.unix_micros(F.col("_slast").cast("timestamp"))
            <= F.lit(self.gap_us)
        )
        merge1 = (
            (F.col("local_idx") == 1)
            & F.col("_sidx").isNotNull()
            & gap_ok
        )
        has_state = F.col("_sidx").isNotNull()
        base = F.coalesce(F.col("_sidx"), F.lit(0))
        mapped = j.filter(F.col("local_idx").isNotNull()).select(
            F.col(k),
            # global numbering: merged first session keeps the open
            # session's idx; otherwise sessions continue after it
            F.when(merge1, base)
            .otherwise(
                base
                + F.col("local_idx")
                - F.when(
                    has_state & _first_merges(j, self.gap_us), 1
                ).otherwise(0)
            )
            .alias("session_idx"),
            F.when(merge1, F.col("_sstart"))
            .otherwise(F.col("session_start"))
            .alias("session_start"),
            F.col("last_ts"),
            (
                F.col("n_events")
                + F.when(merge1, F.col("_sn")).otherwise(F.lit(0))
            ).cast("long").alias("n_events"),
            (
                F.col("sum_dec")
                + F.when(merge1, F.col("_ssum")).otherwise(F.lit(0).cast(_SUMT))
            ).cast(_SUMT).alias("sum_dec"),
        )
        # open sessions whose key had delta rows but did NOT merge →
        # closed now (a successor session exists)
        closed_by_succ = j.filter(
            F.col("local_idx").isNotNull()
            & (F.col("local_idx") == 1)
            & has_state
            & ~gap_ok
        ).select(
            F.col(k),
            F.col("_sidx").alias("session_idx"),
            F.col("_sstart").alias("session_start"),
            F.col("_slast").alias("last_ts"),
            F.col("_sn").alias("n_events"),
            F.col("_ssum").alias("sum_dec"),
        )
        # idle keys: state rows with no delta this trigger
        idle = j.filter(F.col("local_idx").isNull()).select(
            F.col(k),
            F.col("_sidx").alias("session_idx"),
            F.col("_sstart").alias("session_start"),
            F.col("_slast").alias("last_ts"),
            F.col("_sn").alias("n_events"),
            F.col("_ssum").alias("sum_dec"),
        )

        # within the mapped delta sessions, every one except the key's
        # LAST is closed (its successor is in the same batch)
        wk = Window.partitionBy(k)
        mm = mapped.withColumn("_maxidx", F.max("session_idx").over(wk))
        closed_in_batch = mm.filter(F.col("session_idx") < F.col("_maxidx")).drop(
            "_maxidx"
        )
        tail = mm.filter(F.col("session_idx") == F.col("_maxidx")).drop("_maxidx")

        # watermark closure of the remaining open set
        open_cand = tail.unionByName(idle)
        if self.watermark_s is not None and self._max_ts_us is not None:
            wm = self._max_ts_us - int(round(self.watermark_s * 1_000_000))
            deadline = (
                F.unix_micros(F.col("last_ts").cast("timestamp"))
                + F.lit(self.gap_us)
            )
            wm_closed = open_cand.filter(deadline < F.lit(wm))
            still_open = open_cand.filter(~(deadline < F.lit(wm)))
        else:
            wm_closed = open_cand.limit(0)
            still_open = open_cand

        out = self._pin(
            self._emit(closed_by_succ.unionByName(closed_in_batch).unionByName(wm_closed))
        )
        self._open = self._pin(still_open)
        self._commit()
        return out

    def flush(self) -> DataFrame:
        """Emit every still-open session (end-of-stream)."""
        if self._open is None:
            return self._emit(
                local_frame(
                    self.spark,
                    [],
                    f"{self.key_col} string, session_idx long,"
                    " session_start timestamp, last_ts timestamp,"
                    f" n_events long, sum_dec {_SUMT}",
                )
            )
        return self._emit(self._open)


def _first_merges(j: DataFrame, gap_us: int):
    """Per-key flag: did this key's local session 1 merge into the open
    state session? Needed by EVERY local session's global index (they
    all shift down by one when the first merged). Window-free: the
    stitch condition only involves session-1 columns, so broadcast it
    down the key via a max() over the key partition."""
    from pyspark.sql import Window as _W

    gap_ok = (
        F.unix_micros(F.col("session_start").cast("timestamp"))
        - F.unix_micros(F.col("_slast").cast("timestamp"))
        <= F.lit(gap_us)
    )
    first_merge = F.when(
        (F.col("local_idx") == 1) & F.col("_sidx").isNotNull() & gap_ok, 1
    ).otherwise(0)
    return F.max(first_merge).over(_W.partitionBy(j.columns[0])) == 1


class StreamingZScorer(PinOwner):
    """Exactly-once per-event anomaly scoring — the streaming twin of
    :func:`operators.temporal.expanding_zscore`. The batch op is
    prior-EXCLUSIVE by design, which makes it perfectly incremental: an
    event's score depends only on its key's history strictly before it,
    so the score emitted at arrival time never needs revision.

    State: per key, the three running statistics (n, Σx, Σx²) as exact
    BIGINT/decimal — ONE row per key, independent of stream length.
    Per trigger: scores = state offsets + within-batch prior-exclusive
    cumulative sums (the batch op's own window, seeded); state update =
    one delta-sized partial agg merged additively. Under the package's
    cross-batch event-time-order contract, emissions over any batch
    split equal the batch operator row-for-row (pytest-pinned — decimal
    sums make this bit-exact, not approximately so).
    """

    def __init__(
        self,
        spark: SparkSession,
        key_col: str = "user_id",
        ts_col: str = "ts",
        id_col: str = "event_id",
        val_col: str = "value",
        min_prev: int = 2,
    ):
        super().__init__(spark)
        self.key_col = key_col
        self.ts_col = ts_col
        self.id_col = id_col
        self.val_col = val_col
        self.min_prev = min_prev
        self._stats: DataFrame | None = None  # (key, _n0, _sx0, _sxx0)
        self.batches_seen = 0

    def state_rows(self) -> int:
        return 0 if self._stats is None else self._stats.count()

    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        self.batches_seen += 1
        k, t, i, v = self.key_col, self.ts_col, self.id_col, self.val_col
        st = (
            self._stats
            if self._stats is not None
            else local_frame(
                self.spark,
                [], "k long, _n0 long, _sx0 decimal(38,6), _sxx0 decimal(38,12)"
            )
            .withColumnRenamed("k", k)
            .withColumn(k, F.col(k).cast(batch_df.schema[k].dataType))
        )
        xd = F.col(v).cast("decimal(30,6)")
        w = (
            Window.partitionBy(k)
            .orderBy(t, i)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        seeded = batch_df.join(st, k, "left").select(
            F.col(i),
            F.col(k),
            F.col(t),
            F.col(v),
            (
                F.coalesce(F.col("_n0"), F.lit(0))
                + F.coalesce(F.count(F.lit(1)).over(w), F.lit(0))
            ).cast("long").alias("_n"),
            (
                F.coalesce(F.col("_sx0"), F.lit(0).cast("decimal(38,6)"))
                + F.coalesce(F.sum(xd).over(w), F.lit(0).cast("decimal(38,6)"))
            ).cast("decimal(38,6)").alias("_sx"),
            (
                F.coalesce(F.col("_sxx0"), F.lit(0).cast("decimal(38,12)"))
                + F.coalesce(
                    F.sum((xd * xd).cast("decimal(38,12)")).over(w),
                    F.lit(0).cast("decimal(38,12)"),
                )
            ).cast("decimal(38,12)").alias("_sxx"),
        )
        n = F.col("_n")
        mean = F.col("_sx").cast("double") / n
        var = (
            F.col("_sxx").cast("double")
            - F.col("_sx").cast("double") * F.col("_sx").cast("double") / n
        ) / n
        z = (F.col(v) - mean) / F.sqrt(var)
        out = self._pin(
            seeded.select(
                i,
                k,
                t,
                v,
                n.alias("n_prev"),
                F.round(
                    F.when((n >= F.lit(self.min_prev)) & (var > 0), z), 6
                ).alias("z"),
            )
        )

        # additive state update: delta partial agg + full-outer merge
        delta = batch_df.groupBy(k).agg(
            F.count(F.lit(1)).cast("long").alias("_dn"),
            F.sum(xd).cast("decimal(38,6)").alias("_dsx"),
            F.sum((xd * xd).cast("decimal(38,12)"))
            .cast("decimal(38,12)")
            .alias("_dsxx"),
        )
        merged = st.join(delta, k, "full_outer").select(
            F.col(k),
            (
                F.coalesce(F.col("_n0"), F.lit(0))
                + F.coalesce(F.col("_dn"), F.lit(0))
            ).cast("long").alias("_n0"),
            (
                F.coalesce(F.col("_sx0"), F.lit(0).cast("decimal(38,6)"))
                + F.coalesce(F.col("_dsx"), F.lit(0).cast("decimal(38,6)"))
            ).cast("decimal(38,6)").alias("_sx0"),
            (
                F.coalesce(F.col("_sxx0"), F.lit(0).cast("decimal(38,12)"))
                + F.coalesce(F.col("_dsxx"), F.lit(0).cast("decimal(38,12)"))
            ).cast("decimal(38,12)").alias("_sxx0"),
        )
        self._stats = self._pin(merged)
        self._commit()
        return out


class StreamingCohortTracker(PinOwner):
    """Per-trigger cohort-retention triangle of the stream seen so far —
    the streaming twin of :func:`operators.temporal.cohort_retention`.

    Sufficient statistics, all merged incrementally:

    - ``_cohorts`` (key → first-seen epoch-week): one row per key,
      immutable once assigned (the cross-batch event-time-order contract
      makes first sight = earliest week);
    - ``_seen`` distinct (key, week) pairs — the dedup set that keeps a
      key's repeat activity in a week from double-counting. This is the
      op's TRUE sufficient statistic: activity-relation-sized (distinct
      key-weeks), much smaller than the event stream but — honestly —
      not constant: the retention triangle itself grows with calendar
      time, and so must any exact maintainer of it;
    - ``_grid`` additive (cohort_week, week_index, n_active) — triangle-
      sized.

    Per trigger: delta → distinct pairs (one partial agg), anti-join the
    seen set (the only state-sized work), assign cohorts to new keys,
    bump the grid, emit the full report (grid ⋈ cohort sizes). After k
    in-order triggers the report equals the batch op on the union of all
    deltas EXACTLY (pytest-pinned)."""

    def __init__(
        self,
        spark: SparkSession,
        key_col: str = "user_id",
        ts_col: str = "ts",
    ):
        super().__init__(spark)
        self.key_col = key_col
        self.ts_col = ts_col
        self._cohorts: DataFrame | None = None
        self._seen: DataFrame | None = None
        self._grid: DataFrame | None = None
        self.batches_seen = 0

    def state_rows(self) -> int:
        n = 0
        for df in (self._cohorts, self._seen, self._grid):
            if df is not None:
                n += df.count()
        return n

    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        self.batches_seen += 1
        k = self.key_col
        wk = (
            F.floor(
                F.unix_micros(F.col(self.ts_col).cast("timestamp"))
                / F.lit(604_800_000_000)
            )
        ).cast("long")
        pairs = batch_df.select(F.col(k), wk.alias("week")).distinct()
        new_pairs = (
            pairs
            if self._seen is None
            else pairs.join(self._seen, [k, "week"], "left_anti")
        )
        new_keys = (
            new_pairs
            if self._cohorts is None
            else new_pairs.join(self._cohorts.select(k), k, "left_anti")
        ).groupBy(k).agg(F.min("week").alias("cohort_week"))
        cohorts = (
            new_keys
            if self._cohorts is None
            else self._cohorts.unionByName(new_keys)
        )
        bump = (
            new_pairs.join(cohorts, k)
            .groupBy(
                "cohort_week",
                (F.col("week") - F.col("cohort_week")).cast("long").alias(
                    "week_index"
                ),
            )
            .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
        )
        grid = merge_grid(self._grid, bump, ["cohort_week", "week_index"])
        seen = (
            new_pairs
            if self._seen is None
            else self._seen.unionByName(new_pairs)
        )
        self._cohorts = self._pin(cohorts)
        self._seen = self._pin(seen)
        self._grid = self._pin(grid)
        self._commit()
        return self.report()

    def report(self) -> DataFrame:
        if self._grid is None:
            return local_frame(
                self.spark,
                [],
                "cohort_week long, week_index long, n_active long,"
                " cohort_size long, retention double",
            )
        sizes = self._cohorts.groupBy("cohort_week").agg(
            F.count(F.lit(1)).cast("long").alias("cohort_size")
        )
        return self._grid.join(F.broadcast(sizes), "cohort_week").select(
            "cohort_week",
            "week_index",
            "n_active",
            "cohort_size",
            F.round(F.col("n_active") / F.col("cohort_size"), 6).alias(
                "retention"
            ),
        )
