"""Deterministic micro-batch driver — the exact-parity twin of Bistro
Streams' action loop (``server/.../server/Server.java#submit`` + worker
thread; actions ``ActionAdd`` / ``ActionRemove`` / ``ActionEval``).

The reference turns a table into a sliding event queue: connectors submit
ActionAdd(record), a timer submits ActionRemove (FIFO eviction beyond a max
length / max age) then ActionEval (propagate deltas through the column
graph). A single worker thread gives a total order over mutations, hence
deterministic results.

Here a micro-batch IS the ActionAdd delta, retention is applied to a
buffered window, and "evaluate" recompiles the calculus over the retained
population — semantically identical to the reference, whose accu/roll
columns always reflect the *current* table contents after eviction
(``Table.java#remove`` shrinks the population; ``Schema.java#evaluate``
re-aggregates). Two state strategies:

- ``retention=None`` (add-only streams): per-group aggregate state is
  MERGED batch-over-batch (state ∝ #groups — the scalable path, what
  Structured Streaming's state store does for us in streaming mode).
- count- or age-based retention: the runner keeps the retained rows as
  a FIFO of **segments** (state ∝ window size, same asymptotics as
  Spark's windowed state) and recomputes aggregates per batch, or, when
  every fold is invertible, un-folds the evicted rows out of a merged
  state. ``prepare`` runs once per delta, whose pin becomes a segment
  with its stats (rows, min/max of the retention column) observed by
  the pin's own job. Each step classifies every segment from its stats
  as wholly kept, wholly evicted or straddling the cutoff: kept segments
  stay pinned as they are, evicted ones leave whole, and only a
  straddler is filtered and its kept part re-pinned, so no step copies
  the retained window. The count cutoff needs no query when the newest
  segments hold exactly N rows above all others, and otherwise ranks
  only the segments that can hold it; the age threshold is max(max
  event time − interval) over the segments. The un-fold path adds the
  delta and subtracts the evicted rows in ONE :func:`merge_grid` fold
  into the state: each invertible fold has a per-row form (``count(*)``
  → 1, ``sum(e)`` → e), so the delta rows carry it with sign +1 and the
  evicted rows with sign −1, and the state is regrouped once, ∝
  |delta| + |evicted| + |state|.

This mode exists for (a) row-for-row parity tests against the oracle with
scripted batch boundaries, (b) count-based retention, which Structured
Streaming cannot express (no count-based windows) — SURVEY.md §7.3/§7.4.

The additive streaming monitors are this loop with retention off: per
trigger a partial aggregate over the delta (the batch operator's own
partials), merged into a key grid, and a report that is the batch
operator's finalizer over that grid. Counts and sums commute, so the
report after k triggers equals the batch operator over the union of all
deltas, in any arrival order. Addition is not idempotent, and neither
kernel has replay protection: no snapshot carries a batch id, so a
replayed trigger is folded twice (ROADMAP direction E). The grid lives
in one of two places, chosen by the state type:

- :class:`IncrementalRunner` (``retention=None``) keeps it in executor
  storage as a pinned checkpoint. Sketch merges (``hll_union_agg``) and
  vocabulary-sized stores stay in the engine, where they can grow past
  driver memory.
- :class:`DriverSumGrid` keeps a small keyed BIGINT grid on the driver.
  Its finalizers run in Python (the DSIR log-ratio table) or over a
  ``local_frame``; it snapshots to JSON for kill/resume, and a
  trigger costs one collect, with no checkpoint job.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from decimal import Decimal
from functools import reduce
from typing import Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from bistro_spark.caching import PinOwner
from bistro_spark.schema import _QUOTED_SPAN
from bistro_spark.session import local_frame


def merge_grid(
    state: DataFrame | None,
    delta: DataFrame,
    keys: Sequence[str],
    merge: Mapping[str, str] | None = None,
) -> DataFrame:
    """The additive grid merge: state ∪ delta regrouped by ``keys``, each
    other column of ``delta`` folded by its ``merge`` aggregate (``sum``
    when unnamed). Columns leave as keys then values in ``delta``'s
    order. The first delta is regrouped too (over an empty seed, which
    the optimizer drops), so the grid's types are fixed from trigger 1
    on: a sum widens a DECIMAL(p, s) partial to DECIMAL(38, s) once, and
    keeps BIGINT and DECIMAL(38, s) as they are. A delta whose keys
    repeat is folded on the first trigger as on any other."""
    merge = merge or {}
    values = [c for c in delta.columns if c not in keys]
    seed = delta.limit(0) if state is None else state
    return seed.unionByName(delta).groupBy(*keys).agg(
        *[F.expr(f"{merge.get(c, 'sum')}(`{c}`)").alias(c) for c in values]
    )


@dataclass
class AggSpec:
    """A merge-able accumulate: per-batch partial + cross-batch merge.

    sum/count merge with sum; min/max with min/max. avg must be declared as
    (sum, count) pairs and finalized — the classic partial-aggregate trick
    Spark itself uses for partial+final aggregation.

    ``invertible=True`` declares the merge additive: eviction can then be
    UN-folded by subtracting the evicted rows instead of re-aggregating the
    whole retained buffer (the reference's accu shrink-on-remove,
    ColumnDefinitionAccu over the removed span). Only ``count(*)``,
    ``count(1)`` and ``sum(e)`` may declare it; any other ``batch_expr``
    raises ``ValueError`` here. min/max have no inverse — leave False and
    the runner falls back to recompute.
    """

    name: str
    batch_expr: str  # aggregate over a batch, e.g. "sum(n_tok)"
    merge_expr: str  # merge partials, e.g. "sum" | "min" | "max"
    default: object = 0
    invertible: bool = False

    def __post_init__(self):
        if self.invertible:
            _row_form(self)


_FOLD = re.compile(r"\s*(count|sum)\s*\((.*)\)\s*", re.I | re.S)


def _row_form(spec: AggSpec) -> str:
    """The per-row value of an invertible fold, as SQL: the fold over a
    span is the sum of it over the span's rows (``count(*)`` and
    ``count(1)`` → ``1``, ``sum(e)`` → ``e``). Any other fold raises
    ``ValueError`` naming the spec."""
    m = _FOLD.fullmatch(spec.batch_expr)
    arg = m.group(2).strip() if m else ""
    depth, depths = 0, []
    for ch in _QUOTED_SPAN.sub("''", arg):
        depth += {"(": 1, ")": -1}.get(ch, 0)
        depths.append(depth)
    # the argument must be one balanced expression, so that the call's
    # closing parenthesis is the last character
    if arg and depth == 0 and min(depths) >= 0:
        if m.group(1).lower() == "sum" and not re.match(r"distinct\b", arg, re.I):
            return arg
        if m.group(1).lower() == "count" and arg in ("*", "1"):
            return "1"
    raise ValueError(
        f"AggSpec {spec.name!r}: invertible=True needs count(*), count(1) "
        f"or sum(e), not {spec.batch_expr!r}"
    )


@dataclass
class _Segment:
    """One pinned span of the retained window and the stats its pin
    observed: rows; for count retention the NULL count and min/max of the
    order column; for age retention the NULL count and min/max of the
    event time in microseconds, and ``t_cut``, the age threshold its own
    newest row implies (max event time − interval, evaluated by Spark)."""

    df: DataFrame
    rows: int
    o_nulls: int | None = None
    lo: object = None
    hi: object = None
    t_nulls: int | None = None
    t_lo: int | None = None
    t_hi: int | None = None
    t_cut: int | None = None


# cutoffs are compared as DECIMAL(19, 0), which holds every BIGINT: a
# DECIMAL literal is passed to generated code by reference, so a new
# cutoff reuses the compiled filter, where a BIGINT literal is inlined
# into the Java source and recompiles it. (19, 0) is narrower than
# BIGINT's DECIMAL(20, 0), so the optimizer cannot unwrap the cast back
# into a BIGINT comparison.
_EXACT = "decimal(19,0)"


def _at_least(col: Column, value, strict: bool = False) -> Column:
    """``col >= value`` (``>`` when ``strict``) for an integral ``col``,
    with ``value`` out of the generated code."""
    col, lit = col.cast(_EXACT), F.lit(Decimal(value)).cast(_EXACT)
    return col > lit if strict else col >= lit


class IncrementalRunner(PinOwner):
    """Scripted micro-batch evaluation of a grouped accumulate pipeline.

    Parameters
    ----------
    prepare: calc+link phase — fn(batch_df) -> DataFrame, applied to each
        incoming batch (the delta). This is where calc columns and link
        joins run: both are per-row/broadcast ops, so delta-only evaluation
        is exact — same argument the reference uses to evaluate calc/link
        over only the added span (ColumnDefinitionCalc/Link#evaluate).
    group_keys: accu grouping (the link column value).
    aggs: merge-able aggregate specs.
    retention_count / retention_age: FIFO eviction — max rows (by arrival
        order column ``order_col``) or max event-time age (vs the max event
        time seen so far — the watermark analog).
    """

    def __init__(
        self,
        spark: SparkSession,
        prepare: Callable[[DataFrame], DataFrame],
        group_keys: list[str],
        aggs: list[AggSpec],
        retention_count: int | None = None,
        retention_age: str | None = None,  # SQL interval, e.g. "30 seconds"
        order_col: str = "batch_ofs",
        time_col: str = "event_time",
        unfold: bool | None = None,  # None = auto (on iff all invertible)
    ):
        super().__init__(spark)
        self.prepare = prepare
        self.group_keys = group_keys
        self.aggs = aggs
        self.retention_count = retention_count
        self.retention_age = retention_age
        self.order_col = order_col
        self.time_col = time_col
        # retained window (retention mode): segments in arrival order
        self._segments: list[_Segment] = []
        self._schema = None  # the prepared rows' schema, once a delta came
        self._state: DataFrame | None = None  # merged aggregates (add-only mode)
        # un-fold mode: retention active AND every fold is invertible →
        # the state takes the delta rows' per-row fold values (+) and the
        # evicted rows' (−) in one merge_grid fold; per-batch AGGREGATION
        # work ∝ |delta| + |evicted| + |state| instead of |window|. The
        # segments are still retained (eviction membership needs them) but
        # never re-aggregated, and only a segment that straddles the cutoff
        # is scanned. A hidden count column tracks live rows per group so
        # fully-evicted groups drop out of the read-out exactly as they do
        # under recompute.
        auto = self._needs_buffer() and bool(aggs) and all(
            a.invertible for a in aggs
        )
        if unfold and not auto:
            raise ValueError(
                "unfold=True requires retention and all-invertible aggs"
            )
        self._unfold = auto if unfold is None else unfold
        self._forms = [_row_form(a) for a in aggs] if self._unfold else []
        # sign (+1 added, −1 evicted) → the columns a row carries into the
        # state: keys, each fold's per-row value times the sign, and the
        # sign as its live-row count. Built from the first delta's schema:
        # each value is cast to its batch aggregate's result type, so the
        # state is the sum of that type from trigger 1 on, as under
        # add-only.
        self._signed: dict[int, list[Column]] = {}
        self.batches_seen = 0

    _N = "__live_rows"

    # -- ActionAdd + ActionEval --------------------------------------------

    def add_batch(self, batch_df: DataFrame) -> None:
        """ActionAdd(delta) + ActionRemove(retention) + ActionEval."""
        prepared = self.prepare(batch_df)
        if self._needs_buffer():
            self._retain(prepared)
        else:
            self.batches_seen += 1
            partial = prepared.groupBy(*self.group_keys).agg(
                *[F.expr(a.batch_expr).alias(a.name) for a in self.aggs]
            )
            self._state = self._pin(
                merge_grid(
                    self._state,
                    partial,
                    self.group_keys,
                    {a.name: a.merge_expr for a in self.aggs},
                )
            )
        # the previous generation fed the pins above; freeing it here keeps
        # a long-running stream at one checkpoint generation, and this
        # trigger's pins that no segment carried go too
        self._commit()
        self._begin()

    def _retain(self, prepared: DataFrame) -> None:
        """The retention step: the delta's pin (one run of ``prepare``)
        becomes the newest segment; every segment is then kept, evicted or
        split by the cutoff from its stats, and the un-fold state adds the
        delta and subtracts the evicted rows."""
        dp = self.spark.sparkContext.defaultParallelism
        new = self._segment(prepared.coalesce(dp))
        for col, nulls, what in (
            (self.order_col, new.o_nulls, "count"),
            (self.time_col, new.t_nulls, "age"),
        ):
            if nulls:
                self._begin()  # frees the refused delta's pin
                raise ValueError(
                    f"IncrementalRunner: {nulls} delta row(s) have a NULL "
                    f"{col!r}, which {what} retention cannot place"
                )
        self.batches_seen += 1
        if self._schema is None:
            self._schema = new.df.schema
            if self._unfold:
                typed = new.df.agg(*[F.expr(a.batch_expr) for a in self.aggs])
                values = [
                    (a.name, F.expr(form).cast(f.dataType))
                    for a, form, f in zip(self.aggs, self._forms, typed.schema)
                ]
                self._signed = {
                    sign: [
                        *map(F.col, self.group_keys),
                        *[(v if sign > 0 else -v).alias(n) for n, v in values],
                        F.lit(sign).cast("bigint").alias(self._N),
                    ]
                    for sign in (1, -1)
                }
        segs = [*self._segments, new] if new.rows else self._segments
        # an empty delta moves neither the count cutoff nor the max event
        # time, so nothing evicts
        cut = thr = None
        if new.rows and self.retention_count is not None:
            cut = self._count_cutoff(segs)
        if new.rows and self.retention_age is not None:
            thr = max(s.t_cut for s in segs)
        kept, evicted = [], []
        for seg in segs:
            if (cut is not None and seg.hi < cut) or (
                thr is not None and seg.t_hi <= thr
            ):
                evicted.append(seg.df)
            elif (cut is None or seg.lo >= cut) and (
                thr is None or seg.t_lo > thr
            ):
                kept.append(seg)
            else:
                keep = self._keep(cut, thr)
                part = self._segment(seg.df.filter(keep))
                if part.rows:  # both retentions together may keep none
                    kept.append(part)
                evicted.append(seg.df.filter(~keep))
        self._segments = self._compact(kept, dp)
        if self._unfold:
            signed = [
                new.df.select(*self._signed[1]),
                *[df.select(*self._signed[-1]) for df in evicted],
            ]
            merged = merge_grid(
                self._state,
                reduce(DataFrame.unionByName, signed),
                self.group_keys,
            )
            # prune fully-evicted groups from STATE, not just from
            # read-out: otherwise state grows with all-time distinct
            # keys instead of live keys. Safe — a reappearing key
            # re-enters via its next delta partial. Caveat (documented,
            # inherent to un-fold): double add/subtract partials
            # accumulate FP drift vs recompute over very long runs;
            # re-anchor periodically from the retained window if
            # bit-parity matters.
            self._state = self._pin(merged.filter(F.col(self._N) != 0))
        # the retained segments outlive this trigger; evicted and split
        # segments are freed with the old generation
        for seg in self._segments:
            self._carry(seg.df)

    def _needs_buffer(self) -> bool:
        return self.retention_count is not None or self.retention_age is not None

    def _segment(self, df: DataFrame) -> _Segment:
        """Pin ``df`` for this trigger (a retained segment is carried into
        the next generation) with its stats observed by the pin's own
        job."""
        obs = Observation()
        stats = [F.count(F.lit(1)).alias("rows")]
        if self.retention_count is not None:
            o = F.col(self.order_col)
            stats += [
                F.count_if(o.isNull()).alias("o_nulls"),
                F.min(o).alias("lo"),
                F.max(o).alias("hi"),
            ]
        if self.retention_age is not None:
            t = F.col(self.time_col)
            stats += [
                F.count_if(t.isNull()).alias("t_nulls"),
                F.min(F.unix_micros(t)).alias("t_lo"),
                F.max(F.unix_micros(t)).alias("t_hi"),
                F.unix_micros(
                    F.max(t) - F.expr(f"INTERVAL {self.retention_age}")
                ).alias("t_cut"),
            ]
        out = self._pin(df.observe(obs, *stats), trigger=True)
        return _Segment(out, **obs.get)

    def _count_cutoff(self, segs: list[_Segment]):
        """ActionRemove, count variant: the smallest ``order_col`` of the
        newest ``retention_count`` rows (every row at or above it is kept,
        ties included), or None when nothing evicts. Newest segments that
        lie wholly above all older ones are counted off from their stats;
        if the rest of N is exactly the next segments and they lie above
        all others, the cutoff is their minimum and no query runs.
        Otherwise the top-N query ranks only the segments that can hold
        the cutoff."""
        n = self.retention_count
        if sum(s.rows for s in segs) <= n:
            return None
        rest = sorted(segs, key=lambda s: s.hi, reverse=True)
        while rest[0].rows < n and rest[0].lo > max(s.hi for s in rest[1:]):
            n -= rest.pop(0).rows
        taken = k = 0
        while taken < n:
            taken += rest[k].rows
            k += 1
        floor = min(s.lo for s in rest[:k])
        if taken == n and all(s.hi < floor for s in rest[k:]):
            return floor
        # every row of the N newest is >= floor, so a segment wholly
        # below it holds none of them
        ranked = reduce(
            DataFrame.unionByName, [s.df for s in rest if s.hi >= floor]
        )
        return (
            ranked.select(self.order_col)
            .orderBy(F.col(self.order_col).desc())
            .limit(n)
            .agg(F.min(self.order_col).alias("m"))
            .collect()[0]["m"]
        )

    def _keep(self, cut, thr: int | None) -> Column:
        """ActionRemove as a predicate over a straddling segment: the rows
        to KEEP (``order_col >= cut``, ``event time > thr``); the un-fold
        path negates it to aggregate exactly the evicted part. NULLs never
        reach it: such deltas are refused."""
        preds = []
        if cut is not None:
            o = F.col(self.order_col)
            # an integral column's cutoff comes back as an int
            preds.append(
                _at_least(o, cut) if isinstance(cut, int) else o >= F.lit(cut)
            )
        if thr is not None:
            preds.append(
                _at_least(F.unix_micros(F.col(self.time_col)), thr, strict=True)
            )
        return reduce(lambda a, b: a & b, preds)

    def _compact(self, segs: list[_Segment], dp: int) -> list[_Segment]:
        """Bound pins and partitions: while there are more than 2 × cores
        segments, the adjacent pair with the fewest rows together is
        copied into one."""
        while len(segs) > 2 * dp:
            i = min(
                range(len(segs) - 1),
                key=lambda i: segs[i].rows + segs[i + 1].rows,
            )
            pair = segs[i].df.unionByName(segs[i + 1].df).coalesce(dp)
            segs[i : i + 2] = [self._segment(pair)]
        return segs

    # -- read-out -----------------------------------------------------------

    def result(self) -> DataFrame:
        """Current accumulate values (the reference's getValue read-out
        after evaluate).

        In un-fold mode this is a plain read of the maintained state —
        groups whose rows were all evicted are dropped via the hidden
        live-row count, and NO aggregation over the retained window
        appears in the plan (asserted by tests); recompute mode
        re-aggregates the window (the fallback for non-invertible folds)."""
        if self._needs_buffer():
            if self._schema is None:
                raise ValueError("no batches added")
            if self._unfold:
                return self._state.filter(F.col(self._N) > 0).drop(self._N)
            return self.window().groupBy(*self.group_keys).agg(
                *[F.expr(a.batch_expr).alias(a.name) for a in self.aggs]
            )
        if self._state is None:
            raise ValueError("no batches added")
        return self._state

    def window(self) -> DataFrame:
        """The retained population (retention mode only) — for roll columns
        and inspection: the segments' union, read in place and coalesced to
        one partition per core."""
        if self._schema is None:
            raise ValueError("retention mode only")
        if not self._segments:
            return local_frame(self.spark, [], self._schema)
        return reduce(
            DataFrame.unionByName, [s.df for s in self._segments]
        ).coalesce(self.spark.sparkContext.defaultParallelism)

    def close(self) -> None:
        super().close()
        self._segments = []

    def state_rows(self) -> int:
        """Rows in the merged aggregate state (0 before the first batch)."""
        return 0 if self._state is None else self._state.count()


class DriverSumGrid:
    """A keyed BIGINT sum grid held on the driver: the accumulate state of
    an additive monitor whose state is small (see the module docstring).

    ``keys`` and ``values`` name the columns of the per-trigger partial
    DataFrame; :meth:`add` collects it and adds its value columns into the
    cell of its key (a NULL partial sum adds nothing). ``cap`` bounds the
    number of distinct keys: the partial is collected with
    ``limit(cap + 1)`` and the guard runs before the state changes, so a
    refused delta leaves the grid as it was. ``what`` names the capped
    quantity in the guard's message; ``cap=None`` means unbounded.

    Snapshots are JSON-safe: the column names plus one sorted
    ``[*key, *values]`` row per cell; restoring a snapshot of a grid with
    other columns raises.
    """

    def __init__(
        self,
        spark: SparkSession,
        keys: Sequence[str],
        values: Sequence[str],
        cap: int | None,
        what: str,
    ):
        self.spark = spark
        self._keys = tuple(keys)
        self._values = tuple(values)
        self._cap = cap
        self._what = what
        self._cells: dict[tuple, list[int]] = {}
        self.batches_seen = 0

    def _collect(self, partial: DataFrame) -> list:
        """The delta's partial rows; at most ``cap + 1`` reach the driver."""
        if self._cap is None:
            return partial.collect()
        rows = partial.limit(self._cap + 1).collect()
        self._check_cap(len({self._key(r) for r in rows}))
        return rows

    def absorb(self, rows) -> None:
        """Add collected partial rows into the grid; a refused delta leaves
        the grid unchanged."""
        merged: dict[tuple, list[int]] = {}
        for r in rows:
            k = self._key(r)
            cur = merged.get(k) or self._cells.get(k) or [0] * len(self._values)
            merged[k] = [c + int(r[v] or 0) for c, v in zip(cur, self._values)]
        self._check_cap(
            len(self._cells) + sum(k not in self._cells for k in merged)
        )
        self._cells.update(merged)

    def add(self, partial: DataFrame) -> list:
        """One trigger: collect ``partial``, check and absorb it; returns
        its rows."""
        self.batches_seen += 1
        rows = self._collect(partial)
        self._check_delta(rows)
        self.absorb(rows)
        return rows

    def _check_delta(self, rows: list) -> None:
        """Refuse a collected delta before it changes the grid (a subclass
        hook; the base accepts every delta)."""

    def _key(self, row) -> tuple:
        return tuple(row[k] for k in self._keys)

    def _check_cap(self, n_keys: int) -> None:
        if self._cap is not None and n_keys > self._cap:
            raise ValueError(
                f"{type(self).__name__}: {self._what} exceeds {self._cap}"
            )

    def require_rows(self) -> None:
        """Raise unless some row has been absorbed (read-outs over an empty
        grid have no defined value)."""
        if not self._cells:
            raise ValueError("no rows absorbed yet")

    def rows(self) -> list[tuple]:
        """``(*key, *values)`` per cell, sorted by key (NULLs first)."""
        return sorted(
            (k + tuple(vs) for k, vs in self._cells.items()),
            key=lambda r: [(v is not None, v) for v in r[: len(self._keys)]],
        )

    def frame(self, schema: str) -> DataFrame:
        """The grid as a DataFrame with DDL ``schema`` (keys then values)."""
        return local_frame(self.spark, self.rows(), schema)

    def state_snapshot(self) -> dict:
        """JSON-safe full recovery state."""
        return {
            "columns": [*self._keys, *self._values],
            "rows": [list(r) for r in self.rows()],
        }

    def restore_state(self, snapshot: dict) -> None:
        """Resume from a :meth:`state_snapshot` taken after the last
        committed trigger (persist it with the epoch's output)."""
        cols = [*self._keys, *self._values]
        if list(snapshot["columns"]) != cols:
            raise ValueError(
                f"{type(self).__name__}: snapshot grid "
                f"{snapshot['columns']} != configured {cols}"
            )
        rows = snapshot["rows"]
        self._check_cap(len(rows))
        nk = len(self._keys)
        self._cells = {
            tuple(r[:nk]): [int(v) for v in r[nk:]] for r in rows
        }
