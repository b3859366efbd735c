"""The column calculus: Schema / Table / column definitions → DataFrame plans.

Reference semantics (public asavinov/bistro, Java):

- ``core/.../core/Schema.java#createTable,#createColumn,#evaluate`` — a schema
  is a registry of tables + derived columns with a dependency graph;
  ``evaluate()`` topologically orders definitions and computes them.
- ``core/.../core/Column.java#calc,#link,#project,#accu,#roll`` — the five
  derived-column kinds.
- ``core/.../core/Table.java#prod,#where,#range`` — the three derived-table
  kinds.

Design (NOT a port): the reference materializes each column into its own
in-memory array and evaluates per-row Java lambdas in dependency order.  Here
a Table is a *recipe*: a base DataFrame (or prod/range generator) plus an
ordered list of column ops.  ``Table.df()`` compiles the whole recipe into a
single Catalyst plan — withColumn for calc, broadcast left-join for link
(an in-plan map lookup when the target is driver-side rows),
groupBy().agg() + broadcast join-back for accumulate, Window frames for roll —
and Catalyst performs the topological ordering, common-subplan sharing,
column pruning and predicate pushdown that the reference hand-implements in
``Schema.java#evaluate``.

Link values: the reference stores the *target row id*; row ids are not stable
in a distributed engine, so a link column holds the target's **natural key**
(single column) or a struct of keys — observationally identical, since the
reference only ever uses row ids to hop paths (``ColumnPath.java#getValue``)
and to group (``ColumnDefinitionAccu.java``), both of which key equality
supports.
"""

from __future__ import annotations

import re
import typing
from dataclasses import dataclass, field
from typing import Any, Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DataType,
    DateType,
    NumericType,
    StringType,
)

# Separator used to materialize a ColumnPath hop ("link.attr") as a flat
# column name ("link__attr") — Spark column names with dots need escaping
# everywhere, so we avoid them.
PATH_SEP = "__"

# Bistro formula bracket reference: [Column A] (formula/.../FormulaExp4j.java
# resolves bracketed names against the table's columns). Matches only where
# a bracket CANNOT be a SQL subscript — i.e. not right after an identifier
# char, ']' or ')' — so `sig[0]` / `m['k']` style accesses pass through.
_BRACKET_REF = re.compile(r"(?<![\w\]\)'\"])\[([^\[\]]+)\]")

# Spans the substitution must never touch: single-/double-quoted SQL string
# literals (backslash escapes and '' doubling honored) and backtick-quoted
# identifiers.  Without this, a '[' inside a string literal that follows a
# space/comma/paren — e.g. regexp_replace(text, ' [a-z]+', '') — would be
# rewritten into a backticked identifier, corrupting the expression.
_QUOTED_SPAN = re.compile(
    r"'(?:[^'\\]|\\.|'')*'"  # single-quoted literal
    r"|\"(?:[^\"\\]|\\.)*\""  # double-quoted literal
    r"|`(?:[^`]|``)*`"  # backtick identifier
)


def parse_formula(s: str) -> str:
    """Bistro formula bracket syntax → Spark SQL identifiers.

    ``[Column A] + [B]`` → ``\\`Column A\\` + \\`B\\``; dotted link paths
    ``[link.attr]`` → ``\\`link__attr\\`` (the engine's ColumnPath
    flattening). Everything outside brackets is passed through untouched —
    including the inside of quoted string literals and backticked
    identifiers, which are never rewritten — so the full Spark SQL
    expression language remains available: a strict superset of the
    reference's exp4j/EvalEx formula grammar."""

    def _sub_unquoted(chunk: str) -> str:
        return _BRACKET_REF.sub(
            lambda m: f"`{m.group(1).strip().replace('.', PATH_SEP)}`", chunk
        )

    out: list[str] = []
    pos = 0
    for lit in _QUOTED_SPAN.finditer(s):
        out.append(_sub_unquoted(s[pos : lit.start()]))
        out.append(lit.group(0))
        pos = lit.end()
    out.append(_sub_unquoted(s[pos:]))
    return "".join(out)


def _as_column(expr: Any, df_cols: Sequence[str] | None = None) -> Column:
    """Accept a SQL expression string (bracket formula references allowed),
    a Column, or a literal."""
    if isinstance(expr, Column):
        return expr
    if isinstance(expr, str):
        return F.expr(parse_formula(expr))
    return F.lit(expr)


def _path_to_col(path: str) -> str:
    """'group.name' → 'group__name'; plain names pass through."""
    return path.replace(".", PATH_SEP)


# --------------------------------------------------------------------------
# Column / table definition records
# --------------------------------------------------------------------------


@dataclass
class CalcDef:
    """calc column — Column.java#calc / ColumnDefinitionCalc.java#evaluate.

    ``expr`` is a SQL string or pyspark Column (preferred: stays in
    whole-stage codegen) or a pandas-vectorized callable registered through
    Table.calc_pandas (Arrow path; reference's Java lambda analog).
    """

    name: str
    expr: Any


@dataclass
class LinkDef:
    """link column — Column.java#link / ColumnDefinitionLink.java.

    Many-to-one left equi-join against ``target`` on
    ``{source_expr: target_key}``; the link value is the matched target key
    (null on miss, matching the reference's unresolved-link-is-null).
    ``bring`` lists target columns materialized as ``name__col`` path hops.
    """

    name: str
    target: "Table"
    on: dict[str, str]  # source expr/col -> target key col
    bring: set[str] = field(default_factory=set)


@dataclass
class AccuDef:
    """accumulate column — Column.java#accu / ColumnDefinitionAccu.java.

    Defined on the *group* table; folds fact rows grouped by the fact
    table's link column into one value per group row.  ``agg`` is a SQL
    aggregate expression over fact columns (Spark runs it partial+final,
    unlike the reference's single-threaded fold).  Groups receiving no facts
    get ``default`` — a real reference test case (Tests.java, g3 empty group).
    """

    name: str
    facts: "Table"
    link: str  # name of the link/project column on the facts table
    agg: Any  # SQL aggregate string or Column
    default: Any = None


@dataclass
class RollDef:
    """roll column — Column.java#roll / ColumnDefinitionRoll.java.

    Count-based window (rowsBetween) or distance-based (rangeBetween) frame
    over ``order_by`` within optional ``partition_by``.  The reference's
    (sizePast, sizeFuture) ⇒ frame [-size_past, +size_future]; its
    distance-path variant ⇒ rangeBetween on the distance column.
    NOTE scale: an unpartitioned window is a single-task sort at 100 TB —
    callers must partition (tests accept global order on tiny fixtures).
    """

    name: str
    agg: Any
    order_by: str
    size_past: int | float
    size_future: int | float
    mode: str = "rows"  # "rows" | "range"
    partition_by: Sequence[str] = ()
    desc: bool = False


@dataclass
class PandasCalcDef:
    """calc column via Arrow-vectorized pandas UDF (the reference's arbitrary
    Java lambda analog — ColumnDefinitionCalc.java's Evaluator). Never
    per-row Python: fn maps pandas Series batch → pandas Series batch."""

    name: str
    fn: Callable
    inputs: Sequence[str]
    return_type: str


class Table:
    """A set of records + derived-column recipe (Table.java + Column.java).

    Base kinds:
      - source: wraps a user DataFrame (noop columns = its fields),
      - prod:   cartesian product of dim tables (TableDefinitionProd.java),
      - range:  consecutive numeric/temporal intervals
                (TableDefinitionRange.java).

    ``where`` restricts the population (Table.java#where). All derived
    columns are added lazily; ``df()`` compiles.
    """

    def __init__(self, schema: "Schema", name: str):
        self.schema = schema
        self.name = name
        self._base: DataFrame | None = None
        self._base_thunk: Callable[[], DataFrame] | None = None
        self._ops: list[Any] = []
        self._filters: list[Any] = []
        self._links: dict[str, LinkDef] = {}
        self._key: list[str] = []  # natural key columns (for link targets)
        self._broadcast_as_dim = True

    # -- population -------------------------------------------------------

    def source(self, df: DataFrame, key: Sequence[str] | None = None) -> "Table":
        self._base = df
        if key:
            self._key = list(key)
        return self

    def key_cols(self) -> list[str]:
        return self._key

    def set_key(self, *cols: str) -> "Table":
        self._key = list(cols)
        return self

    # -- column ops (Column.java kinds) ------------------------------------

    def calc(self, name: str, expr: Any) -> "Table":
        """calc column: same-row expression (Column.java#calc)."""
        self._ops.append(CalcDef(name, expr))
        return self

    def calc_pandas(
        self, name: str, fn: Callable, inputs: Sequence[str], return_type: str
    ) -> "Table":
        """calc column backed by an Arrow-vectorized pandas UDF."""
        self._ops.append(PandasCalcDef(name, fn, list(inputs), return_type))
        return self

    def link(
        self, name: str, target: "Table", on: dict[str, str] | str | Sequence[str]
    ) -> "Table":
        """link column (Column.java#link): many-to-one equi match into
        ``target``; value = target key, null on miss."""
        if isinstance(on, str):
            key = target.key_cols() or [on]
            on = {on: key[0]}
        elif not isinstance(on, dict):
            keys = target.key_cols()
            on = dict(zip(on, keys))
        d = LinkDef(name, target, dict(on))
        self._ops.append(d)
        self._links[name] = d
        return self

    def project(
        self, name: str, target_name: str, keys: dict[str, str] | Sequence[str]
    ) -> "Table":
        """project column (Column.java#project / ColumnDefinitionProj.java):
        populate ``target_name`` as the distinct key combinations of this
        table, and link to it.  Unlike link, a project can never miss."""
        if not isinstance(keys, dict):
            keys = {k: _path_to_col(k).split(PATH_SEP)[-1] for k in keys}
        target = self.schema.table(target_name)
        target._base_thunk = lambda: (
            self._compile_base_with_filters()
            .select(
                *[
                    _as_column(src).alias(dst)
                    for src, dst in typing.cast(dict, keys).items()
                ]
            )
            .dropDuplicates()
        )
        target._key = list(keys.values())
        d = LinkDef(name, target, dict(keys))
        self._ops.append(d)
        self._links[name] = d
        return self

    def accu(
        self,
        name: str,
        facts: "Table",
        link: str,
        agg: Any,
        default: Any = None,
    ) -> "Table":
        """accumulate column on this (group) table (Column.java#accu)."""
        self._ops.append(AccuDef(name, facts, link, agg, default))
        return self

    def roll(
        self,
        name: str,
        agg: Any,
        order_by: str,
        size_past: int | float,
        size_future: int | float = 0,
        mode: str = "rows",
        partition_by: Sequence[str] = (),
    ) -> "Table":
        """rolling column (Column.java#roll): count frame (mode='rows',
        rowsBetween) or distance frame (mode='range', rangeBetween)."""
        self._ops.append(
            RollDef(name, agg, order_by, size_past, size_future, mode, tuple(partition_by))
        )
        return self

    def where(self, pred: Any) -> "Table":
        """population predicate (Table.java#where) — native Catalyst filter."""
        self._filters.append(pred)
        return self

    # -- compilation --------------------------------------------------------

    def _compile_base(self) -> DataFrame:
        if self._base is not None:
            return self._base
        if self._base_thunk is not None:
            return self._base_thunk()
        raise ValueError(f"table {self.name!r} has no population definition")

    def _compile_base_with_filters(self) -> DataFrame:
        df = self._compile_base()
        for p in self._filters:
            df = df.filter(_as_column(p))
        return df

    def df(self) -> DataFrame:
        """Compile the full recipe into one DataFrame plan.

        Mirrors Schema.java#evaluate's topological pass, except ordering is
        by declaration (ops may reference any previously declared column or
        link path) and Catalyst handles sharing/pruning/pushdown.
        """
        return self._compile()

    def _compile(self, as_dim_for: set[str] | None = None) -> DataFrame:
        """Compile; ``as_dim_for`` = set of columns a link join needs from
        this table (key + bring).  In that mode accumulate ops not in the
        needed set are skipped — they can only be needed via an explicit
        path hop, and skipping them breaks the facts→link→group→accu→facts
        dependency cycle (in the reference the cycle is resolved at column
        granularity by Schema.java#evaluate's topo sort; here the link join
        simply never computes aggregates it doesn't read)."""
        df = self._compile_base_with_filters()
        pending_accu: list[AccuDef] = []

        def flush(d: DataFrame) -> DataFrame:
            if pending_accu:
                d = self._apply_accu_group(d, list(pending_accu))
                pending_accu.clear()
            return d

        for op in self._ops:
            if (
                as_dim_for is not None
                and isinstance(op, AccuDef)
                and op.name not in as_dim_for
            ):
                continue
            if isinstance(op, AccuDef):
                # fuse consecutive accumulates over the same facts+link into
                # ONE partial+final aggregation pass (the reference evaluates
                # each accu column in its own fact loop; one shuffle here).
                if pending_accu and (
                    pending_accu[0].facts is not op.facts
                    or pending_accu[0].link != op.link
                ):
                    df = flush(df)
                pending_accu.append(op)
                continue
            df = flush(df)
            df = self._apply_op(df, op)
        return flush(df)

    def _apply_op(self, df: DataFrame, op: Any) -> DataFrame:
        if isinstance(op, CalcDef):
            return df.withColumn(op.name, _as_column(op.expr))

        if isinstance(op, PandasCalcDef):
            from pyspark.sql.functions import pandas_udf

            udf = pandas_udf(op.fn, op.return_type)
            return df.withColumn(op.name, udf(*[F.col(c) for c in op.inputs]))

        if isinstance(op, LinkDef):
            return self._apply_link(df, op)

        if isinstance(op, AccuDef):
            return self._apply_accu(df, op)

        if isinstance(op, _RangeLinkDef):
            return _apply_range_link(df, op)

        if isinstance(op, RollDef):
            w = Window.orderBy(F.col(op.order_by))
            if op.partition_by:
                w = Window.partitionBy(*op.partition_by).orderBy(F.col(op.order_by))
            if op.mode == "rows":
                w = w.rowsBetween(-int(op.size_past), int(op.size_future))
            else:
                w = w.rangeBetween(-op.size_past, op.size_future)
            return df.withColumn(op.name, _as_column(op.agg).over(w))

        raise TypeError(f"unknown op {op!r}")

    def _apply_link(self, df: DataFrame, op: LinkDef) -> DataFrame:
        """Left equi-link; link value = matched target key.

        A target of driver-side rows (see :func:`_link_lookup`) becomes a
        map lookup inside the fact projection: no join and no broadcast
        job. Any other target is a broadcast left join. Scale notes: dims
        broadcast (no shuffle of the fact side); if the target is large,
        drop ``_broadcast_as_dim`` and Spark picks SMJ/shuffled-hash with
        AQE skew splitting. Only the key + requested ``bring`` columns of
        the target are selected → scan-level column pruning on the dim.
        """
        tkeys = list(op.on.values())
        cols = [*tkeys, *[c for c in sorted(op.bring) if c not in tkeys]]
        # the target side is renamed to avoid collisions: a single key
        # becomes the link name, keys of a compound link name__key, and
        # brought columns name__col
        names = {c: f"{op.name}{PATH_SEP}{c}" for c in cols}
        if len(tkeys) == 1:
            names[tkeys[0]] = op.name
        src = [_as_column(s) for s in op.on]
        lookup = _link_lookup(op, len(tkeys), cols)
        if lookup is not None:
            table, key_types = lookup
            if [f.dataType for f in df.select(*src).schema] == key_types:
                # a struct key is never NULL, and struct equality matches
                # NULL fields, so a NULL fact key finds a NULL dim key as
                # eqNullSafe does
                hit = table[F.struct(*[c.alias(k) for c, k in zip(src, tkeys)])]
                return df.select("*", *[hit[c].alias(names[c]) for c in cols])
        tdf = op.target._compile(as_dim_for=set(cols)).select(
            *[F.col(c).alias(names[c]) for c in cols]
        )
        if op.target._broadcast_as_dim:
            tdf = F.broadcast(tdf)
        cond = None
        for c, k in zip(src, tkeys):
            eq = c.eqNullSafe(F.col(names[k]))
            cond = eq if cond is None else (cond & eq)
        return df.join(tdf, cond, "left")

    def _apply_accu(self, df: DataFrame, op: AccuDef) -> DataFrame:
        return self._apply_accu_group(df, [op])

    def _apply_accu_group(self, df: DataFrame, ops: list[AccuDef]) -> DataFrame:
        """groupBy(link).agg(*) on facts + broadcast-join back to groups.

        The reference folds facts one-by-one in arrival order, one loop per
        accu column (ColumnDefinitionAccu.java); Spark computes the same
        result with a single partial+final hash aggregate over ALL fused
        accu columns, provided each fold is commutative-associative (all SQL
        aggregates are). Order-dependent folds go through streaming state.

        Scale: the aggregate output is |groups| rows → broadcast join-back,
        no shuffle of the group table; map-side partial aggregation absorbs
        the skewed fact keys (zipf ``source``) before the tiny shuffle.
        """
        op0 = ops[0]
        gkeys = self.key_cols()
        if not gkeys:
            raise ValueError(f"accu target table {self.name!r} needs a key")
        facts_df = op0.facts.df()
        link_def = op0.facts._links.get(op0.link)
        if link_def is not None and len(link_def.on) == 1:
            link_cols = [op0.link]
        elif link_def is not None:
            link_cols = [f"{op0.link}{PATH_SEP}{k}" for k in link_def.on.values()]
        else:
            link_cols = [op0.link]  # plain column used as the group key
        agg_cols = [_as_column(op.agg).alias(op.name) for op in ops]
        grouped = facts_df.groupBy(*[F.col(c) for c in link_cols]).agg(*agg_cols)
        cond = None
        for gk, lc in zip(gkeys, link_cols):
            c = df[gk].eqNullSafe(grouped[lc])
            cond = c if cond is None else (cond & c)
        joined = df.join(F.broadcast(grouped), cond, "left")
        for lc in link_cols:
            joined = joined.drop(grouped[lc])
        for op in ops:
            if op.default is not None:
                joined = joined.withColumn(
                    op.name, F.coalesce(F.col(op.name), F.lit(op.default))
                )
        return joined

    # -- path hops ---------------------------------------------------------

    def bring(self, link: str, *cols: str) -> "Table":
        """Declare ColumnPath hops (ColumnPath.java): make target columns
        available as ``link__col`` after the link join."""
        self._links[link].bring.update(cols)
        return self


# a link target compiles to an in-plan lookup when its key + bring frame
# optimizes to a LocalRelation of at most this many rows (the map is
# searched linearly for each fact row) whose columns all have these types,
# which survive a round trip through Python literals
_LOOKUP_ROWS = 64
_LOOKUP_TYPES = (StringType, BooleanType, NumericType, DateType)


def _link_lookup(
    op: LinkDef, n_keys: int, cols: list[str]
) -> tuple[Column, list[DataType]] | None:
    """The link target's rows as a map from a struct of the first
    ``n_keys`` of ``cols`` to a struct of all of ``cols``, with the key
    types; None when the link must join.

    Only driver-side rows qualify: a target whose compiled frame
    optimizes to a ``LocalRelation`` (a ``local_frame``) carries its rows
    in every plan that reads it, and collecting them runs no job. The map
    replaces the broadcast, a job per query. It is built once per target
    frame: for a target with no filter and no column of its own in
    ``cols`` the compiled frame is its base frame's, so the result is
    cached on that frame and lives as long as it does (a frame belongs to
    one session). A duplicated key raises: a link is many-to-one.
    """
    t = op.target
    plain = t._base is not None and not t._filters and all(
        isinstance(o, AccuDef) and o.name not in cols for o in t._ops
    )
    # on the frame: {(#keys, *columns): lookup or None}
    cache = t._base.__dict__.setdefault("_link_lookups", {}) if plain else {}
    key = (n_keys, *cols)
    if key in cache:
        return cache[key]
    tdf = t._compile(as_dim_for=set(cols)).select(*cols)
    fields = tdf.schema.fields
    lookup = None
    if (
        all(isinstance(f.dataType, _LOOKUP_TYPES) for f in fields)
        and tdf._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()
        == "LocalRelation"
    ):
        rows = tdf.collect()
        if len({tuple(r[:n_keys]) for r in rows}) < len(rows):
            raise ValueError(
                f"link {op.name!r}: target {t.name!r} repeats a key of "
                f"{cols[:n_keys]}; a link is many-to-one"
            )
        if 0 < len(rows) <= _LOOKUP_ROWS:

            def struct(values, fs):
                return F.struct(
                    *[F.lit(v).cast(f.dataType).alias(f.name) for v, f in zip(values, fs)]
                )

            entries = []
            for r in rows:
                entries += [struct(r[:n_keys], fields[:n_keys]), struct(r, fields)]
            lookup = (F.create_map(*entries), [f.dataType for f in fields[:n_keys]])
    cache[key] = lookup
    return lookup


class Schema:
    """Registry of tables (Schema.java). Evaluation = Catalyst execution of
    the compiled DataFrames, so there is no evaluate() — ``Table.df()`` of
    any table compiles exactly its dependency cone."""

    def __init__(self, spark: SparkSession, name: str = "schema"):
        self.spark = spark
        self.name = name
        self._tables: dict[str, Table] = {}

    def table(self, name: str, df: DataFrame | None = None, key: Sequence[str] | None = None) -> Table:
        t = self._tables.get(name)
        if t is None:
            t = Table(self, name)
            self._tables[name] = t
        if df is not None:
            t.source(df, key)
        elif key:
            t.set_key(*key)
        return t

    def prod(self, name: str, *parts: Table, where: Any = None) -> Table:
        """Product table (TableDefinitionProd.java#populate): cartesian
        product of the parts' populations, optionally filtered.  Restricted
        to dim tables — a cross join of fact tables is never the right plan
        at scale."""
        t = self.table(name)

        def thunk() -> DataFrame:
            df = parts[0].df()
            for p in parts[1:]:
                df = df.crossJoin(p.df())
            return df

        t._base_thunk = thunk
        if where is not None:
            t.where(where)
        return t

    def range(
        self,
        name: str,
        origin: Any,
        period: Any,
        length: int,
        unit: str = "numeric",
    ) -> Table:
        """Range table (TableDefinitionRange.java#populate): rows are
        consecutive intervals [origin + k*period, origin + (k+1)*period).

        Generated distributively with spark.range — no driver-side loop.
        unit='numeric' → double/long bounds; unit='time' → timestamps with
        ``period`` an INTERVAL string (e.g. '10 seconds').
        """
        t = self.table(name)
        spark = self.spark

        if unit == "numeric":

            def thunk() -> DataFrame:
                return (
                    spark.range(length)
                    .select(
                        (F.lit(origin) + F.col("id") * F.lit(period)).alias("interval_start"),
                        (F.lit(origin) + (F.col("id") + 1) * F.lit(period)).alias("interval_end"),
                    )
                )

        else:

            def thunk() -> DataFrame:
                return (
                    spark.range(length)
                    .select(
                        (
                            F.lit(origin).cast("timestamp")
                            + F.col("id") * F.expr(f"INTERVAL {period}")
                        ).alias("interval_start"),
                        (
                            F.lit(origin).cast("timestamp")
                            + (F.col("id") + 1) * F.expr(f"INTERVAL {period}")
                        ).alias("interval_end"),
                    )
                )

        t._base_thunk = thunk
        t._key = ["interval_start"]
        return t

    def project_to_range(
        self, facts: Table, name: str, range_table: Table, value: str
    ) -> Table:
        """Project column into a range table (ColumnDefinitionProj with a
        range target): assign each fact the interval containing ``value``.

        Compiled as a closed-form bin computation (no join!): the interval
        start = origin + floor((v - origin)/period)*period, clamped to the
        range population — the Spark-idiomatic equivalent of the reference's
        per-row interval search, and what F.window() does for time.
        """
        # Implemented as a plain link (broadcast interval join) for
        # generality; range tables are small dims by construction.
        rt_df = range_table  # noqa: F841 - kept for API symmetry
        d = LinkDef(name, range_table, {value: "interval_start"})
        # custom condition join handled in _apply_link is equi-only, so we
        # register a RangeLink op instead:
        facts._ops.append(_RangeLinkDef(name, range_table, value))
        facts._links[name] = d
        return facts


@dataclass
class _RangeLinkDef:
    """Interval-membership link into a range table (binning)."""

    name: str
    target: Table
    value: str


def _apply_range_link(df: DataFrame, op: _RangeLinkDef) -> DataFrame:
    tdf = op.target._compile(as_dim_for={"interval_start", "interval_end"}).select(
        F.col("interval_start").alias(op.name),
        F.col("interval_end").alias(f"{op.name}{PATH_SEP}interval_end"),
    )
    v = F.expr(op.value)
    cond = (v >= F.col(op.name)) & (v < F.col(f"{op.name}{PATH_SEP}interval_end"))
    return df.join(F.broadcast(tdf), cond, "left").drop(
        f"{op.name}{PATH_SEP}interval_end"
    )
