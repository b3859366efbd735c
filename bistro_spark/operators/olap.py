"""OLAP reporting operators: rollup cube margins, pivoted cross-tabs,
scalable decile tables, distributional entropy, and exact-arithmetic
correlation — the interactive-analytics layer every engine comparison
table lists (reference scope: asavinov/bistro's column calculus has no
multi-dimensional reporting; these are the standard-category extensions
SURVEY.md §2.5 tracks).

Scale notes common to all five:

- Every operator is ONE partial-aggregated groupBy over the fact table
  (rollup/pivot/corr) or reuses the two-phase ``global_rank`` (deciles)
  — report-sized outputs, no corpus-sized window, no driver loop.
- Float discipline (the oracle-gate rule): counts and sums are exact
  BIGINT/decimal; any transcendental is rounded per-row to 9 digits and
  summed as decimal (order-independent), ratios are round-6 report
  columns computed once at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_ALL = "(all)"


# ------------------------------------------------------- rollup report ----
def rollup_report(
    df: DataFrame,
    dims: tuple[str, str] = ("source", "lang"),
    len_col: str = "n_chars",
) -> DataFrame:
    """Hierarchical rollup over two dimensions: per (d1, d2), per d1
    subtotal, and the grand total in one pass — Spark's native
    ``rollup`` (a single shuffle computing all three grouping sets with
    partial aggregation; Catalyst expands the sets map-side, it does NOT
    rescan per level). Rolled-up positions are labeled ``(all)`` via
    ``grouping()`` so a genuine NULL dimension value can never collide
    with a subtotal row.

    Returns (d1, d2, n_rows, total_len) with exact BIGINT measures."""
    d1, d2 = dims
    g = (
        df.rollup(d1, d2)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col(len_col).cast("long")).cast("long").alias("total_len"),
            F.grouping(d1).alias("_g1"),
            F.grouping(d2).alias("_g2"),
        )
    )
    return g.select(
        F.when(F.col("_g1") == 1, F.lit(_ALL)).otherwise(F.col(d1)).alias(d1),
        F.when(F.col("_g2") == 1, F.lit(_ALL)).otherwise(F.col(d2)).alias(d2),
        "n_rows",
        "total_len",
    )


def rollup_report_sql(
    table: str = "documents",
    dims: tuple[str, str] = ("source", "lang"),
    len_col: str = "n_chars",
) -> str:
    """DuckDB twin of :func:`rollup_report` (GROUP BY ROLLUP)."""
    d1, d2 = dims
    return f"""
      SELECT CASE WHEN GROUPING({d1}) = 1 THEN '{_ALL}' ELSE {d1} END AS {d1},
             CASE WHEN GROUPING({d2}) = 1 THEN '{_ALL}' ELSE {d2} END AS {d2},
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST({len_col} AS BIGINT)) AS BIGINT) AS total_len
      FROM {table}
      GROUP BY ROLLUP ({d1}, {d2})
    """


# -------------------------------------------------------- pivot report ----
def pivot_report(
    df: DataFrame,
    row_dim: str = "source",
    col_dim: str = "lang",
    values: list[str] | None = None,
) -> DataFrame:
    """Cross-tab: one row per ``row_dim``, one count column per
    ``col_dim`` value — Spark's native ``pivot`` with an EXPLICIT value
    list (the two-argument form; the list is either caller-fixed or one
    dimension-sized distinct collect). Without the list Spark runs a
    blind distinct scan AND the output schema becomes data-dependent —
    the classic pivot footgun at scale. The pivot itself stays one
    partial-aggregated shuffle on ``row_dim``.

    Returns (row_dim, n_<v1>, n_<v2>, ..., n_total); absent cells are 0."""
    if values is None:
        values = sorted(
            r[0] for r in df.select(col_dim).distinct().collect()
        )
    p = (
        df.groupBy(row_dim)
        .pivot(col_dim, values)
        .agg(F.count(F.lit(1)))
    )
    out = p.select(
        row_dim,
        *[
            F.coalesce(F.col(f"`{v}`"), F.lit(0)).cast("long").alias(f"n_{v}")
            for v in values
        ],
    )
    total = None
    for v in values:
        c = F.col(f"n_{v}")
        total = c if total is None else total + c
    return out.withColumn("n_total", total.cast("long"))


def pivot_report_sql(
    table: str = "documents",
    row_dim: str = "source",
    col_dim: str = "lang",
    values: list[str] | None = None,
) -> str:
    """DuckDB twin: conditional aggregation (the portable pivot)."""
    assert values, "oracle needs the explicit value list"
    cells = ",\n             ".join(
        f"CAST(count(*) FILTER (WHERE {col_dim} = '{v}') AS BIGINT) AS n_{v}"
        for v in values
    )
    return f"""
      SELECT {row_dim},
             {cells},
             CAST(count(*) FILTER (WHERE {col_dim} IN ({
                 ", ".join(f"'{v}'" for v in values)
             })) AS BIGINT) AS n_total
      FROM {table}
      GROUP BY {row_dim}
    """


# ------------------------------------------------------- decile report ----
def decile_report(
    df: DataFrame,
    order_cols: list[str] | None = None,
    len_col: str = "n_chars",
    n_buckets: int = 10,
) -> DataFrame:
    """Equal-population quantile buckets WITHOUT ``ntile`` — a global
    ntile window is a single-reducer sort (the whole corpus through one
    task), so bucket = ``(rank-1)·k // N`` over the two-phase
    :func:`ranking.global_rank` instead: range-partitioned rank, one
    #partitions-row driver collect, identical bucket boundaries to
    ntile's when N % k == 0 and deterministic always (the order key is
    totalized by the id tie-break).

    Returns (bucket, n_rows, min_len, max_len) — bucket 0 holds the
    largest ``len_col`` values (rank ascends by length DESC)."""
    from bistro_spark.operators.ranking import global_rank

    order_cols = order_cols or ["_neg_len", "doc_id"]
    base = df.select(
        F.col("doc_id"),
        F.col(len_col).cast("long").alias("_len"),
        (-F.col(len_col)).cast("long").alias("_neg_len"),
    )
    n = base.count()
    ranked = global_rank(base, order_cols, rank_col="_r")
    return (
        ranked.select(
            # integer DIV, not float /: a boundary rank must never land
            # in the wrong bucket by one ulp of double rounding
            F.expr(f"CAST(((_r - 1) * {n_buckets}) DIV {n} AS BIGINT)").alias(
                "bucket"
            ),
            "_len",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("_len").cast("long").alias("min_len"),
            F.max("_len").cast("long").alias("max_len"),
        )
    )


def decile_report_sql(
    table: str = "documents",
    len_col: str = "n_chars",
    n_buckets: int = 10,
) -> str:
    """DuckDB twin: the same (rank-1)·k // N formula over a plain
    row_number (fine at oracle scale)."""
    return f"""
      WITH ranked AS (
        SELECT CAST({len_col} AS BIGINT) AS _len,
               row_number() OVER (
                 ORDER BY -{len_col}, doc_id
               ) AS _r,
               count(*) OVER () AS _n
        FROM {table}
      )
      SELECT CAST(({n_buckets} * (_r - 1)) // _n AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(min(_len) AS BIGINT) AS min_len,
             CAST(max(_len) AS BIGINT) AS max_len
      FROM ranked
      GROUP BY 1
    """


# ------------------------------------------------------- token entropy ----
def token_entropy(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group Shannon entropy of the term distribution (nats) — the
    diversity score that separates varied prose from template spam
    before any model runs: H = ln(N) − (Σ c·ln c)/N over exact term
    counts c.

    One explode + two partial-aggregated groupBys, both keyed so the
    second reuses the first's (group, term) clustering. The only float
    is ln: each c·ln(c) is rounded to 9 digits and summed as decimal —
    order-independent, so engines and cluster shapes agree bit-for-bit
    (the `unigram_logprob` discipline).

    Returns (group, n_terms, n_tokens, entropy)."""
    counts = (
        df.select(
            F.col(group_col),
            F.explode(F.split(F.col(text_col), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy(group_col, "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    per_group = counts.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(
            F.round(F.col("c") * F.log("c"), 9).cast("decimal(38,9)")
        ).alias("_clnc"),
    )
    return per_group.select(
        group_col,
        "n_terms",
        "n_tokens",
        F.round(
            F.log("n_tokens") - F.col("_clnc").cast("double") / F.col("n_tokens"),
            6,
        ).alias("entropy"),
    )


def token_entropy_sql(
    table: str = "documents",
    group_col: str = "source",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`token_entropy` (same round-9 decimal sum)."""
    return f"""
      WITH terms AS (
        SELECT {group_col} AS grp, unnest(string_split({text_col}, ' ')) AS term
        FROM {table}
      ),
      counts AS (
        SELECT grp, term, CAST(count(*) AS BIGINT) AS c
        FROM terms WHERE term <> '' GROUP BY grp, term
      ),
      agg AS (
        SELECT grp AS {group_col},
               CAST(count(*) AS BIGINT) AS n_terms,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               sum(CAST(round(c * ln(c), 9) AS DECIMAL(38,9))) AS _clnc
        FROM counts GROUP BY grp
      )
      SELECT {group_col}, n_terms, n_tokens,
             round(ln(n_tokens) - CAST(_clnc AS DOUBLE) / n_tokens, 6)
               AS entropy
      FROM agg
    """


# ------------------------------------------------- signal correlations ----
def signal_correlations(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    len_col: str = "n_chars",
) -> DataFrame:
    """Per-group Pearson correlation between two per-document signals
    (character length vs whitespace word count) from EXACT sufficient
    statistics: n, Σx, Σy, Σxy, Σx², Σy² as BIGINT/decimal in one
    partial-aggregated pass, the correlation assembled once at the end
    (single double expression over exact inputs — nothing accumulates in
    float, so partitioning cannot change the answer).

    Returns (group, n, corr) — the template for any signal pair a
    quality dashboard tracks."""
    xy = df.select(
        F.col(group_col),
        F.col(len_col).cast("long").alias("x"),
        F.size(
            F.filter(
                F.split(F.col(text_col), " "), lambda w: w != ""
            )
        ).cast("long").alias("y"),
    )
    s = xy.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
    )
    num = F.col("n") * F.col("sxy").cast("double") - (
        F.col("sx").cast("double") * F.col("sy").cast("double")
    )
    den = F.sqrt(
        F.col("n") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    ) * F.sqrt(
        F.col("n") * F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy").cast("double")
    )
    return s.select(
        group_col,
        "n",
        F.round(num / den, 6).alias("corr"),
    )


def signal_correlations_sql(
    table: str = "documents",
    group_col: str = "source",
    text_col: str = "text",
    len_col: str = "n_chars",
) -> str:
    """DuckDB twin of :func:`signal_correlations` (same exact sums)."""
    return f"""
      WITH xy AS (
        SELECT {group_col} AS grp,
               CAST({len_col} AS BIGINT) AS x,
               CAST(len(list_filter(string_split({text_col}, ' '),
                                    w -> w <> '')) AS BIGINT) AS y
        FROM {table}
      ),
      s AS (
        SELECT grp AS {group_col},
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS DECIMAL(38,0)) AS sx,
               CAST(sum(y) AS DECIMAL(38,0)) AS sy,
               CAST(sum(x * y) AS DECIMAL(38,0)) AS sxy,
               CAST(sum(x * x) AS DECIMAL(38,0)) AS sxx,
               CAST(sum(y * y) AS DECIMAL(38,0)) AS syy
        FROM xy GROUP BY grp
      )
      SELECT {group_col}, n,
             round(
               (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
               6) AS corr
      FROM s
    """


# ------------------------------------------------------- length Gini ----
def length_gini(
    df: DataFrame,
    group_col: str = "source",
    len_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group Gini coefficient of the length distribution — the
    concentration audit that says whether a source's token budget is a
    few giant documents or many small ones:
    G = (2·Σ rᵢxᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ), ranks ascending by
    (length, id).

    The scale trick: the classical formula needs a PER-GROUP rank, but a
    per-group window puts each group's whole corpus through one task
    (with ~20 sources that is corpus/20 per task — the skew mistake).
    Instead rank ONCE globally over (group, len, id) with the two-phase
    ``global_rank`` (range-partitioned, no single reducer), subtract the
    group's cumulative offset — the global order is group-major, so
    rank_in_group = global_rank − rows_before_group, with the offsets a
    #groups-row broadcast. Σrx and Σx are exact integer/decimal sums;
    one float division at the end (round-6).

    Returns (group, n, total_len, gini)."""
    from bistro_spark.operators.ranking import global_rank

    base = df.select(
        F.col(group_col),
        F.col(len_col).cast("long").alias("_x"),
        F.col(id_col).alias("_id"),
    )
    ranked = global_rank(base, [group_col, "_x", "_id"], rank_col="_gr")
    counts = (
        ranked.groupBy(group_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    # group-major global order ⇒ offset = Σ counts of lexically-smaller
    # groups: a #groups-row cumulative sum (tiny window over the dim)
    from pyspark.sql import Window as _W

    woff = _W.orderBy(group_col).rowsBetween(
        _W.unboundedPreceding, -1
    )
    offsets = counts.select(
        group_col,
        "n",
        F.coalesce(F.sum("n").over(woff), F.lit(0)).cast("long").alias("_off"),
    )
    rg = ranked.join(F.broadcast(offsets), group_col).select(
        group_col,
        "_x",
        (F.col("_gr") - F.col("_off")).alias("_r"),
        "n",
    )
    s = rg.groupBy(group_col).agg(
        F.max("n").alias("n"),
        F.sum("_x").cast("decimal(38,0)").alias("_sx"),
        F.sum(F.col("_r") * F.col("_x")).cast("decimal(38,0)").alias("_srx"),
    )
    return s.select(
        group_col,
        F.col("n").cast("long").alias("n"),
        F.col("_sx").cast("long").alias("total_len"),
        F.round(
            (
                2 * F.col("_srx").cast("double")
                - (F.col("n") + 1) * F.col("_sx").cast("double")
            )
            / (F.col("n") * F.col("_sx").cast("double")),
            6,
        ).alias("gini"),
    )


def length_gini_sql(
    table: str = "documents",
    group_col: str = "source",
    len_col: str = "n_chars",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin: plain per-group row_number (fine at oracle scale)."""
    return f"""
      WITH ranked AS (
        SELECT {group_col} AS grp,
               CAST({len_col} AS BIGINT) AS x,
               row_number() OVER (
                 PARTITION BY {group_col} ORDER BY {len_col}, {id_col}
               ) AS r
        FROM {table}
      ),
      s AS (
        SELECT grp AS {group_col},
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS DECIMAL(38,0)) AS sx,
               CAST(sum(r * x) AS DECIMAL(38,0)) AS srx
        FROM ranked GROUP BY grp
      )
      SELECT {group_col}, n,
             CAST(sx AS BIGINT) AS total_len,
             round((2 * CAST(srx AS DOUBLE) - (n + 1) * CAST(sx AS DOUBLE))
                   / (n * CAST(sx AS DOUBLE)), 6) AS gini
      FROM s
    """


# ---------------------------------------------------- KS length drift ----
def ks_drift(
    df: DataFrame,
    group_col: str = "source",
    len_col: str = "n_chars",
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between each
    group's length distribution and the REST of the corpus — the
    distribution-shift audit that flags a source whose documents stopped
    looking like everyone else's (complements the histogram-L1
    `length_drift`, which compares snapshots, not sources).

    The whole computation is INTEGER arithmetic until the final report
    division: at every distinct length L,
    ``|CDF_g(L) − CDF_rest(L)| = |cum_g·(N−n_g) − (cum_all−cum_g)·n_g|
    / (n_g·(N−n_g))`` — the numerator is an exact product of counts
    (decimal(38,0): at 10¹² rows the cross-product exceeds BIGINT), the
    denominator is constant per group, so the max and its argmax
    (smallest length on ties) are decided on exact integers. No float
    ever enters an aggregate or a comparison.

    Scale shape: one partial-aggregated groupBy reduces the corpus to
    the (group × length) grid; the length dim and the group dim are
    re-aggregations of that grid; the evaluation grid is their cross
    join — dimension-sized (|lengths|·|groups|), never corpus-sized. The
    per-group CDF window runs over |lengths| rows per partition.

    Returns (group, n, ks_len, ks_stat)."""
    per = df.groupBy(
        F.col(group_col), F.col(len_col).cast("long").alias("_len")
    ).agg(F.count(F.lit(1)).cast("long").alias("_c"))
    return ks_from_grid(per, group_col)


def ks_from_grid(per: DataFrame, group_col: str = "source") -> DataFrame:
    """The grid→report core of :func:`ks_drift`, shared with the
    streaming twin (whose state IS the additive (group, _len, _c) grid).
    Everything here is dimension-sized."""
    from pyspark.sql import Window as _W

    groups = per.groupBy(group_col).agg(
        F.sum("_c").cast("long").alias("_ng")
    )
    lens = per.groupBy("_len").agg(F.sum("_c").cast("long").alias("_call"))
    wall = _W.orderBy("_len").rowsBetween(_W.unboundedPreceding, 0)
    lens = lens.select(
        "_len", F.sum("_call").over(wall).cast("long").alias("_cumall")
    )
    ntot = F.max(F.col("_cumall")).over(_W.partitionBy())
    grid = (
        groups.crossJoin(lens)
        .join(per, [group_col, "_len"], "left")
        .select(
            group_col,
            "_len",
            "_ng",
            "_cumall",
            F.coalesce(F.col("_c"), F.lit(0)).alias("_c"),
        )
    )
    wg = (
        _W.partitionBy(group_col)
        .orderBy("_len")
        .rowsBetween(_W.unboundedPreceding, 0)
    )
    scored = grid.select(
        group_col,
        "_len",
        "_ng",
        ntot.alias("_n"),
        F.sum("_c").over(wg).cast("long").alias("_cumg"),
        "_cumall",
    ).select(
        group_col,
        "_len",
        "_ng",
        "_n",
        F.abs(
            F.col("_cumg").cast("decimal(38,0)")
            * (F.col("_n") - F.col("_ng")).cast("decimal(38,0)")
            - (F.col("_cumall") - F.col("_cumg")).cast("decimal(38,0)")
            * F.col("_ng").cast("decimal(38,0)")
        ).alias("_num"),
    )
    best = scored.groupBy(group_col).agg(
        F.max("_ng").alias("n"),
        F.max("_n").alias("_n"),
        # exact argmax, smallest length on ties: max over (num, -len)
        F.max(F.struct(F.col("_num"), (-F.col("_len")).alias("_nl"))).alias(
            "_b"
        ),
    )
    denom = (
        F.col("n").cast("double")
        * (F.col("_n") - F.col("n")).cast("double")
    )
    return best.select(
        group_col,
        F.col("n").cast("long").alias("n"),
        (-F.col("_b._nl")).cast("long").alias("ks_len"),
        F.round(
            F.when(denom > 0, F.col("_b._num").cast("double") / denom), 6
        ).alias("ks_stat"),
    )


def ks_drift_sql(
    table: str = "documents",
    group_col: str = "source",
    len_col: str = "n_chars",
) -> str:
    """DuckDB twin of :func:`ks_drift` (same exact-integer max/argmax)."""
    return f"""
      WITH per AS (
        SELECT {group_col} AS grp, CAST({len_col} AS BIGINT) AS len,
               CAST(count(*) AS BIGINT) AS c
        FROM {table} GROUP BY 1, 2
      ),
      groups AS (
        SELECT grp, CAST(sum(c) AS BIGINT) AS ng FROM per GROUP BY grp
      ),
      lens AS (
        SELECT len,
               CAST(sum(sum(c)) OVER (
                 ORDER BY len ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumall
        FROM per GROUP BY len
      ),
      tot AS (SELECT max(cumall) AS n FROM lens),
      grid AS (
        SELECT g.grp, l.len, g.ng, l.cumall, t.n,
               COALESCE(p.c, 0) AS c
        FROM groups g CROSS JOIN lens l CROSS JOIN tot t
        LEFT JOIN per p ON p.grp = g.grp AND p.len = l.len
      ),
      scored AS (
        SELECT grp, len, ng, n,
               abs(CAST(sum(c) OVER (PARTITION BY grp ORDER BY len
                                     ROWS UNBOUNDED PRECEDING)
                        AS DECIMAL(38,0)) * (n - ng)
                   - (cumall - CAST(sum(c) OVER (PARTITION BY grp
                        ORDER BY len ROWS UNBOUNDED PRECEDING)
                        AS DECIMAL(38,0))) * ng) AS num
        FROM grid
      ),
      best AS (
        SELECT grp AS {group_col}, max(ng) AS n, max(n) AS ntot,
               max(struct_pack(num := num, nl := -len)) AS b
        FROM scored GROUP BY grp
      )
      SELECT {group_col}, CAST(n AS BIGINT) AS n,
             CAST(-(b.nl) AS BIGINT) AS ks_len,
             round(CASE WHEN CAST(n AS DOUBLE) * (ntot - n) > 0 THEN
               CAST(b.num AS DOUBLE) / (CAST(n AS DOUBLE) * (ntot - n))
             END, 6) AS ks_stat
      FROM best
    """


# ------------------------------------------------ per-source KL drift ----
def source_kl(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group KL divergence KL(P_g ‖ Q) of the group's word-unigram
    distribution from the whole-corpus distribution — the
    mixture-quality number that says HOW differently a source writes,
    where `token_entropy` only says how diversely. No smoothing is
    needed: every group term is by construction in the corpus, so Q > 0
    wherever P > 0.

    Float discipline (`token_entropy`'s): per (group, term) cell the
    contribution c·ln(c·N / (n_g·C_t)) is one double expression over
    exact counts (multiplied in double — the integer cross-product c·N
    would overflow BIGINT at 10¹² tokens), rounded to 9 digits, summed
    as decimal; KL = Σ/n_g is the one final round-6 division.

    Scale shape: corpus → (group, term) grid in one partial-aggregated
    explode-groupBy; term totals and group totals are re-aggregations of
    the grid; the grid↔term-totals join shuffles vocabulary-sized data
    only; group totals ride a broadcast. Returns (group, n_tokens, kl)."""
    counts = (
        df.select(
            F.col(group_col),
            F.explode(F.split(F.col(text_col), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy(group_col, "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tt = counts.groupBy("term").agg(F.sum("c").cast("long").alias("ct"))
    gt = counts.groupBy(group_col).agg(
        F.sum("c").cast("long").alias("ng")
    )
    ntot = gt.agg(F.sum("ng").cast("long").alias("nn"))
    cells = (
        counts.join(tt, "term")
        .join(F.broadcast(gt), group_col)
        .crossJoin(F.broadcast(ntot))
    )
    contrib = F.round(
        F.col("c")
        * F.log(
            (F.col("c").cast("double") * F.col("nn").cast("double"))
            / (F.col("ng").cast("double") * F.col("ct").cast("double"))
        ),
        9,
    ).cast("decimal(38,9)")
    s = cells.groupBy(group_col).agg(
        F.max("ng").alias("n_tokens"),
        F.sum(contrib).alias("_s"),
    )
    return s.select(
        group_col,
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(
            F.col("_s").cast("double") / F.col("n_tokens").cast("double"), 6
        ).alias("kl"),
    )


def source_kl_sql(
    table: str = "documents",
    group_col: str = "source",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`source_kl` (same round-9 decimal sum)."""
    return f"""
      WITH terms AS (
        SELECT {group_col} AS grp,
               unnest(string_split({text_col}, ' ')) AS term
        FROM {table}
      ),
      counts AS (
        SELECT grp, term, CAST(count(*) AS BIGINT) AS c
        FROM terms WHERE term <> '' GROUP BY grp, term
      ),
      tt AS (SELECT term, CAST(sum(c) AS BIGINT) AS ct
             FROM counts GROUP BY term),
      gt AS (SELECT grp, CAST(sum(c) AS BIGINT) AS ng
             FROM counts GROUP BY grp),
      tot AS (SELECT CAST(sum(ng) AS BIGINT) AS nn FROM gt),
      s AS (
        SELECT counts.grp AS {group_col},
               max(ng) AS n_tokens,
               sum(CAST(round(c * ln((CAST(c AS DOUBLE) * nn)
                                     / (CAST(ng AS DOUBLE) * ct)), 9)
                        AS DECIMAL(38,9))) AS _s
        FROM counts
        JOIN tt USING (term) JOIN gt USING (grp) CROSS JOIN tot
        GROUP BY 1
      )
      SELECT {group_col}, CAST(n_tokens AS BIGINT) AS n_tokens,
             round(CAST(_s AS DOUBLE) / n_tokens, 6) AS kl
      FROM s
    """


# ------------------------------------------- χ² contingency report ----
def contingency_report(
    df: DataFrame,
    dim1_col: str = "lang",
    len_col: str = "n_chars",
) -> DataFrame:
    """Independence audit of a categorical dimension against
    log₂-bucketed document length: the per-cell χ² contingency table
    (observed, margins, expected, contribution) that tells a curation
    pipeline whether e.g. language and length are entangled before it
    samples on either.

    Buckets are EXACT integer bit-lengths (``length(bin(len))`` =
    ⌊log₂ len⌋+1) — no float log at a bucket boundary, both engines
    bucket identically by construction. Margins are window sums over the
    ≤|dim|×|buckets| cell grid (grid-sized, one task is fine at any
    corpus size — the corpus itself was reduced by ONE partial-agg
    groupBy). `expected` and `contrib` are single double expressions
    over exact integers, round-6, emitted per cell: no float aggregation
    anywhere, the scalar χ² is the (exact-ratio) sum of a 25-row report
    column downstream dashboards take.

    Returns (len_bucket, dim, observed, row_total, col_total,
    grand_total, expected, contrib)."""
    from pyspark.sql import Window as _W

    bucket = F.when(
        F.col(len_col) > 0, F.length(F.bin(F.col(len_col).cast("long")))
    ).otherwise(F.lit(0)).cast("long")
    cells = df.groupBy(
        bucket.alias("len_bucket"), F.col(dim1_col).alias("dim")
    ).agg(F.count(F.lit(1)).cast("long").alias("observed"))
    wr = _W.partitionBy("len_bucket")
    wc = _W.partitionBy("dim")
    wg = _W.partitionBy()
    m = cells.select(
        "len_bucket",
        "dim",
        "observed",
        F.sum("observed").over(wr).cast("long").alias("row_total"),
        F.sum("observed").over(wc).cast("long").alias("col_total"),
        F.sum("observed").over(wg).cast("long").alias("grand_total"),
    )
    e = (
        F.col("row_total").cast("double")
        * F.col("col_total").cast("double")
        / F.col("grand_total").cast("double")
    )
    return m.select(
        "len_bucket",
        "dim",
        "observed",
        "row_total",
        "col_total",
        "grand_total",
        F.round(e, 6).alias("expected"),
        F.round(
            (F.col("observed").cast("double") - e)
            * (F.col("observed").cast("double") - e)
            / e,
            6,
        ).alias("contrib"),
    )


def contingency_report_sql(
    table: str = "documents",
    dim1_col: str = "lang",
    len_col: str = "n_chars",
) -> str:
    """DuckDB twin of :func:`contingency_report` (same bit-length
    buckets, same single-expression expected/contrib)."""
    return f"""
      WITH cells AS (
        SELECT CASE WHEN {len_col} > 0
                    THEN CAST(length(bin({len_col})) AS BIGINT)
                    ELSE 0 END AS len_bucket,
               {dim1_col} AS dim,
               CAST(count(*) AS BIGINT) AS observed
        FROM {table} GROUP BY 1, 2
      ),
      m AS (
        SELECT len_bucket, dim, observed,
               CAST(sum(observed) OVER (PARTITION BY len_bucket)
                    AS BIGINT) AS row_total,
               CAST(sum(observed) OVER (PARTITION BY dim)
                    AS BIGINT) AS col_total,
               CAST(sum(observed) OVER () AS BIGINT) AS grand_total
        FROM cells
      ),
      e AS (
        SELECT *, CAST(row_total AS DOUBLE) * col_total / grand_total AS ex
        FROM m
      )
      SELECT len_bucket, dim, observed, row_total, col_total, grand_total,
             round(ex, 6) AS expected,
             round((CAST(observed AS DOUBLE) - ex)
                   * (CAST(observed AS DOUBLE) - ex) / ex, 6) AS contrib
      FROM e
    """


# ------------------------------------------------- cardinality report ----
def cardinality_report(
    df: DataFrame,
    group_col: str = "source",
    distinct_cols: tuple[str, ...] = ("text", "lang"),
    approx: bool = False,
    rsd: float = 0.05,
) -> DataFrame:
    """Per-slice cardinality profile: row count, distinct count per
    tracked column, and the duplicate ratio of the first tracked column
    — the first look at a new corpus drop ("how much of source X is
    copies?").

    Two execution paths, one schema:

    - ``approx=False`` (the oracle-checked contract path): exact
      distincts. Spark plans ``count(DISTINCT ...)`` via EXPAND +
      two-level partial aggregation — each (group, value) pair
      deduplicates map-side before the shuffle, so the wire carries the
      level set, never the corpus.
    - ``approx=True`` (the 100 TB path): ``approx_count_distinct``
      (HyperLogLog++, relative error ``rsd``). State per group is a
      fixed-size sketch — mergeable, partial-aggregated, ONE narrow
      shuffle regardless of value cardinality. Same plan shape a
      streaming twin's additive state wants; pytest bounds the sketch
      error against the exact path.

    Returns (group, n_rows, n_<col>..., dup_ratio)."""
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in distinct_cols:
        d = (
            F.approx_count_distinct(c, rsd)
            if approx
            else F.countDistinct(c)
        )
        aggs.append(d.cast("long").alias(f"n_{c}"))
    first = distinct_cols[0]
    return (
        df.groupBy(group_col)
        .agg(*aggs)
        .withColumn(
            "dup_ratio",
            F.round(
                F.lit(1.0) - F.col(f"n_{first}") / F.col("n_rows"), 6
            ),
        )
    )


def cardinality_report_sql(
    table: str = "documents",
    group_col: str = "source",
    distinct_cols: tuple[str, ...] = ("text", "lang"),
) -> str:
    """DuckDB twin of the exact path of :func:`cardinality_report`."""
    cols = ",\n             ".join(
        f"CAST(count(DISTINCT {c}) AS BIGINT) AS n_{c}"
        for c in distinct_cols
    )
    first = distinct_cols[0]
    return f"""
      SELECT {group_col},
             CAST(count(*) AS BIGINT) AS n_rows,
             {cols},
             round(1.0 - CAST(count(DISTINCT {first}) AS DOUBLE)
                   / count(*), 6) AS dup_ratio
      FROM {table}
      GROUP BY {group_col}
    """


# ------------------------------------------------- Zipf exponent (MLE) ----
def zipf_alpha(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group power-law (Zipf) exponent of the term-frequency
    distribution by the discrete MLE of Clauset, Shalizi & Newman 2009:
    ``alpha = 1 + n / Σ ln(c_i / (x_min − 1/2))`` with x_min = 1 — the
    single number that says how head-heavy a slice's vocabulary is
    (template spam ≈ steep alpha, varied prose ≈ shallow) and predicts
    how vocabulary size scales with more data from that slice.

    Same shuffle shape as :func:`token_entropy` (one explode + two
    partial-aggregated groupBys); each ln term is rounded to 9 digits
    and summed as decimal — order-independent, bit-equal across engines
    and cluster shapes.

    Returns (group, n_terms, n_tokens, alpha)."""
    counts = (
        df.select(
            F.col(group_col),
            F.explode(F.split(F.col(text_col), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy(group_col, "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    per_group = counts.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(
            F.round(F.log(F.col("c") * 2.0), 9).cast("decimal(38,9)")
        ).alias("_slnx"),
    )
    return per_group.select(
        group_col,
        "n_terms",
        "n_tokens",
        F.round(
            F.lit(1.0)
            + F.col("n_terms") / F.col("_slnx").cast("double"),
            6,
        ).alias("alpha"),
    )


def zipf_alpha_sql(
    table: str = "documents",
    group_col: str = "source",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`zipf_alpha` (same round-9 decimal sum;
    ln(c / (1 − 1/2)) = ln(2c))."""
    return f"""
      WITH terms AS (
        SELECT {group_col} AS grp, unnest(string_split({text_col}, ' ')) AS term
        FROM {table}
      ),
      counts AS (
        SELECT grp, term, CAST(count(*) AS BIGINT) AS c
        FROM terms WHERE term <> '' GROUP BY grp, term
      ),
      agg AS (
        SELECT grp AS {group_col},
               CAST(count(*) AS BIGINT) AS n_terms,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               sum(CAST(round(ln(c * 2.0), 9) AS DECIMAL(38,9))) AS _slnx
        FROM counts GROUP BY grp
      )
      SELECT {group_col}, n_terms, n_tokens,
             round(1.0 + n_terms / CAST(_slnx AS DOUBLE), 6) AS alpha
      FROM agg
    """


# ---------------------------------------------- corpus health report ----
def corpus_health(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """The one-stop per-slice corpus health table a data operator pins
    to a dashboard: volume + duplication (cardinality_report), lexical
    diversity (token_entropy), head-heaviness (zipf_alpha) and mean
    heuristic quality — one wide row per slice, joined from the
    engine's own report operators (report-sized joins, broadcast by
    construction; the corpus is scanned once per constituent aggregate,
    each partial-aggregated).

    Mean quality uses the round-9 decimal-sum discipline (each doc's
    double score rounded once, summed as decimal, one final division)
    so the report is bit-identical on any partitioning or engine.

    Returns (group, n_rows, n_distinct, dup_ratio, n_terms, n_tokens,
    entropy, alpha, mean_quality)."""
    from bistro_spark.operators.text import quality_score

    card = cardinality_report(
        df, group_col=group_col, distinct_cols=(text_col,)
    ).select(
        group_col,
        "n_rows",
        F.col(f"n_{text_col}").alias("n_distinct"),
        "dup_ratio",
    )
    ent = token_entropy(df, group_col, text_col).select(
        group_col, "n_terms", "n_tokens", "entropy"
    )
    alp = zipf_alpha(df, group_col, text_col).select(group_col, "alpha")
    qual = (
        df.select(
            F.col(group_col),
            F.round(quality_score(F.col(text_col)), 9)
            .cast("decimal(38,9)")
            .alias("_q"),
        )
        .groupBy(group_col)
        .agg(
            F.round(
                F.sum("_q").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_quality")
        )
    )
    return (
        card.join(ent, group_col)
        .join(alp, group_col)
        .join(qual, group_col)
    )


def corpus_health_sql(
    table: str = "documents",
    group_col: str = "source",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`corpus_health` — composed from the
    constituent twins as CTEs."""
    from bistro_spark.operators.olap import (
        token_entropy_sql,
        zipf_alpha_sql,
    )
    from bistro_spark.operators.text import quality_score_sql

    return f"""
      WITH card AS (
        SELECT {group_col},
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT {text_col}) AS BIGINT) AS n_distinct,
               round(1.0 - CAST(count(DISTINCT {text_col}) AS DOUBLE)
                     / count(*), 6) AS dup_ratio
        FROM {table} GROUP BY {group_col}
      ),
      ent AS (SELECT * FROM ({token_entropy_sql(table, group_col, text_col)}) t),
      alp AS (SELECT {group_col}, alpha
              FROM ({zipf_alpha_sql(table, group_col, text_col)}) t),
      qual AS (
        SELECT {group_col},
               round(CAST(sum(CAST(round(
                 {quality_score_sql(text_col)}, 9) AS DECIMAL(38,9)))
                 AS DOUBLE) / count(*), 6) AS mean_quality
        FROM {table} GROUP BY {group_col}
      )
      SELECT card.{group_col}, card.n_rows, card.n_distinct,
             card.dup_ratio, ent.n_terms, ent.n_tokens, ent.entropy,
             alp.alpha, qual.mean_quality
      FROM card
      JOIN ent USING ({group_col})
      JOIN alp USING ({group_col})
      JOIN qual USING ({group_col})
    """


# ------------------------------------------------ Heaps-law vocab growth ----


def vocab_growth(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_checkpoints: int = 10,
) -> DataFrame:
    """Heaps-law vocabulary-growth curve: cumulative distinct terms vs
    cumulative tokens at ``n_checkpoints`` deterministic corpus
    checkpoints, plus the fitted Heaps exponent (V = K·N^β via least
    squares on the log-log points). The capacity-planning artifact for
    tokenizer vocab sizing and term-store state bounds: β ≈ 0.5 means a
    10^12-token corpus still grows vocabulary at ~10^6 scale.

    The checkpoint order is an md5 shuffle of doc ids (cluster-shape and
    snapshot stable), so "first k/n of the corpus" is the SAME document
    set everywhere. The curve needs no per-prefix rescans: a term's
    FIRST-APPEARANCE checkpoint is one min-aggregate over the exploded
    terms, cumulative vocabulary is a running sum of first-appearance
    counts over the checkpoint GRID, and the regression runs on the grid
    with 9-digit-rounded logs summed as decimals — order-free, so the
    fit is bit-identical cross-engine. One corpus pass + grid windows;
    output is n_checkpoints rows.
    """
    # every non-empty token tagged with its document's md5 checkpoint
    bucket = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("bigint")
        % int(n_checkpoints)
    )
    terms = df.select(
        bucket.alias("b"), F.explode(F.split(F.col(text_col), " ")).alias("term")
    ).filter(F.col("term") != "")
    # the (b, n_tokens, new_terms) checkpoint grid: tokens per checkpoint
    # and terms whose first appearance falls in it
    tok = terms.groupBy("b").agg(F.count("*").cast("long").alias("n_tokens"))
    first = (
        terms.groupBy("term")
        .agg(F.min("b").alias("fb"))
        .groupBy("fb")
        .agg(F.count("*").cast("long").alias("new_terms"))
    )
    # first ⊆ tok by construction: a term's first-appearance checkpoint
    # contains at least one occurrence of it, so that bucket has tokens —
    # a broadcast LEFT join (grid-sized build side) replaces the
    # full-outer the first draft used (full-outer cannot broadcast and
    # planned two SortMergeJoins over 10-row inputs)
    grid = tok.join(
        F.broadcast(first.withColumnRenamed("fb", "b")), "b", "left"
    ).select(
        "b",
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("new_terms", F.lit(0)).alias("new_terms"),
    )
    # running sums over the grid and the log-log fit
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    curve = grid.select(
        F.col("b").cast("long").alias("checkpoint"),
        "n_tokens",
        "new_terms",
        F.sum("n_tokens").over(w).cast("long").alias("cum_tokens"),
        F.sum("new_terms").over(w).cast("long").alias("cum_vocab"),
    )
    pts = curve.select(
        "checkpoint",
        "n_tokens",
        "new_terms",
        "cum_tokens",
        "cum_vocab",
        F.round(F.log("cum_tokens"), 9).alias("x"),
        F.round(F.log("cum_vocab"), 9).alias("y"),
    )
    dec = lambda c: F.sum(F.col(c).cast("decimal(30,15)")).cast("double")  # noqa: E731
    fit = pts.select(
        "x",
        "y",
        F.round(F.col("x") * F.col("y"), 9).alias("xy"),
        F.round(F.col("x") * F.col("x"), 9).alias("xx"),
    ).agg(
        F.count("*").cast("double").alias("n"),
        dec("x").alias("sx"),
        dec("y").alias("sy"),
        dec("xy").alias("sxy"),
        dec("xx").alias("sxx"),
    )
    # textually parallel in the SQL twin
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fit1 = fit.select(
        # + 0.0 normalizes IEEE negative zero (a saturated-vocab corpus
        # fits beta == -0.0 on one engine and 0.0 on the other)
        (F.round(beta, 6) + F.lit(0.0)).alias("heaps_beta"),
        F.round(
            F.exp(
                (F.col("sy") - beta * F.col("sx")) / F.col("n")
            ),
            6,
        ).alias("heaps_k"),
    )
    return pts.crossJoin(F.broadcast(fit1)).select(
        "checkpoint",
        "n_tokens",
        "new_terms",
        "cum_tokens",
        "cum_vocab",
        "heaps_beta",
        "heaps_k",
    )


def vocab_growth_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_checkpoints: int = 10,
) -> str:
    """DuckDB twin of :func:`vocab_growth` — the regression expressions
    are textually parallel to the Spark side."""
    nb = int(n_checkpoints)
    return f"""
      WITH terms AS (
        SELECT CAST(concat('0x',
                 substr(md5(CAST({id_col} AS VARCHAR)), 1, 8))
               AS BIGINT) % {nb} AS b,
               unnest(string_split({text_col}, ' ')) AS term
        FROM {table}
      ),
      t AS (SELECT * FROM terms WHERE term <> ''),
      tok AS (
        SELECT b, CAST(count(*) AS BIGINT) AS n_tokens FROM t GROUP BY b
      ),
      first AS (
        SELECT fb AS b, CAST(count(*) AS BIGINT) AS new_terms
        FROM (SELECT term, min(b) AS fb FROM t GROUP BY term)
        GROUP BY fb
      ),
      grid AS (
        SELECT tok.b AS b,
               coalesce(n_tokens, 0) AS n_tokens,
               coalesce(new_terms, 0) AS new_terms
        FROM tok LEFT JOIN first ON tok.b = first.b
      ),
      curve AS (
        SELECT CAST(b AS BIGINT) AS checkpoint, n_tokens, new_terms,
               CAST(sum(n_tokens) OVER w AS BIGINT) AS cum_tokens,
               CAST(sum(new_terms) OVER w AS BIGINT) AS cum_vocab
        FROM grid
        WINDOW w AS (ORDER BY b
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ),
      pts AS (
        SELECT *, round(ln(cum_tokens), 9) AS x, round(ln(cum_vocab), 9) AS y
        FROM curve
      ),
      fit AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(x AS DECIMAL(30,15))) AS DOUBLE) AS sx,
               CAST(sum(CAST(y AS DECIMAL(30,15))) AS DOUBLE) AS sy,
               CAST(sum(CAST(round(x * y, 9) AS DECIMAL(30,15)))
                    AS DOUBLE) AS sxy,
               CAST(sum(CAST(round(x * x, 9) AS DECIMAL(30,15)))
                    AS DOUBLE) AS sxx
        FROM pts
      ),
      fit1 AS (
        SELECT round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0
                 AS heaps_beta,
               round(exp((sy - ((n * sxy - sx * sy)
                                / (n * sxx - sx * sx)) * sx) / n), 6)
                 AS heaps_k
        FROM fit
      )
      SELECT checkpoint, n_tokens, new_terms, cum_tokens, cum_vocab,
             heaps_beta, heaps_k
      FROM pts CROSS JOIN fit1
    """


# ---------------------------------------------- histogram exact quantiles ----


def histogram_quantiles(
    df: DataFrame,
    value_col: str = "n_chars",
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.9, 0.99),
) -> DataFrame:
    """EXACT quantiles of a bounded-domain integer metric (lengths,
    quantized scores) without ranking the corpus: one partial-agg
    shuffle to the VALUE DOMAIN (distinct values, not rows), a
    domain-sized cumulative window, then every requested quantile as a
    conditional min over the domain grid — the scale path
    ``decile_report``'s rank machinery doesn't need when the domain is
    small. Lower-quantile definition, integer-exact: the reported value
    is the smallest v whose cumulative count reaches ceil(q·N); n_le is
    that cumulative count (ties included).
    """
    return histogram_quantiles_from_counts(
        histogram_counts(df, value_col), quantiles
    )


def histogram_counts(df: DataFrame, value_col: str = "n_chars") -> DataFrame:
    """The partials of :func:`histogram_quantiles`: the (v, c) value-domain
    histogram, additive across batches."""
    return (
        df.select(F.col(value_col).cast("long").alias("v"))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("c"))
    )


def histogram_quantiles_from_counts(
    vc: DataFrame, quantiles: tuple[float, ...] = (0.25, 0.5, 0.9, 0.99)
) -> DataFrame:
    """The finalizer of :func:`histogram_quantiles` over a
    :func:`histogram_counts` grid."""
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    grid = vc.select(
        "v", "c", F.sum("c").over(w).cast("long").alias("cum")
    ).crossJoin(
        F.broadcast(vc.agg(F.sum("c").cast("long").alias("n_total")))
    )
    aggs = [F.max("n_total").alias("n_total")]
    for q in quantiles:
        tag = str(q).replace(".", "_")
        thr = F.ceil(F.lit(float(q)) * F.col("n_total")).cast("long")
        aggs.append(
            F.min(F.when(F.col("cum") >= thr, F.col("v"))).alias(f"v_{tag}")
        )
        aggs.append(
            F.min(F.when(F.col("cum") >= thr, F.col("cum"))).alias(
                f"c_{tag}"
            )
        )
    row = grid.agg(*aggs)
    stack = ", ".join(
        f"CAST({repr(float(q))} AS DOUBLE), v_{str(q).replace('.', '_')}, "
        f"c_{str(q).replace('.', '_')}"
        for q in quantiles
    )
    return row.select(
        F.expr(
            f"stack({len(quantiles)}, {stack}) AS (quantile, value, n_le)"
        ),
        "n_total",
    ).select("quantile", "value", "n_le", "n_total")


def histogram_quantiles_sql(
    table: str = "documents",
    value_col: str = "n_chars",
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.9, 0.99),
) -> str:
    """DuckDB twin of :func:`histogram_quantiles` — the same cumulative
    definition over the value domain, grid cross join definitional."""
    grid = ", ".join(repr(float(q)) for q in quantiles)
    return f"""
      WITH vc AS (
        SELECT CAST({value_col} AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS c
        FROM {table} GROUP BY 1
      ),
      g AS (
        SELECT v, c,
               CAST(sum(c) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
        FROM vc
      ),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM vc),
      d AS (SELECT CAST(unnest([{grid}]) AS DOUBLE) AS quantile)
      SELECT d.quantile,
             min(CASE WHEN g.cum >= CAST(ceil(d.quantile * tot.n_total)
                                         AS BIGINT)
                      THEN g.v END) AS value,
             CAST(min(CASE WHEN g.cum >= CAST(ceil(d.quantile * tot.n_total)
                                              AS BIGINT)
                           THEN g.cum END) AS BIGINT) AS n_le,
             max(tot.n_total) AS n_total
      FROM g CROSS JOIN tot CROSS JOIN d
      GROUP BY d.quantile
    """
