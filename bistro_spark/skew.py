"""Explicit skew handling: salted two-phase aggregation.

The north rule calls out the zipf-skewed ``source`` key (weights 8:4:2:1 →
the 'web' partition carries >50% of all rows). Spark's map-side partial
aggregation already absorbs most of it for algebraic aggregates, and AQE
splits skewed JOIN partitions — but two cases still need explicit salt:

1. high-cardinality state per hot key (e.g. collect_set / exact distinct),
   where partial aggregation doesn't shrink the hot partition,
2. stateful streaming aggregation, where the state-store partition for the
   hot key becomes the straggler every micro-batch.

Pattern: pre-aggregate on (key, salt) with salt = crc32(row-unique) % S —
S-way fan-out of the hot key — then final-merge on key. Requires the
aggregate be decomposable (partial_expr feeding merge_expr over partials).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int, unique_col: str | Column) -> DataFrame:
    """Append a deterministic salt in [0, n_salts) derived from a
    row-unique column (NOT rand(): replays must salt identically for
    exactly-once parity)."""
    c = F.col(unique_col) if isinstance(unique_col, str) else unique_col
    return df.withColumn("_salt", F.crc32(c.cast("string")) % n_salts)


def salted_agg(
    df: DataFrame,
    keys: list[str],
    partial_exprs: dict[str, str],
    merge_exprs: dict[str, str],
    n_salts: int = 16,
    unique_col: str = "doc_id",
) -> DataFrame:
    """Two-phase skew-proof aggregation.

    partial_exprs: name -> aggregate over raw rows  (e.g. 'count(*)')
    merge_exprs:   name -> aggregate over partials  (e.g. 'sum(n)')
    The first shuffle is keyed (keys..., _salt) → ≤ n_salts× the key
    cardinality, uniformly spread; the second shuffles only
    |keys|×n_salts pre-reduced rows.
    """
    salted = with_salt(df, n_salts, unique_col)
    partial = salted.groupBy(*keys, "_salt").agg(
        *[F.expr(e).alias(n) for n, e in partial_exprs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[F.expr(e).alias(n) for n, e in merge_exprs.items()]
    )


def skew_report(
    df: DataFrame,
    key_col: str,
    weight_col: str | None = None,
    hot_multiple: float = 2.0,
) -> DataFrame:
    """The measurement that precedes :func:`salted_agg`: per key, its
    share of the load (row count, or ``weight_col`` mass) against the
    uniform share, the integer salt fan-out that would level it, and a
    hot flag at ``hot_multiple``× uniform. Reading this before a keyed
    join/agg is how the salting decision is made instead of guessed —
    the north rule's zipf source key shows up here as multiples ~2.1 /
    1.1 / 0.5 / 0.3 on the 8:4:2:1 mix.

    One partial-agg shuffle to the key grid plus a 1-row scalar
    broadcast (sanctioned); output is key-bounded. ``salt_factor`` is
    exact integer math: ceil(n·K/N) = (n·K + N − 1) DIV N, with the
    uniform multiple also reported as a rounded double for humans.
    """
    return skew_report_from_counts(
        skew_counts(df, key_col, weight_col), key_col, hot_multiple
    )


def skew_counts(
    df: DataFrame, key_col: str, weight_col: str | None = None
) -> DataFrame:
    """The partials of :func:`skew_report`: (key, n) load per key, additive
    across batches."""
    w = F.count("*") if weight_col is None else F.sum(weight_col)
    return df.groupBy(key_col).agg(w.cast("long").alias("n"))


def skew_report_from_counts(
    per_key: DataFrame, key_col: str, hot_multiple: float = 2.0
) -> DataFrame:
    """The finalizer of :func:`skew_report` over a :func:`skew_counts`
    grid."""
    tot = per_key.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("n_keys"),
    )
    return (
        per_key.crossJoin(F.broadcast(tot))
        .select(
            key_col,
            F.col("n").alias("n_rows"),
            F.round(F.col("n") / F.col("n_total"), 9).alias("share"),
            F.round(
                F.col("n") * F.col("n_keys") / F.col("n_total"), 9
            ).alias("uniform_multiple"),
            F.expr("(n * n_keys + n_total - 1) DIV n_total")
            .cast("long")
            .alias("salt_factor"),
            (
                F.col("n") * F.col("n_keys")
                > F.lit(float(hot_multiple)) * F.col("n_total")
            ).alias("is_hot"),
        )
    )


def skew_report_sql(
    table: str,
    key_col: str,
    weight_expr: str = "1",
    hot_multiple: float = 2.0,
) -> str:
    """DuckDB twin of :func:`skew_report`."""
    hm = repr(float(hot_multiple))
    return f"""
      WITH per_key AS (
        SELECT {key_col}, CAST(sum({weight_expr}) AS BIGINT) AS n
        FROM {table} GROUP BY {key_col}
      ),
      tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS n_total,
               CAST(count(*) AS BIGINT) AS n_keys
        FROM per_key
      )
      SELECT {key_col}, n AS n_rows,
             round(CAST(n AS DOUBLE) / n_total, 9) AS share,
             round(CAST(n * n_keys AS DOUBLE) / n_total, 9)
               AS uniform_multiple,
             (n * n_keys + n_total - 1) // n_total AS salt_factor,
             CAST(n * n_keys AS DOUBLE) > {hm} * n_total AS is_hot
      FROM per_key, tot
    """
