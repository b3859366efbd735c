"""Snapshot drift detection: distribution shift between corpus versions.

Pipeline-health op for incremental ingestion (the same cross-snapshot
framing as ``dedup.incremental_span_dedup``): given OLD and NEW corpus
snapshots, quantify per-group (source/lang) distribution change so a
crawler regression or upstream format break is caught before it poisons
a training mix. Two complementary signals:

- **Length drift** (:func:`length_drift`): per group, histogram documents
  into fixed log2 length buckets and report the L1 (total-variation x2)
  distance between the old and new bucket SHARES. Fixed closed-form
  buckets (no data-dependent quantiles) keep the comparison stable
  across snapshots and engines; shares are exact integer-count ratios.

- **Token-novelty drift** (:func:`token_novelty`): per group, the share
  of the new snapshot's token OCCURRENCES whose term never appears in
  the old snapshot's group vocabulary. High novelty = topic/format
  shift (or an encoding bug flooding fresh "terms").

Both are one partial-aggregatable groupBy per snapshot plus a small
group-level join — no windows, no per-doc joins; at 100 TB the heavy
side is the two corpus scans, everything after is group-cardinality-
sized. All report floats are rounded decimals over exact integer sums —
DuckDB twins hash-match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bistro_spark.operators.subword import split_sql, word_array

_N_BUCKETS = 16  # log2 buckets: [2^k, 2^(k+1)) chars, k clamped to 0..15


def _bucket(col):
    # floor(log2(n)) computed EXACTLY as binary-string length - 1: float
    # log2 can straddle bucket edges differently across engines on exact
    # powers of two; bin() is integer-exact on both Spark and DuckDB
    return F.least(
        F.length(F.bin(F.greatest(col.cast("long"), F.lit(1)))) - F.lit(1),
        F.lit(_N_BUCKETS - 1),
    ).cast("int")


def length_counts(df: DataFrame, group_col: str, len_col: str) -> DataFrame:
    """The additive sufficient statistic behind length drift: exact
    (group, bucket, count) rows — at most groups x 16 of them regardless
    of input size, and mergeable by summation (what the streaming twin
    accumulates as its constant-size state)."""
    return df.groupBy(
        F.col(group_col), _bucket(F.col(len_col)).alias("_bk")
    ).agg(F.count(F.lit(1)).alias("_n"))


def _with_tot(counts: DataFrame, group_col: str, n_alias: str, t_alias: str):
    totals = counts.groupBy(group_col).agg(F.sum("_n").alias(t_alias))
    return counts.join(totals, group_col).select(
        group_col, "_bk", F.col("_n").alias(n_alias), t_alias
    )


def length_drift(
    old_df: DataFrame,
    new_df: DataFrame,
    group_col: str = "source",
    len_col: str = "n_chars",
) -> DataFrame:
    """Per-group L1 distance between old/new log2-length-bucket shares:
    (group, n_old, n_new, l1_drift) with l1 in [0, 2] (0 = identical
    shape, 2 = disjoint). Groups present in only one snapshot score 2.

    The share subtraction runs on exact fractions (integer count *
    opposite total) and divides once at the end — no float accumulation,
    engine-portable."""
    return length_drift_from_counts(
        length_counts(old_df, group_col, len_col),
        length_counts(new_df, group_col, len_col),
        group_col,
    )


def length_drift_from_counts(
    o_counts: DataFrame,
    n_counts: DataFrame,
    group_col: str = "source",
) -> DataFrame:
    """:func:`length_drift` from precomputed :func:`length_counts` grids —
    the shared core for the batch op (counts straight off each snapshot)
    and the streaming monitor (reference grid vs the accumulated stream
    grid). Inputs are group-cardinality-sized, so every join here is
    tiny at any corpus scale."""
    o = _with_tot(o_counts, group_col, "_no", "_to")
    n = _with_tot(n_counts, group_col, "_nn", "_tn")
    j = o.join(n, [group_col, "_bk"], "full_outer")
    # totals survive the outer join only on their own side's rows; the
    # per-group max recovers them (they are constant within a group+side)
    tot = j.groupBy(group_col).agg(
        F.max("_to").alias("to"), F.max("_tn").alias("tn")
    )
    num = (
        j.join(tot, group_col)
        .select(
            F.col(group_col),
            F.abs(
                F.coalesce(F.col("_no"), F.lit(0)).cast("decimal(38,0)")
                * F.coalesce(F.col("tn"), F.lit(0)).cast("decimal(38,0)")
                - F.coalesce(F.col("_nn"), F.lit(0)).cast("decimal(38,0)")
                * F.coalesce(F.col("to"), F.lit(0)).cast("decimal(38,0)")
            ).alias("_num"),
        )
        .groupBy(group_col)
        .agg(F.sum("_num").alias("_nsum"))
    )
    return (
        tot.join(num, group_col)
        .select(
            F.col(group_col),
            F.coalesce(F.col("to"), F.lit(0)).cast("long").alias("n_old"),
            F.coalesce(F.col("tn"), F.lit(0)).cast("long").alias("n_new"),
            F.round(
                F.when(
                    F.col("to").isNull() | F.col("tn").isNull(), F.lit(2.0)
                ).otherwise(
                    F.col("_nsum").cast("double")
                    / (
                        F.col("to").cast("double")
                        * F.col("tn").cast("double")
                    )
                ),
                6,
            ).alias("l1_drift"),
        )
    )


def length_drift_sql(
    table: str = "documents",
    old_pred: str = "doc_id % 2 = 0",
    new_pred: str = "doc_id % 2 = 1",
    group_col: str = "source",
    len_col: str = "n_chars",
) -> str:
    """DuckDB twin of :func:`length_drift` over two predicates of one
    table (how the contract exercises it)."""
    bucket = (
        f"CAST(least(length(bin(greatest(CAST({len_col} AS BIGINT), 1))) - 1,"
        f" {_N_BUCKETS - 1}) AS INTEGER)"
    )
    return f"""
      WITH o AS (
        SELECT {group_col}, {bucket} AS bk, count(*) AS n
        FROM {table} WHERE {old_pred} GROUP BY 1, 2
      ), nw AS (
        SELECT {group_col}, {bucket} AS bk, count(*) AS n
        FROM {table} WHERE {new_pred} GROUP BY 1, 2
      ), ot AS (SELECT {group_col}, sum(n) AS t FROM o GROUP BY 1),
      nt AS (SELECT {group_col}, sum(n) AS t FROM nw GROUP BY 1),
      j AS (
        SELECT COALESCE(o.{group_col}, nw.{group_col}) AS g,
               COALESCE(o.n, 0) AS no, COALESCE(nw.n, 0) AS nn
        FROM o FULL OUTER JOIN nw
          ON o.{group_col} = nw.{group_col} AND o.bk = nw.bk
      )
      SELECT j.g AS {group_col},
             CAST(COALESCE(ot.t, 0) AS BIGINT) AS n_old,
             CAST(COALESCE(nt.t, 0) AS BIGINT) AS n_new,
             round(CASE WHEN ot.t IS NULL OR nt.t IS NULL THEN 2.0
                        ELSE CAST(sum(abs(CAST(j.no AS DECIMAL(38,0)) * nt.t
                                  - CAST(j.nn AS DECIMAL(38,0)) * ot.t))
                                  AS DOUBLE)
                             / (CAST(ot.t AS DOUBLE) * CAST(nt.t AS DOUBLE))
                   END, 6) AS l1_drift
      FROM j LEFT JOIN ot ON j.g = ot.{group_col}
             LEFT JOIN nt ON j.g = nt.{group_col}
      GROUP BY j.g, ot.t, nt.t
    """


def token_novelty(
    old_df: DataFrame,
    new_df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group share of NEW-snapshot token occurrences whose term is
    absent from the OLD snapshot's group vocabulary:
    (group, n_tokens_new, n_novel, novelty). The old side reduces to the
    distinct (group, term) vocabulary — vocabulary-scale, not
    corpus-scale — and the probe is a left-semi-style null check after
    an equi-join on (group, term); counts are exact integers."""
    def toks(df):
        return df.select(
            F.col(group_col),
            F.explode(word_array(F.col(text_col))).alias("term"),
        )

    old_vocab = toks(old_df).distinct().withColumn("_seen", F.lit(1))
    probed = toks(new_df).join(old_vocab, [group_col, "term"], "left")
    return probed.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens_new"),
        F.sum(F.when(F.col("_seen").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_novel"),
        F.round(
            F.sum(F.when(F.col("_seen").isNull(), 1).otherwise(0))
            .cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("novelty"),
    )


def token_novelty_sql(
    table: str = "documents",
    old_pred: str = "doc_id % 2 = 0",
    new_pred: str = "doc_id % 2 = 1",
    group_col: str = "source",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`token_novelty` (terms split by the same
    ``subword.WORD_SEP`` rule; empty terms dropped on both sides)."""
    return f"""
      WITH newt AS (
        SELECT {group_col},
               unnest({split_sql(text_col)}) AS term
        FROM {table} WHERE {new_pred}
      ), oldv AS (
        SELECT DISTINCT {group_col},
               unnest({split_sql(text_col)}) AS term
        FROM {table} WHERE {old_pred}
      )
      SELECT n.{group_col},
             CAST(count(*) AS BIGINT) AS n_tokens_new,
             CAST(sum(CASE WHEN o.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
             round(CAST(sum(CASE WHEN o.term IS NULL THEN 1 ELSE 0 END)
                        AS DOUBLE) / count(*), 6) AS novelty
      FROM newt n LEFT JOIN oldv o
        ON n.{group_col} = o.{group_col} AND n.term = o.term
      WHERE n.term != ''
      GROUP BY n.{group_col}
    """
