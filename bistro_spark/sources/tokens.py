"""Deterministic synthetic token table — the north-rule input shape.

Schema (BASELINE.json#input_hint):
    doc_id: string, tokens: array<int>, n_tok: int, source: string
plus test/streaming columns: event_time: timestamp, batch_ofs: long.

Recipe (FIXTURES.md F1, seed-free pure functions of the row index i):
    L_i        = 1 + (i * 2654435761) % 512
    tokens[j]  = (i * 1_000_003 + j * 7919) % 50257
    source     = zipf 8:4:2:1 over [web, code, books, wiki]
                 via bucket = (i * 2654435761) % 15
    event_time = 2026-01-01T00:00:00Z + i * 250 ms

Generated distributively with ``spark.range`` + ``F.sequence``/``F.transform``
(whole-stage codegen, no Python, no driver loop) so the same recipe scales
from N=100 unit fixtures to multi-million-row bench tables.  The identical
closed form is reproducible in DuckDB / pandas for oracles — see
``token_table_duckdb_sql``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bistro_spark.session import local_frame

VOCAB = 50257
MAX_LEN = 512
MIX = 2654435761  # Knuth multiplicative hash constant
TOK_A = 1_000_003
TOK_B = 7919
SOURCES = ("web", "code", "books", "wiki")  # weights 8:4:2:1 over %15 buckets


def token_table(
    spark: SparkSession, n: int, partitions: int | None = None
) -> DataFrame:
    """The F1 token table with n rows, generated JVM-side."""
    rng = spark.range(0, n, 1, partitions) if partitions else spark.range(n)
    i = F.col("id")
    length = (i * MIX) % MAX_LEN + 1
    tokens = F.transform(
        F.sequence(F.lit(0).cast("long"), length - 1),
        lambda j: ((i * TOK_A + j * TOK_B) % VOCAB).cast("int"),
    )
    bucket = (i * MIX) % 15
    source = (
        F.when(bucket < 8, SOURCES[0])
        .when(bucket < 12, SOURCES[1])
        .when(bucket < 14, SOURCES[2])
        .otherwise(SOURCES[3])
    )
    return rng.select(
        F.format_string("d%08d", i).alias("doc_id"),
        tokens.alias("tokens"),
        length.cast("int").alias("n_tok"),
        source.alias("source"),
        (
            F.lit("2026-01-01 00:00:00").cast("timestamp")
            + F.expr("make_dt_interval(0, 0, 0, id * 0.25)")
        ).alias("event_time"),
        i.alias("batch_ofs"),
    )


TOKEN_SCHEMA = (
    "doc_id string, tokens array<int>, n_tok int, source string, "
    "event_time timestamp, batch_ofs long"
)


def token_table_fast(
    spark: SparkSession, n: int, partitions: int | None = None
) -> DataFrame:
    """Same table as token_table, generated via numpy inside mapInPandas.

    Catalyst's higher-order-function path (sequence+transform) evaluates
    per-element with boxing — ~2M tokens/s. This Arrow path computes whole
    partitions vectorized in numpy (~50x faster) and is verified
    element-identical to token_table in tests. Use for bench-scale data.
    """
    import numpy as np
    import pandas as pd

    def gen(batches):
        for b in batches:
            ids = b["id"].to_numpy()
            length = (ids * MIX) % MAX_LEN + 1
            offs = np.concatenate(([0], np.cumsum(length)))
            row_i = np.repeat(ids, length)
            j = np.arange(offs[-1], dtype=np.int64) - np.repeat(offs[:-1], length)
            vals = ((row_i * TOK_A + j * TOK_B) % VOCAB).astype(np.int32)
            tokens = np.split(vals, offs[1:-1])
            bucket = (ids * MIX) % 15
            source = np.select(
                [bucket < 8, bucket < 12, bucket < 14],
                [SOURCES[0], SOURCES[1], SOURCES[2]],
                default=SOURCES[3],
            )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids).map("d{:08d}".format),
                    "tokens": tokens,
                    "n_tok": length.astype(np.int32),
                    "source": source,
                    "event_time": pd.Timestamp("2026-01-01")
                    + pd.to_timedelta(ids * 250, unit="ms"),
                    "batch_ofs": ids,
                }
            )

    rng = spark.range(0, n, 1, partitions) if partitions else spark.range(n)
    return rng.mapInPandas(gen, TOKEN_SCHEMA)


def token_table_duckdb_sql(n: int) -> str:
    """The same table as ANSI-ish DuckDB SQL (oracle side)."""
    return f"""
    SELECT
      printf('d%08d', i)                                   AS doc_id,
      [CAST((i * {TOK_A} + j * {TOK_B}) % {VOCAB} AS INTEGER)
         FOR j IN range(0, CAST((i * {MIX}) % {MAX_LEN} + 1 AS BIGINT))] AS tokens,
      CAST((i * {MIX}) % {MAX_LEN} + 1 AS INTEGER)          AS n_tok,
      CASE WHEN (i * {MIX}) % 15 < 8  THEN 'web'
           WHEN (i * {MIX}) % 15 < 12 THEN 'code'
           WHEN (i * {MIX}) % 15 < 14 THEN 'books'
           ELSE 'wiki' END                                  AS source,
      TIMESTAMP '2026-01-01 00:00:00' + to_milliseconds(i * 250) AS event_time,
      i                                                     AS batch_ofs
    FROM range(0, {n}) t(i)
    """


def sources_dim(spark: SparkSession) -> DataFrame:
    """The link-target dimension: one row per source with static attributes.

    Mirrors the reference's GROUPS fixture (Tests.java link/accu cases):
    includes a group that receives no facts ('archive') so empty-group
    defaults are exercised. Built with :func:`local_frame`, so it is a JVM
    ``LocalRelation``: queries that link to it scan it without Python
    workers, and a link to it compiles to an in-plan lookup, not a
    broadcast join (``schema._link_lookup``).

    One frame per session: every call with the same session returns the
    same DataFrame, so a per-delta ``prepare_facts`` neither rebuilds it
    nor its link's lookup, which is cached on the frame. The frame is held
    by the session object, so it goes with that session.
    """
    dim = getattr(spark, "_bistro_sources_dim", None)
    if dim is None:
        rows = [
            ("web", 1.0, "crawl"),
            ("code", 0.5, "github"),
            ("books", 2.0, "scan"),
            ("wiki", 1.5, "dump"),
            ("archive", 9.9, "cold"),  # receives no facts
        ]
        dim = local_frame(
            spark, rows, "source string, weight double, origin string"
        )
        spark._bistro_sources_dim = dim
    return dim
