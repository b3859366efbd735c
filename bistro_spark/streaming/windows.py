"""Windowed accumulate columns for Structured Streaming.

Reference mapping (SURVEY.md §2.10 / §2.5):
- tumbling window  = range table + project-to-range + accu
  (``TableDefinitionRange.java`` + ``ColumnDefinitionProj`` + ``Accu``)
  → ``F.window(ts, size)`` grouped aggregate,
- sliding window   = roll column / FIFO retention + accu
  (``ColumnDefinitionRoll.java`` / ``ActionRemove`` + ``Accu``)
  → ``F.window(ts, size, slide)``,
- session window   = ABSENT in the reference; north-rule extension
  → ``F.session_window(ts, gap)``.

All three work identically on batch and streaming DataFrames; on a stream
the caller must have applied ``withWatermark`` so state is evicted (the
reference's ActionRemove analog) and append-mode output finalizes windows.

The aggregates run partial+final in the state store; the skewed ``source``
key is pre-reduced map-side (see skew.py for the explicit salting variant
used when a single window×key cell is still too hot).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _aggs(agg_exprs: dict[str, str | Column]) -> list[Column]:
    return [
        (F.expr(e) if isinstance(e, str) else e).alias(name)
        for name, e in agg_exprs.items()
    ]


def _window_accu(
    df: DataFrame,
    win: Column,
    keys: list[str],
    agg_exprs: dict[str, str | Column],
) -> DataFrame:
    """The one accumulate body of the three window shapes: group by the
    window column ``win`` and ``keys``, then flatten the window to
    (window_start, window_end)."""
    return (
        df.groupBy(win.alias("win"), *keys)
        .agg(*_aggs(agg_exprs))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *keys,
            *[F.col(n) for n in agg_exprs],
        )
    )


def tumbling_window_accu(
    df: DataFrame,
    time_col: str,
    size: str,
    keys: list[str],
    agg_exprs: dict[str, str | Column],
) -> DataFrame:
    """Tumbling-window accumulate: one interval per event (range+proj+accu)."""
    win = F.window(F.col(time_col), size)
    return _window_accu(df, win, keys, agg_exprs)


def sliding_window_accu(
    df: DataFrame,
    time_col: str,
    size: str,
    slide: str,
    keys: list[str],
    agg_exprs: dict[str, str | Column],
) -> DataFrame:
    """Sliding-window accumulate (roll analog): overlapping windows."""
    win = F.window(F.col(time_col), size, slide)
    return _window_accu(df, win, keys, agg_exprs)


def session_window_accu(
    df: DataFrame,
    time_col: str,
    gap: str,
    keys: list[str],
    agg_exprs: dict[str, str | Column],
) -> DataFrame:
    """Session-window accumulate: windows close after ``gap`` inactivity
    per key (north-rule extension beyond the reference)."""
    win = F.session_window(F.col(time_col), gap)
    return _window_accu(df, win, keys, agg_exprs)


def salted_tumbling_window_accu(
    df: DataFrame,
    time_col: str,
    size: str,
    keys: list[str],
    partial_exprs: dict[str, str],
    merge_exprs: dict[str, str],
    n_salts: int = 16,
    unique_col: str = "doc_id",
) -> DataFrame:
    """Two-phase salted windowed accumulate (streaming skew handling).

    For a hot window×key cell, partial+final aggregation already spreads
    the MAP side, but the final aggregation still lands the whole cell on
    ONE state-store partition every micro-batch — the streaming straggler
    the north rule calls out. Salting splits that cell across ``n_salts``
    state partitions (first stateful agg keyed (window, keys..., salt)),
    then a second stateful agg merges the per-salt partials per window.
    Spark 3.4+ chains the two stateful operators in append mode with
    correct watermark propagation; the salt is deterministic (crc32 of a
    row-unique column, skew.py's exactly-once-replay-safe recipe).

    ``partial_exprs``/``merge_exprs`` follow skew.salted_agg: the fold must
    be decomposable (e.g. count -> sum, sum -> sum, min -> min).
    """
    from bistro_spark.skew import with_salt

    salted = with_salt(df, n_salts, unique_col)
    win = F.window(F.col(time_col), size)
    partial = salted.groupBy(win.alias("win"), *keys, "_salt").agg(
        *[F.expr(e).alias(n) for n, e in partial_exprs.items()]
    )
    merged = partial.groupBy("win", *keys).agg(
        *[F.expr(e).alias(n) for n, e in merge_exprs.items()]
    )
    return merged.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        *keys,
        *[F.col(n) for n in merge_exprs],
    )
