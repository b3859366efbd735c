"""The flagship calc → link → accumulate pipeline over the token table.

This is the north-rule headline job (BASELINE.json#metric): for a stream or
batch of pre-tokenized sequences (doc_id, tokens, n_tok, source):

  1. calc:  recompute ``n_tok_calc = size(tokens)`` (native Catalyst)
     plus a content fingerprint — reference ``Column.java#calc``.
  2. link:  attach the ``sources`` dimension on ``source`` — reference
     ``Column.java#link``. The dim is driver-side rows, so the link is a
     map lookup inside the fact projection: no join, no fact shuffle and
     no broadcast job.
  3. accu:  per-source aggregates (sequence count, token sum, weighted
     token sum through the link path) — reference ``Column.java#accu``;
     Spark runs it partial+final so the skewed ``source`` key (zipf 8:4:2:1)
     is pre-reduced map-side before the tiny 4-row shuffle.

Built once as a Schema recipe and reused by batch mode, the foreachBatch
incremental driver, and structured streaming (windowed variant in
streaming/windows.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bistro_spark.functions.tokens import n_tok_native, token_fingerprint, token_sum
from bistro_spark.schema import Schema
from bistro_spark.sources.tokens import sources_dim


def build_pipeline(spark: SparkSession, tokens_df: DataFrame):
    """Wire the calc→link→accu recipe; returns (schema, facts, groups)."""
    s = Schema(spark, "token_pipeline")
    dim = s.table("sources", sources_dim(spark), key=["source"])
    facts = s.table("tokens", tokens_df)

    facts.calc("n_tok_calc", n_tok_native("tokens"))
    facts.calc("fingerprint", token_fingerprint("tokens"))
    facts.calc("tok_sum", token_sum("tokens"))
    facts.link("src", dim, on={"source": "source"}).bring("src", "weight")
    facts.calc("weighted_tok", "n_tok_calc * src__weight")

    dim.accu("n_seq", facts, "src", "count(*)", default=0)
    dim.accu("sum_tok", facts, "src", "sum(n_tok_calc)", default=0)
    # decimal-exact sum (float addition is order-dependent; decimal isn't)
    dim.accu(
        "sum_weighted",
        facts,
        "src",
        "cast(sum(cast(weighted_tok as decimal(20,6))) as double)",
        default=0.0,
    )
    return s, facts, dim


def prepare_facts(
    spark: SparkSession,
    batch_df: DataFrame,
    sketch: bool = False,
    sketch_k: int = 16,
    sketch_stride: int = 1,
) -> DataFrame:
    """The calc+link phase only (no accumulate) — the per-delta part of the
    pipeline, reused by the incremental runner and streaming mode. calc and
    link are per-row ops, so applying them to just the delta is exact (the
    reference evaluates them over only the added span). The dim frame and
    its link's lookup are built once per session, not once per delta.

    ``sketch=True`` swaps the two JVM token calcs (size + xxhash64) for the
    fused Arrow sketch stage (n_tok + MinHash signature + sketch-derived
    fingerprint in one pass over the Arrow buffers, tokens dropped at the
    source) — the representative training-data pipeline shape, and the
    bandwidth-lean path: the token arrays cross the JVM boundary exactly
    once and are never re-materialized by downstream operators."""
    if sketch:
        from bistro_spark.operators.dedup import sketch_calc_arrow

        batch_df = sketch_calc_arrow(
            batch_df, k=sketch_k, stride=sketch_stride
        )
    s = Schema(spark, "prepare")
    dim = s.table("sources", sources_dim(spark), key=["source"])
    facts = s.table("tokens", batch_df)
    if not sketch:
        facts.calc("n_tok_calc", n_tok_native("tokens"))
        facts.calc("fingerprint", token_fingerprint("tokens"))
    facts.link("src", dim, on={"source": "source"}).bring("src", "weight")
    facts.calc("weighted_tok", "n_tok_calc * src__weight")
    return facts.df()


def flagship(spark: SparkSession, tokens_df: DataFrame) -> DataFrame:
    """Per-source rollup of the pipeline — the driver's smoke query."""
    _, _, dim = build_pipeline(spark, tokens_df)
    out = dim.df().select(
        "source", "weight", "origin", "n_seq", "sum_tok", "sum_weighted"
    )
    return out.orderBy("source")
