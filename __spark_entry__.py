"""Driver contract for the spark-graft builder (PySpark target).

Each contract query exercises one operator of the bistro_spark column
calculus (SURVEY.md §2) over the driver-provided parquet tables. It is
registered once, in ``_contracts()``: its Spark builder ``q_<name>`` and the
ANSI-SQL oracle DuckDB runs on the same tables (none for the two rows-only
queries). ``queries()`` and ``oracle_sql()`` derive from that one table, in
its order. Aliases match exactly on both sides (the driver hashes values with
columns sorted by name), and every output column is a type the driver can
hash: no array, map, struct, binary or decimal, which ``queries()`` enforces
from each result's schema.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bistro_spark.pipeline import flagship
from bistro_spark.schema import Schema
from bistro_spark.sources.io import load_table
from bistro_spark.operators import bpe as _bpe
from bistro_spark import skew as _skew
from bistro_spark.operators import cdc as _cdc
from bistro_spark.operators import curation as _curation
from bistro_spark.operators import maintenance as _maintenance
from bistro_spark.operators import dedup as _dedup
from bistro_spark.operators import drift as _drift
from bistro_spark.operators import olap as _olap
from bistro_spark.operators import ranking as _ranking
from bistro_spark.operators import similarity as _similarity
from bistro_spark.operators import temporal as _temporal
from bistro_spark.operators import text as _text
from bistro_spark.operators import trainprep as _trainprep
from bistro_spark.operators import unigram as _unigram
from bistro_spark.operators import wordpiece as _wordpiece
from bistro_spark.operators import web as _web
from bistro_spark.sources.tokens import (
    token_table_duckdb_sql,
    token_table_fast,
)

TOKENS_N = 2000  # fixed-size deterministic token table for token queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship calc→link→accu token pipeline on a generated F1 table,
    smoke-checked alongside sf0.001 parquet reachability."""
    load_table(spark, "lineitem", "/root/testdata/sf0.001").count()  # sanity
    return flagship(spark, token_table_fast(spark, 500, partitions=4))


def _json_arrays(df: DataFrame, *cols: str) -> DataFrame:
    """The array columns ``cols`` as JSON text (``[1,2]``, ``[true]``,
    ``[]``), which the driver can hash; :func:`_json_arrays_sql` is the
    DuckDB twin and prints the same text."""
    return df.withColumns({c: F.to_json(c) for c in cols})


def _json_arrays_sql(sql: str, *cols: str) -> str:
    as_json = ", ".join(f"to_json({c})::VARCHAR AS {c}" for c in cols)
    return f"SELECT * REPLACE ({as_json}) FROM ({sql})"


# --------------------------------------------------------------------------
# operator queries over the driver testdata
# --------------------------------------------------------------------------


def q_calc_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """C2 calc: per-row arithmetic over lineitem (native Catalyst)."""
    s = Schema(spark)
    t = s.table("lineitem", load_table(spark, "lineitem", sf))
    t.calc("revenue", "l_extendedprice * (1 - l_discount)")
    t.calc("charged", "l_extendedprice * (1 - l_discount) * (1 + l_tax)")
    return t.df().select(
        "l_orderkey", "l_linenumber", "revenue", "charged"
    )


def q_link_orders_customer(spark: SparkSession, sf: str) -> DataFrame:
    """C3 link: orders→customer many-to-one broadcast join + path hop."""
    s = Schema(spark)
    cust = s.table("customer", load_table(spark, "customer", sf), key=["c_custkey"])
    orders = s.table("orders", load_table(spark, "orders", sf))
    orders.link("cust", cust, on={"o_custkey": "c_custkey"}).bring(
        "cust", "c_mktsegment", "c_acctbal"
    )
    return orders.df().select(
        F.col("o_orderkey"),
        F.col("cust").alias("cust_key"),
        F.col("cust__c_mktsegment").alias("mktsegment"),
        F.col("cust__c_acctbal").alias("acctbal"),
    )


def q_accu_revenue_per_customer(spark: SparkSession, sf: str) -> DataFrame:
    """C5 accu: revenue folded from lineitem→orders→customer; customers with
    no orders get the default 0 (the reference's empty-group case)."""
    s = Schema(spark)
    cust = s.table("customer", load_table(spark, "customer", sf), key=["c_custkey"])
    orders = s.table("orders", load_table(spark, "orders", sf))
    orders.link("cust", cust, on={"o_custkey": "c_custkey"})
    # exact decimal sum cast back to double: float addition is order-
    # dependent, decimal is not → bit-identical across engines/partitionings
    cust.accu(
        "total_spent",
        orders,
        "cust",
        "cast(sum(cast(o_totalprice as decimal(20,6))) as double)",
        default=0.0,
    )
    cust.accu("n_orders", orders, "cust", "count(*)", default=0)
    return cust.df().select("c_custkey", "total_spent", "n_orders")


def q_project_doc_dims(spark: SparkSession, sf: str) -> DataFrame:
    """C4 project: build the (source, lang) dimension from documents while
    linking every document to it."""
    s = Schema(spark)
    docs = s.table("documents", load_table(spark, "documents", sf))
    docs.project("sl", "SRC_LANG", keys={"source": "source", "lang": "lang"})
    dim = s.table("SRC_LANG")
    dim.accu("n_docs", docs, "sl", "count(*)", default=0)
    dim.accu("sum_chars", docs, "sl", "sum(n_chars)", default=0)
    return dim.df().select("source", "lang", "n_docs", "sum_chars")


def q_roll_events_moving(spark: SparkSession, sf: str) -> DataFrame:
    """C6 roll (count frame): per-user moving sum/avg over the last 3 events
    in (ts, event_id) order — Window rowsBetween(-2, 0)."""
    s = Schema(spark)
    ev = s.table("events", load_table(spark, "events", sf))
    ev.calc("ord", "struct(ts, event_id)")
    ev.roll("msum_dec", "sum(cast(value as decimal(20,6)))", order_by="ord",
            size_past=2, partition_by=["user_id"])
    ev.roll("mcount", "count(*)", order_by="ord", size_past=2,
            partition_by=["user_id"])
    ev.calc("msum", "cast(msum_dec as double)")
    ev.calc("mavg", "cast(msum_dec as double) / mcount")
    return ev.df().select("event_id", "user_id", "msum", "mavg")


def q_roll_range_events(spark: SparkSession, sf: str) -> DataFrame:
    """C6 roll (distance frame): per-user sum over events within the
    preceding 600 s of event time — rangeBetween on epoch seconds."""
    s = Schema(spark)
    ev = s.table("events", load_table(spark, "events", sf))
    # session tz is UTC so NTZ→TZ cast is identity on the instant
    ev.calc("ts_us", "unix_micros(cast(ts as timestamp))")
    ev.roll("wsum_dec", "sum(cast(value as decimal(20,6)))", order_by="ts_us",
            size_past=600_000_000, size_future=0, mode="range",
            partition_by=["user_id"])
    ev.calc("wsum", "cast(wsum_dec as double)")
    return ev.df().select("event_id", "user_id", "wsum")


def q_range_bin_events(spark: SparkSession, sf: str) -> DataFrame:
    """T4 range + C4 project-to-range + C5 accu: 10-minute tumbling bins of
    events, aggregate per bin (the reference's range-table binning; compiled
    closed-form, no interval join needed for fixed-width bins)."""
    s = Schema(spark)
    ev = s.table("events", load_table(spark, "events", sf))
    ev.calc("bin_start", "cast(floor(unix_timestamp(ts) / 600) * 600 as long)")
    bins = s.table("BINS")
    bins._base_thunk = lambda: ev.df().select("bin_start").dropDuplicates()
    bins.set_key("bin_start")
    bins.accu("n_events", ev, "bin_start", "count(*)", default=0)
    bins.accu(
        "sum_value",
        ev,
        "bin_start",
        "cast(sum(cast(value as decimal(20,6))) as double)",
        default=0.0,
    )
    return bins.df().select("bin_start", "n_events", "sum_value")


def q_range_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """T4 range table + C4 project-to-range via the ACTUAL interval-link
    path (broadcast interval join against a Schema.range population — not
    the closed-form bin calc of range_bin_events): events binned into 20
    fixed value intervals of width 50 from origin 0, then accumulated per
    interval."""
    s = Schema(spark)
    ev = s.table("events", load_table(spark, "events", sf))
    rng = s.range("VBINS", 0.0, 50.0, 20)
    s.project_to_range(ev, "vbin", rng, "value")
    bins = s.table("VBINS")
    bins.accu("n_events", ev, "vbin", "count(*)", default=0)
    bins.accu(
        "sum_value",
        ev,
        "vbin",
        "cast(sum(cast(value as decimal(20,6))) as double)",
        default=0.0,
    )
    return bins.df().select(
        F.col("interval_start").alias("lo"),
        F.col("interval_end").alias("hi"),
        "n_events",
        "sum_value",
    )


def q_link_two_hop(spark: SparkSession, sf: str) -> DataFrame:
    """C3 link + ColumnPath two-hop (ColumnPath.java#getValue): orders →
    customer → nation, bringing a second-hop attribute through the first
    link (orders.cust.nat.n_name materialized as cust__nat__n_name)."""
    s = Schema(spark)
    nation = s.table("nation", load_table(spark, "nation", sf), key=["n_nationkey"])
    cust = s.table("customer", load_table(spark, "customer", sf), key=["c_custkey"])
    cust.link("nat", nation, on={"c_nationkey": "n_nationkey"}).bring(
        "nat", "n_name"
    )
    orders = s.table("orders", load_table(spark, "orders", sf))
    orders.link("cust", cust, on={"o_custkey": "c_custkey"}).bring(
        "cust", "nat__n_name"
    )
    return orders.df().select(
        "o_orderkey",
        F.col("cust").alias("cust_key"),
        F.col("cust__nat__n_name").alias("nation_name"),
    )


def q_prod_where(spark: SparkSession, sf: str) -> DataFrame:
    """T2 prod + T3 where: nation × region product table filtered by a
    predicate (the reference's product-table population)."""
    s = Schema(spark)
    nation = s.table("nation", load_table(spark, "nation", sf))
    region = s.table("region", load_table(spark, "region", sf))
    p = s.prod("NR", nation, region, where="n_regionkey = r_regionkey")
    return p.df().select("n_nationkey", "n_name", "r_name")


def q_formula_expr(spark: SparkSession, sf: str) -> DataFrame:
    """F1 formula surface: calc driven by expression strings (the formula
    module's [A]+[B] → our SQL-expression pass-through via F.expr)."""
    s = Schema(spark)
    t = s.table("part", load_table(spark, "part", sf))
    t.calc("value_density", "p_retailprice / (p_size + 1)")
    t.calc("brand_type", "concat(p_brand, '#', p_type)")
    return t.df().select("p_partkey", "value_density", "brand_type")


def q_formula_bracket(spark: SparkSession, sf: str) -> DataFrame:
    """F1 formula bracket grammar ([Column A] + [B] — the reference's
    exp4j/EvalEx surface, FormulaExp4j.java): bracketed column references,
    including names with spaces, parsed by the engine's formula shim into
    the same calc path."""
    s = Schema(spark)
    base = load_table(spark, "part", sf).select(
        "p_partkey",
        F.col("p_retailprice").alias("unit price"),
        F.col("p_size").alias("pack size"),
    )
    t = s.table("part_f", base)
    t.calc("density", "[unit price] / ([pack size] + 1)")
    t.calc("double_density", "[density] * 2")
    return t.df().select("p_partkey", "density", "double_density")


def q_tokens_flagship(spark: SparkSession, sf: str) -> DataFrame:
    """The north-rule calc→link→accu pipeline on the deterministic F1 token
    table (sf-independent; the oracle regenerates the identical table)."""
    return flagship(spark, token_table_fast(spark, TOKENS_N, partitions=4)).select(
        "source", "n_seq", "sum_tok", "sum_weighted"
    )


def q_tokens_rowlevel(spark: SparkSession, sf: str) -> DataFrame:
    """Row-level token calc parity: n_tok recompute + order-sensitive
    fingerprint ingredients (first/last token, token sum) — exercises
    array<int32> exactness end-to-end. The head5 array is serialized to a
    CSV string (the driver's canonicalizer can't sort list columns)."""
    from bistro_spark.functions.tokens import token_head

    df = token_table_fast(spark, TOKENS_N, partitions=4)
    return df.select(
        "doc_id",
        F.size("tokens").alias("n_tok_calc"),
        F.element_at("tokens", 1).alias("first_tok"),
        F.element_at("tokens", -1).alias("last_tok"),
        F.aggregate(
            "tokens", F.lit(0).cast("long"), lambda a, x: a + x.cast("long")
        ).alias("tok_sum"),
        F.concat_ws(",", token_head(5).cast("array<string>")).alias("head5"),
    )


# ---------------------------------------------------- training-data ops ---


def _dup_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """documents ∪ shifted copies of the first 50 — a dup-bearing corpus
    (driver documents are all-distinct, so dedup needs synthetic dups)."""
    docs = load_table(spark, "documents", sf)
    dups = docs.filter("doc_id < 50").withColumn(
        "doc_id", F.col("doc_id") + 10000
    )
    return docs.unionByName(dups)


_DUP_CTE = """
u AS (
  SELECT * FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id < 50
)
"""


def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup: md5-hash groupBy, keep min doc_id (hash keys shuffle
    uniformly at 100 TB even when content is skewed)."""
    from bistro_spark.operators.dedup import exact_dedup

    groups, _ = exact_dedup(_dup_corpus(spark, sf))
    return groups.select("fp", "keep_id", "n_dups")


def q_dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs (band-bucket join, never
    all-pairs)."""
    from bistro_spark.operators.dedup import lsh_candidate_pairs

    return lsh_candidate_pairs(_dup_corpus(spark, sf), k=16, bands=4)


def q_dedup_verified_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """The canonical near-dup flow end-to-end: MinHash+LSH candidate pairs
    (bucket-local join) → exact n-gram Jaccard verification ≥ 0.5 — the
    LSH narrows, the exact measure decides. Candidates that fail
    verification are dropped; at 100 TB the expensive exact compare runs
    only on the ~linear candidate set, never all pairs."""
    from bistro_spark.operators.dedup import (
        lsh_candidate_pairs,
        ngram_jaccard,
        ngram_set,
    )

    corpus = _dup_corpus(spark, sf)
    # 2 bands × 8 rows: the driver documents are template-similar, so the
    # permissive 4×4 banding floods the candidate set (6.8M pairs at
    # sf0.1); a sharper AND keeps candidates ∝ true near-dups. Materialize
    # once — the signature/band plan feeds three downstream consumers.
    pairs = lsh_candidate_pairs(corpus, k=16, bands=2).localCheckpoint(
        eager=True
    )
    # exact-verification cost ∝ candidate members, not corpus: n-gram sets
    # are computed only for docs that appear in some candidate pair
    members = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .union(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    # the member set and its ngram table are candidate-bounded, not
    # corpus-bounded; Catalyst's size estimates for checkpoint/UDF
    # subtrees are too pessimistic to pick broadcasts on its own (the
    # plan audit caught 4 SortMergeJoins: the member semi-join duplicated
    # 2x under each pair side x2 through the corpus union, shuffling the
    # corpus four times). Gated on the actual member count: broadcast the
    # id list into the semi-join (corpus never shuffles), materialize the
    # ngram table ONCE (pin; the caller's pin_scope frees it), broadcast
    # it into both pair joins (the 2.3M-pair stream never shuffles, and
    # the length prefilter fuses into the join condition). Past the bound
    # the plain joins let AQE shuffle — the honest at-scale plan.
    small = members.count() <= 200_000
    if small:
        members = F.broadcast(members)
    ng = corpus.join(members, "doc_id", "left_semi").select(
        "doc_id", ngram_set(F.col("text")).alias("ng")
    )
    if small:
        from bistro_spark.caching import pin

        ng, _ids = pin(ng)
    a = ng.select(F.col("doc_id").alias("id_a"), F.col("ng").alias("ng_a"))
    b = ng.select(F.col("doc_id").alias("id_b"), F.col("ng").alias("ng_b"))
    if small:
        a, b = F.broadcast(a), F.broadcast(b)
    # EXACT length prefilter (the set-similarity-join length bound):
    # jaccard ≤ min(|a|,|b|)/max(|a|,|b|), so pairs whose set sizes differ
    # by >2x can never reach 0.5 — integer compare, no false negatives,
    # the per-pair array intersection runs only on survivors
    sa, sb = F.size("ng_a"), F.size("ng_b")
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .filter(F.least(sa, sb) * 2 >= F.greatest(sa, sb))
        .withColumn(
            "jaccard",
            F.round(ngram_jaccard(F.col("ng_a"), F.col("ng_b")), 6),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
    )


def q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash 16-bit sketch per document."""
    from bistro_spark.operators.dedup import simhash

    return simhash(load_table(spark, "documents", sf)).select("doc_id", "simhash")


def q_text_features(spark: SparkSession, sf: str) -> DataFrame:
    """Language-ID heuristic, quality score, token count, md5 fingerprint."""
    from bistro_spark.operators.text import add_text_features

    return add_text_features(load_table(spark, "documents", sf)).select(
        "doc_id", "n_words", "n_stop", "quality", "lang_pred", "fp_md5"
    )


def q_quality_filter_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-filtering pipeline composition: score documents, keep those
    over the quality bar, report per-predicted-language corpus stats —
    the filter+stats step of a training-data curation run."""
    from bistro_spark.operators.text import add_text_features

    scored = add_text_features(load_table(spark, "documents", sf))
    kept = scored.filter((F.col("quality") >= 1.0) & (F.col("n_words") >= 30))
    return kept.groupBy("lang_pred", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.round(
            (
                F.sum(F.col("quality").cast("decimal(20,10)"))
                / F.count("*")
            ).cast("double"),
            6,
        ).alias("avg_quality"),
    )


def q_sample_stratified(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified hash-sampling (curation step): downsample
    the dominant language to 25%, keep 75% of the rest — a pure md5-prefix
    codegen filter, no shuffle/RNG, reproducible on any cluster shape."""
    from bistro_spark.operators.curation import hash_sample

    docs = load_table(spark, "documents", sf)
    return hash_sample(
        docs, "doc_id", rates={"en": 0.25}, strata_col="lang",
        default_rate=0.75,
    ).select("doc_id", "lang", "source", "n_chars")


def q_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Eval-set decontamination: docs with doc_id % 101 == 0 act as the
    held-out benchmark; report every train doc sharing >= 1 distinct word
    n-gram with it. Eval grams broadcast; train side never shuffles.

    The canonical scan uses 13-grams; the synthetic corpus' template
    language shares only short spans verbatim (no 5-gram collisions even
    at sf0.01), so the contract pins n=4 — the largest n with a nonzero
    collision set — to keep the hash check non-trivial. ``n`` is a plain
    passthrough parameter of the operator."""
    from bistro_spark.operators.curation import contamination

    docs = load_table(spark, "documents", sf)
    return contamination(
        docs.filter("doc_id % 101 != 0"),
        docs.filter("doc_id % 101 = 0"),
        n=4,
    )


def q_tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Top-10 terms per language by corpus term frequency, with doc
    frequency and smoothed tf-idf. Rank order is (tf DESC, term ASC) —
    integers/strings only, so the frontier is oracle-deterministic."""
    from bistro_spark.operators.curation import top_terms

    return top_terms(load_table(spark, "documents", sf), "lang", k=10)


def q_corpus_length_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language corpus length report: doc count, total words, exact
    p50/p90/p99 words-per-doc (exact percentile == DuckDB quantile_cont;
    the approx_percentile sketch variant is the 100 TB path, pinned within
    tolerance by tests)."""
    from bistro_spark.operators.curation import length_stats

    return length_stats(load_table(spark, "documents", sf), "lang",
                        exact=True)


def q_repetition_signals(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition/boilerplate signals per document:
    duplicate-word fraction and top-bigram coverage (one codegen
    projection, HOF variant; the explode variant for unbounded docs is
    parity-tested)."""
    from bistro_spark.operators.text import repetition_signals

    return repetition_signals(load_table(spark, "documents", sf)).select(
        "doc_id", "n_words", "n_distinct_words", "dup_word_fraction",
        "top_bigram_count", "top_bigram_fraction",
    )


def q_curation_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The end-to-end curation pass as ONE declarative plan: stratified
    hash-sample (en 25% / rest 75%) → repetition gate (duplicate-word
    fraction ≤ 0.6) → quality gate (score ≥ 1.0) → per-language corpus
    report. Catalyst fuses the three row-level stages into a single
    scan+filter+project before the one aggregation shuffle — the plan a
    100 TB curation job wants."""
    from bistro_spark.operators.curation import hash_sample
    from bistro_spark.operators.text import quality_score, repetition_signals

    docs = load_table(spark, "documents", sf)
    sampled = hash_sample(docs, "doc_id", {"en": 0.25}, "lang", 0.75)
    gated = (
        repetition_signals(sampled)
        .filter(F.col("dup_word_fraction") <= 0.6)
        .withColumn("quality", quality_score("text"))
        .filter(F.col("quality") >= 1.0)
    )
    return gated.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.round(
            (
                F.sum(F.col("dup_word_fraction").cast("decimal(20,10)"))
                / F.count("*")
            ).cast("double"),
            6,
        ).alias("avg_dup_fraction"),
    )


def q_chunk_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Context-window chunking: 32-word spans with 8-word overlap per
    document (the RAG / training-prep striding scheme) — pure
    sequence+explode+slice codegen, no shuffle."""
    from bistro_spark.operators.curation import chunk_spans

    return chunk_spans(
        load_table(spark, "documents", sf), size=32, overlap=8
    )


def q_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy no-split sequence packing into 256-word buffers, 4 shards —
    the training-batch packing step as a per-shard grouped-map fold;
    oracle = the same fold as a DuckDB recursive CTE."""
    from bistro_spark.operators.curation import pack_sequences

    docs = load_table(spark, "documents", sf).select(
        "doc_id", F.size(F.split("text", " ")).alias("n_words")
    )
    return pack_sequences(docs, capacity=256, n_shards=4)


def q_unigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-fit unigram-LM quality score per document (mean word
    log-probability — the cheap perplexity-filter stand-in); vocabulary
    broadcast, per-term logs rounded then decimal-summed for
    order-independent cross-engine equality."""
    from bistro_spark.operators.curation import unigram_logprob

    return unigram_logprob(load_table(spark, "documents", sf))


def q_bigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Conditional bigram-LM quality score (mean log p(w_i|w_{i-1})
    under the corpus MLE model) — catches scrambled word order that
    unigram stats can't see; logs rounded then decimal-summed."""
    from bistro_spark.operators.curation import bigram_logprob

    return bigram_logprob(load_table(spark, "documents", sf))


def q_source_quota(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source quota: keep the 10 largest documents per source
    (order = n_chars DESC, doc_id tie-break — integer keys only, so the
    frontier is exact) — the cap-any-one-source curation step."""
    from bistro_spark.operators.curation import quota_per_group

    docs = load_table(spark, "documents", sf).select(
        "doc_id", "source", "n_chars"
    )
    return quota_per_group(docs, "source", "n_chars", n=10)


def q_dedup_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Span-level exact substring dedup (Lee et al. paragraph-dedup at
    8-word-span granularity): keep the first corpus-wide occurrence of
    each distinct span, reassemble docs from survivors. First-occurrence
    pick is a partial-aggregatable min(struct) on the span hash — hot
    boilerplate spans collapse map-side, never flood one reducer."""
    from bistro_spark.operators.curation import dedup_spans

    return dedup_spans(load_table(spark, "documents", sf), size=8)


def q_token_budget(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source token-budget selection: fill each source's 600-token
    allowance with its largest documents (n_chars DESC, doc_id
    tie-break) — exact integer window cumsum, reproducible frontier."""
    from bistro_spark.operators.curation import token_budget_select

    docs = load_table(spark, "documents", sf).select(
        "doc_id", "source", "n_chars", "text"
    )
    return token_budget_select(
        docs, "source", "n_chars", budget=600
    ).select("doc_id", "source", "n_chars", "n_tok", "cum_tok")


def q_temperature_resample(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-T=2 language rebalancing: sample each language at
    (n_min/n_g)^0.5 via the deterministic md5-prefix cut, thresholds
    derived in-plan from stratum counts (broadcast back)."""
    from bistro_spark.operators.curation import temperature_resample

    docs = load_table(spark, "documents", sf).select("doc_id", "lang")
    return temperature_resample(docs, "lang", temperature=2.0).select(
        "doc_id", "lang", "rate"
    )


def q_encode_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary build + token-id encoding: dense ids by (count DESC,
    term ASC) assigned through the two-phase global_rank (no
    single-reducer vocab sort), docs encoded via broadcast vocab join;
    id sequences serialized for the cross-engine gate."""
    from bistro_spark.operators.ranking import build_vocab, encode_tokens

    docs = load_table(spark, "documents", sf)
    return encode_tokens(docs, build_vocab(docs))


def q_global_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic corpus shuffle rank (the pre-training data-shuffle
    step): rank docs by md5(doc_id) via two-phase range-partition +
    per-partition offsets — no single-partition window anywhere."""
    from bistro_spark.operators.ranking import global_rank

    docs = (
        load_table(spark, "documents", sf)
        .select("doc_id")
        .withColumn("_k", F.md5(F.col("doc_id").cast("string")))
    )
    return global_rank(docs, ["_k", "doc_id"], rank_col="shuffle_rank").select(
        "doc_id", "shuffle_rank"
    )


def q_training_prep_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The composed end-to-end training-prep flow as ONE lazy plan:
    span-level exact dedup -> survivor gate (>= 2 kept spans) -> rebuild
    text from surviving spans -> frequency-ordered token-id encoding
    (vocab fit on the gated deduped corpus) -> greedy sequence packing
    into 256-token buffers over 4 shards. Oracle = the same four stages
    as nested DuckDB CTEs feeding the recursive packing fold."""
    from bistro_spark.operators.curation import dedup_spans, pack_sequences
    from bistro_spark.operators.ranking import build_vocab, encode_tokens

    docs = load_table(spark, "documents", sf)
    dd = dedup_spans(docs, size=8)
    gated = dd.filter(F.col("n_kept") >= 2).select(
        "doc_id", F.col("text_dedup").alias("text")
    )
    enc = encode_tokens(gated, build_vocab(gated))
    return pack_sequences(enc, len_col="n_tok", capacity=256, n_shards=4)


def q_incremental_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-snapshot near-dup check (incremental-crawl flow): score each
    odd-id ("new") doc by the fraction of its 8-word spans already in the
    even-id ("old") corpus; flag >= 50% as dup. Rational-cut compare —
    no float boundary; old side reduces to distinct span hashes."""
    from bistro_spark.operators.dedup import incremental_span_dedup

    docs = load_table(spark, "documents", sf)
    return incremental_span_dedup(
        docs.filter("doc_id % 2 = 1"),
        docs.filter("doc_id % 2 = 0"),
        size=8,
        threshold=0.5,
    )


def q_materialized_packs(spark: SparkSession, sf: str) -> DataFrame:
    """Final pre-training artifact: encode docs, greedy-pack them, then
    concatenate each pack's token-id sequences in offset order with EOD
    separators — per-pack collect_list is capacity-bounded, never
    corpus-sized."""
    from bistro_spark.operators.curation import (
        materialize_packs,
        pack_sequences,
    )
    from bistro_spark.operators.ranking import build_vocab, encode_tokens

    docs = load_table(spark, "documents", sf)
    enc = encode_tokens(docs, build_vocab(docs))
    packed = pack_sequences(enc, len_col="n_tok", capacity=256, n_shards=4)
    return materialize_packs(packed, enc)


def q_shard_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """Export-side integrity manifest over the materialized packs: per
    shard, pack/doc/token counts + an order-independent exact-integer
    content fingerprint (sum of md5-prefix hashes of each pack's token
    stream). The record a trainer checks instead of trusting the writer;
    write_shards' round-trip test pins that a re-read reproduces it."""
    from bistro_spark.operators.curation import (
        materialize_packs,
        pack_sequences,
        shard_manifest,
    )
    from bistro_spark.operators.ranking import build_vocab, encode_tokens

    docs = load_table(spark, "documents", sf)
    enc = encode_tokens(docs, build_vocab(docs))
    packed = pack_sequences(enc, len_col="n_tok", capacity=256, n_shards=4)
    return shard_manifest(materialize_packs(packed, enc))


def q_split_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/val/test split by md5-prefix ranges: the same
    doc lands in the same split on any run/cluster/snapshot (leakage-
    proof holdout); pure codegen CASE, no shuffle, no RNG."""
    from bistro_spark.operators.curation import split_corpus

    return split_corpus(
        load_table(spark, "documents", sf).select("doc_id")
    )


def q_mixture_report(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus composition audit vs a target language mixture: per-lang
    doc/token counts, achieved vs target token share, ratio (exact
    integer sums; shares are rounded report columns, never sort keys)."""
    from bistro_spark.operators.curation import mixture_report

    targets = {"en": 0.3, "de": 0.175, "es": 0.175, "fr": 0.175, "zh": 0.175}
    return mixture_report(
        load_table(spark, "documents", sf), "lang", targets
    )


def q_repeated_substrings(spark: SparkSession, sf: str) -> DataFrame:
    """Arbitrary-boundary repeated-substring audit (Lee et al. detection
    half, stride-1 8-word windows): corpus-wide occurrence count on the
    window hash (partial-aggregatable), per-doc merge of overlapping
    repeated windows into maximal regions."""
    from bistro_spark.operators.dedup import repeated_substrings

    return repeated_substrings(load_table(spark, "documents", sf), size=8)


def q_strip_repeated(spark: SparkSession, sf: str) -> DataFrame:
    """Removal companion to the repeated-substring audit: delete every
    word inside a merged repeated region (drop-all-occurrences
    boilerplate policy) and rebuild each doc; every doc passes through
    with removal counts."""
    from bistro_spark.operators.dedup import strip_repeated_substrings

    return strip_repeated_substrings(
        load_table(spark, "documents", sf), size=8
    )


def q_random_projection(spark: SparkSession, sf: str) -> DataFrame:
    """JL-style embedding compression 64 -> 4 dims with the deterministic
    Weyl matrix (no RNG): one Arrow GEMM, map-only, no shuffle; oracle
    recomputes each component from literal coefficients."""
    from bistro_spark.operators.similarity import random_projection

    out = random_projection(
        load_table(spark, "embeddings", sf), out_dim=4
    )
    return out.select(
        "vec_id",
        *[
            F.element_at(F.col("proj"), i + 1).alias(f"y{i}")
            for i in range(4)
        ],
    )


def q_group_centroids(spark: SparkSession, sf: str) -> DataFrame:
    """Exact per-label embedding centroids (long form): decimal-cast
    component sums — bit-identical on any partitioning/engine."""
    from bistro_spark.operators.similarity import group_centroids

    return group_centroids(load_table(spark, "embeddings", sf))


def q_ann_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-5 for the 3 lowest vec_ids (exact ANN
    baseline; broadcast queries, no corpus shuffle)."""
    from bistro_spark.operators.similarity import cosine_topk

    emb = load_table(spark, "embeddings", sf)
    queries_df = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return cosine_topk(emb, queries_df, k=5)


def q_embedding_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Banded multi-table hyperplane-LSH embedding near-dup pairs. Corpus =
    embeddings ∪ exact copies of the first 20 vectors.

    Contract premise (what makes banded LSH ≡ the all-pairs oracle): the
    driver embeddings carry NO natural pairs ≥ 0.99 — every qualifying
    pair is an injected exact copy, which collides in every LSH table, so
    recall on qualifying pairs is exactly 1. PREMISE VERIFIED at sf0.001
    (max natural cosine 0.565) and sf0.01 (0.51) by
    tests/test_dedup.py::test_embedding_neardup_contract_premise, which
    recomputes the all-pairs max at the test sf — bump the contract sf
    and that test re-checks it (a natural ≥0.99 pair that misses all 4
    tables would break the hash contract; the premise holds only
    probabilistically beyond the verified range)."""
    from bistro_spark.operators.dedup import embedding_neardup_pairs

    emb = load_table(spark, "embeddings", sf).select("vec_id", "embedding")
    dups = emb.filter("vec_id < 20").withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    return embedding_neardup_pairs(
        emb.unionByName(dups), threshold=0.99, n_tables=4, bits_per_table=8
    )


def q_simhash_hamming(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash multi-probe candidate search: all document pairs within
    Hamming distance ≤ 2 of their 16-bit sketches (bit-flip neighborhood
    explode + equi bucket join — never all-pairs). Oracle = the all-pairs
    bit_count(xor) filter, so the probe enumeration's completeness is what
    is being verified."""
    from bistro_spark.operators.dedup import simhash_hamming_pairs

    return simhash_hamming_pairs(
        load_table(spark, "documents", sf), bits=16, max_hamming=2
    )


# dedup_clusters and dedup_survivors share the expensive SimHash →
# Hamming-probe → connected-components pipeline; a real pipeline computes
# the cluster assignment ONCE and derives both views from it, so the
# contract does the same via a per-(session, sf) cached, materialized
# assignment table (a keep-pinned localCheckpoint — re-deriving survivors
# is then one semi-join). The pin is exempt from pin_scope release; call
# release_dedup_assignments() after the LAST consumer (bench does, right
# after dedup_survivors) so the blocks don't outlive their usefulness.
_DEDUP_ASSIGNMENT_CACHE: dict = {}


def _dedup_assignments(spark: SparkSession, sf: str) -> DataFrame:
    key = (id(spark), sf)
    if key not in _DEDUP_ASSIGNMENT_CACHE:
        from bistro_spark.caching import pin
        from bistro_spark.operators.dedup import (
            connected_components,
            simhash_hamming_pairs,
        )

        docs = load_table(spark, "documents", sf)
        edges = simhash_hamming_pairs(docs, bits=16, max_hamming=2)
        _DEDUP_ASSIGNMENT_CACHE[key] = pin(
            connected_components(
                edges, docs.select(F.col("doc_id").alias("id")), max_iter=30
            ),
            keep=True,
        )
    return _DEDUP_ASSIGNMENT_CACHE[key][0]


def release_dedup_assignments() -> int:
    """Free the keep-pinned cluster-assignment blocks (and drop the memo
    so a later call recomputes). Safe to call when nothing is cached."""
    from bistro_spark.caching import release

    n = 0
    for _key, (df, ids) in list(_DEDUP_ASSIGNMENT_CACHE.items()):
        n += release(df.sparkSession, ids)
        del _DEDUP_ASSIGNMENT_CACHE[_key]
    return n


def q_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup clustering: SimHash Hamming≤2 pairs as edges → connected
    components via alternating large-star/small-star rounds (every
    document labeled with the smallest doc_id in its near-dup cluster).
    Oracle = recursive-CTE label closure over the identical edge set."""
    return _dedup_assignments(spark, sf).select("id", "component")


def q_dedup_survivors(spark: SparkSession, sf: str) -> DataFrame:
    """End of the dedup pipeline: keep ONE representative per near-dup
    cluster (smallest doc_id) — the rows a training run would actually
    consume. Derived from the same cached cluster-assignment table as
    dedup_clusters (computed once per session+sf) by one left-semi join:
    a row survives iff its id IS its component label."""
    docs = load_table(spark, "documents", sf)
    assignments = _dedup_assignments(spark, sf)
    return docs.join(
        assignments.filter(F.col("id") == F.col("component")).select("id"),
        docs["doc_id"] == F.col("id"),
        "left_semi",
    ).select("doc_id", "source", "n_chars")


def q_text_winnow_fp(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing rolling-hash document fingerprint (MOSS scheme) over
    documents — the array<long> of window-min gram hashes, serialized to a
    CSV string so the driver canonicalizer can sort the column."""
    from bistro_spark.operators.text import winnow_fingerprint

    return load_table(spark, "documents", sf).select(
        "doc_id",
        F.concat_ws(
            ",", winnow_fingerprint("text").cast("array<string>")
        ).alias("winnow_fp"),
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """n-gram Jaccard similarity between each document and the next doc_id
    (hashed word-3-gram sets; exact set arithmetic, JVM-side)."""
    from bistro_spark.operators.dedup import ngram_jaccard, ngram_set

    docs = load_table(spark, "documents", sf).select(
        "doc_id", ngram_set(F.col("text")).alias("ng")
    )
    l, r = docs.alias("l"), docs.alias("r")
    return (
        l.join(r, F.col("r.doc_id") == F.col("l.doc_id") + 1)
        .select(
            F.col("l.doc_id").alias("id_a"),
            F.col("r.doc_id").alias("id_b"),
            F.round(ngram_jaccard(F.col("l.ng"), F.col("r.ng")), 6).alias(
                "jaccard"
            ),
        )
    )


def q_tokens_minhash(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash sketch over token-id shingles (the streaming dedup calc of
    the bench pipeline) on the deterministic F1 token table."""
    from bistro_spark.operators.dedup import token_minhash

    return token_table_fast(spark, TOKENS_N, partitions=4).select(
        "doc_id",
        F.concat_ws(
            ",", token_minhash("tokens", k=4).cast("array<string>")
        ).alias("sig"),
    )


def q_ann_cosine_topk_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """LSH-bucketed approximate top-k. The hyperplane buckets are
    closed-form (deterministic Weyl matrix), so the oracle recomputes the
    identical buckets in DuckDB and verifies the bucket-restricted top-k
    exactly; recall vs the exact twin is asserted separately in tests."""
    from bistro_spark.operators.similarity import cosine_topk_lsh

    emb = load_table(spark, "embeddings", sf)
    queries_df = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return cosine_topk_lsh(emb, queries_df, k=5)


def q_ewma_user_value(spark: SparkSession, sf: str) -> DataFrame:
    """Order-dependent accumulate (reference accu folds in arrival order —
    ColumnDefinitionAccu.java#evaluate): EWMA of value per user over
    (ts, event_id) order, via the grouped-map numpy closed form. Oracle =
    the same closed form in SQL (x_0 seeds, adjust=False convention)."""
    from bistro_spark.streaming.state import ewma_batch

    ev = load_table(spark, "events", sf).withColumn(
        "ord",
        F.expr("unix_timestamp(ts) * 1000000 + event_id").cast("long"),
    )
    out = ewma_batch(ev, ["user_id"], "value", order_col="ord", alpha=0.1)
    return out.select(
        "user_id", F.round("ewma", 6).alias("ewma"), "n"
    )


def q_multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal plumbing: synthetic binary media table → mapInPandas
    feature extraction. The payload bytes derive from sha2(hex(id)), which
    DuckDB reproduces exactly — so n_bytes/mean_byte are hash-verified;
    only the pseudo-embedding (stubbed decode) is excluded from the
    contract columns."""
    from bistro_spark.operators.multimodal import extract_features, synthetic_media

    media = synthetic_media(spark, 200)
    out = extract_features(media, fake_decode=True)
    return out.select("media_id", "kind", "n_bytes", "mean_byte")


def q_ann_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF top-k in the full-probe configuration (n_probe = n_lists): every
    list is searched, so the assignment + probe machinery must reproduce
    the brute-force top-k exactly — hash-verified against the same SQL
    oracle as ann_cosine_topk. (Partial-probe recall is asserted vs the
    exact twin in pytest; the fit is sample-capped and the returned
    centroid index is reusable across calls.)"""
    from bistro_spark.operators.similarity import ivf_topk

    emb = load_table(spark, "embeddings", sf)
    queries_df = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out, _centroids = ivf_topk(emb, queries_df, k=5, n_lists=8, n_probe=8)
    return out


def q_partition_lineage(spark: SparkSession, sf: str) -> DataFrame:
    """Per-partition lineage rollup (north-rule lineage surface; rows-only:
    physical partition ids are engine-internal by definition): every output
    row traces to (read partition, input file, offset range)."""
    from bistro_spark.streaming.metrics import (
        partition_lineage_summary,
        stamp_lineage,
    )

    docs = load_table(spark, "documents", sf)
    return partition_lineage_summary(stamp_lineage(docs), ofs_col="doc_id")


# ----------------------------------------------- streaming window shapes --

_DEC_SUM = "cast(sum(cast(value as decimal(20,6))) as double)"


def q_tumbling_window_events(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling-window accumulate per event_type (F.window 1 hour) — the
    streaming operator evaluated on a batch frame (identical semantics)."""
    from bistro_spark.streaming.windows import tumbling_window_accu

    ev = load_table(spark, "events", sf).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = tumbling_window_accu(
        ev, "ts", "1 hour", ["event_type"],
        {"n_events": "count(*)", "sum_value": _DEC_SUM},
    )
    return out.select(
        F.unix_timestamp("window_start").alias("ws"),
        "event_type", "n_events", "sum_value",
    )


def q_sliding_window_events(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding-window accumulate (2h window, 1h slide) per event_type."""
    from bistro_spark.streaming.windows import sliding_window_accu

    ev = load_table(spark, "events", sf).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = sliding_window_accu(
        ev, "ts", "2 hours", "1 hour", ["event_type"],
        {"n_events": "count(*)", "sum_value": _DEC_SUM},
    )
    return out.select(
        F.unix_timestamp("window_start").alias("ws"),
        "event_type", "n_events", "sum_value",
    )


def q_session_window_events(spark: SparkSession, sf: str) -> DataFrame:
    """Session-window accumulate per user (6-hour gap) — the north-rule
    extension beyond the reference; oracle = gaps-and-islands SQL."""
    from bistro_spark.streaming.windows import session_window_accu

    ev = load_table(spark, "events", sf).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = session_window_accu(
        ev, "ts", "6 hours", ["user_id"],
        {"n_events": "count(*)", "sum_value": _DEC_SUM},
    )
    return out.select(
        F.unix_timestamp("window_start").alias("ws"),
        F.unix_timestamp("window_end").alias("we"),
        "user_id", "n_events", "sum_value",
    )


def q_link_asof(spark: SparkSession, sf: str) -> DataFrame:
    """As-of link (temporal link column): each purchase event gains the
    value + timestamp of the same user's most recent prior click within
    1 hour (miss → nulls). Join-free plan — tag-union, ONE key shuffle,
    running last(ignorenulls) frame; oracle mirrors the same
    union+window formulation (DuckDB IGNORE NULLS)."""
    from bistro_spark.operators.temporal import link_asof

    ev = load_table(spark, "events", sf)
    purchases = ev.filter("event_type = 'purchase'").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter("event_type = 'click'").select("user_id", "ts", "value")
    out = link_asof(
        purchases, clicks, on="user_id", bring=("value",), horizon_s=3600.0
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.round("asof_value", 6).alias("asof_value"),
        "asof_ts",
    )


def q_cep_pattern(spark: SparkSession, sf: str) -> DataFrame:
    """CEP follow-pattern: per user, each view event matched to its FIRST
    purchase within 4 hours (time-bucketed join — candidates bounded
    per horizon window, never per-key quadratic; first-B via
    partial-aggregatable min(struct), no window function)."""
    from bistro_spark.operators.temporal import cep_followed_by

    ev = load_table(spark, "events", sf)
    return cep_followed_by(
        ev, type_a="view", type_b="purchase", horizon_s=14400.0
    )


def q_length_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot drift (pipeline health): per-source L1 distance between
    old/new log2-length-bucket shares, old/new = even/odd doc_id (the
    repo's cross-snapshot convention). Exact integer-fraction arithmetic;
    buckets via integer bin()-length, never float log2."""
    from bistro_spark.operators.drift import length_drift

    docs = load_table(spark, "documents", sf)
    return length_drift(
        docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")
    )


def q_token_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot drift, vocabulary view: per-source share of new-snapshot
    token occurrences unseen in the old snapshot's group vocabulary (the
    old side reduces to distinct (group, term) — vocabulary-scale)."""
    from bistro_spark.operators.drift import token_novelty

    docs = load_table(spark, "documents", sf)
    return token_novelty(
        docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")
    )


def q_bpe_encode(spark: SparkSession, sf: str) -> DataFrame:
    """Learned-subword (BPE) tokenization: train 200 merges on the corpus
    word-frequency table (one distributed agg + deterministic driver
    merge loop), encode every document via the memoized Arrow kernel.
    Rows-only by design: BPE encoding is an iterative per-word fixpoint —
    not expressible in set-oriented SQL — so correctness is pinned in
    pytest (reference-encoder parity, Sennrich worked example, round-trip
    losslessness, cluster-shape invariance) instead of a DuckDB twin."""
    from bistro_spark.operators.bpe import bpe_encode, bpe_train

    docs = load_table(spark, "documents", sf).select("doc_id", "text")
    merges = bpe_train(docs, n_merges=200)
    return bpe_encode(docs, merges)


def q_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Semantic dedup (SemDeDup, Abbas et al. 2023): deterministic-centroid
    cluster assignment (map-only Arrow GEMM), then within-cluster
    keep-first pruning at cosine >= 0.95 via ONE shuffle on cluster id +
    per-cluster in-memory GEMM. Corpus = embeddings ∪ exact copies of the
    first 20 vectors (the embedding_neardup premise), so planted copies
    land in the copied row's cluster and must be flagged. Unlike the LSH
    queries this needs no recall premise — both engines enumerate every
    within-cluster pair exactly."""
    from bistro_spark.operators.similarity import semdedup

    emb = load_table(spark, "embeddings", sf).select("vec_id", "embedding")
    dups = emb.filter("vec_id < 20").withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    return semdedup(emb.unionByName(dups), threshold=0.95)


def q_classifier_score(spark: SparkSession, sf: str) -> DataFrame:
    """Hashed linear quality classifier (fastText-style): unigram+bigram
    md5-hashed integer weights, exact integer logit sum, sigmoid score —
    zero shuffle, zero Python, one Catalyst map stage."""
    from bistro_spark.operators.text import classifier_score

    return classifier_score(load_table(spark, "documents", sf))


def q_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Heavy hitters: every word with frequency > N/(k+1), exactly, via
    per-partition Misra-Gries summaries (mapInPandas, vectorized
    mergeable-summary rule) + exact recount of the bounded candidate set.
    The sketch can't drop a qualifying word (MG bound) and the recount
    kills false positives, so the oracle is the plain GROUP BY/HAVING
    definition — no recall premise. At 100 TB this replaces a
    full-vocabulary shuffle with a k*partitions-bounded candidate join."""
    from bistro_spark.operators.text import heavy_hitters

    return heavy_hitters(load_table(spark, "documents", sf), k=50)


def q_bpe_encode_fixed(spark: SparkSession, sf: str) -> DataFrame:
    """BPE encode under the FIXED merge table — the hash-checkable half
    of the tokenizer: same memoized Arrow encode path as bpe_encode, but
    the merges are a constant with the creation-order property, so a
    DuckDB recursive CTE can replay the merge fixpoint exactly (leftmost
    best-ranked merge per step == the all-occurrences pass; see
    bpe.bpe_encode_fixed_sql). Training's data-dependent merges stay
    pytest-pinned on the separate rows-only bpe_encode query."""
    from bistro_spark.operators.bpe import FIXED_MERGES, bpe_encode

    docs = load_table(spark, "documents", sf).select("doc_id", "text")
    return bpe_encode(docs, FIXED_MERGES)


def q_length_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence-length histogram with the padding bill: per (source,
    pow2-bucket) token-length bucket, sequence count, exact payload and
    the padding waste a pad-to-bucket trainer would pay — the
    pad-vs-pack decision artifact. Bucketing is integer bin()-length
    (never float log2); one partial agg over the encode projection,
    output bounded by sources × 64 buckets."""
    from bistro_spark.operators.curation import length_buckets
    from bistro_spark.operators.ranking import build_vocab, encode_tokens

    docs = load_table(spark, "documents", sf)
    enc = encode_tokens(docs, build_vocab(docs))
    with_src = enc.join(docs.select("doc_id", "source"), "doc_id")
    return length_buckets(with_src)


def q_pack_capacity_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy-packing efficiency across candidate context lengths in ONE
    corpus pass: per (capacity, shard), pack count / exact payload /
    padding waste / oversize overflows / fill ratio — the
    capacity-sizing report a 100 TB packing run prints before choosing
    a context length. The applyInPandas kernel replays the greedy fold
    per capacity over the shard's in-memory length vector (extra
    capacities cost numpy loops, not corpus passes); the oracle replays
    each capacity's fold as its own recursive CTE."""
    from bistro_spark.operators.curation import pack_capacity_sweep
    from bistro_spark.operators.ranking import build_vocab, encode_tokens

    docs = load_table(spark, "documents", sf)
    enc = encode_tokens(docs, build_vocab(docs))
    return pack_capacity_sweep(enc, capacities=(128, 256, 512, 1024))


def q_wordpiece_encode_fixed(spark: SparkSession, sf: str) -> DataFrame:
    """WordPiece (BERT-family) encode under the FIXED vocabulary — the
    third tokenizer family next to BPE and unigram-LM: greedy
    longest-match-first per word with whole-word [UNK] fallback, one
    map-only memoized Arrow stage. Greedy matching is deterministic (the
    longest piece at a cursor is unique), so unlike BPE's iterative
    fixpoint the ENTIRE encode is hash-checkable: the DuckDB twin
    replays the cursor walk as a recursive CTE with a NOT-EXISTS
    longest-match guard (wordpiece.wordpiece_encode_fixed_sql). Training
    (likelihood-gain merges over the distributed word-frequency table)
    is data-dependent and stays pytest-pinned."""
    from bistro_spark.operators.wordpiece import FIXED_WORDPIECE_VOCAB, wordpiece_encode

    docs = load_table(spark, "documents", sf).select("doc_id", "text")
    return wordpiece_encode(docs, FIXED_WORDPIECE_VOCAB)


def q_wordpiece_fertility(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source fertility of the WORDPIECE tokenizer — completes the
    three-family bake-off grid (BPE `fertility`, `unigram_fertility`):
    same one-map-stage + one-partial-agg shape, group-cardinality
    output."""
    from bistro_spark.operators.wordpiece import wordpiece_fertility

    return wordpiece_fertility(load_table(spark, "documents", sf))


def q_unigram_encode_fixed(spark: SparkSession, sf: str) -> DataFrame:
    """Unigram-LM (SentencePiece-family, Kudo 2018) encode under the
    FIXED integer-scored vocabulary — the hash-checkable half of BPE's
    sibling tokenizer: Viterbi best segmentation per word in one
    map-only memoized Arrow stage; integer scores make the total
    order-independent, so the DuckDB enumeration oracle (argmax over ALL
    segmentations of each DISTINCT word type) is an exact twin. Training
    (distributed E-step / driver M-step EM) is data-dependent and stays
    pytest-pinned, mirroring the bpe_encode / bpe_encode_fixed split."""
    from bistro_spark.operators.unigram import FIXED_UNIGRAM_VOCAB, unigram_encode

    docs = load_table(spark, "documents", sf).select("doc_id", "text")
    return unigram_encode(docs, FIXED_UNIGRAM_VOCAB)


def q_unigram_fertility(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source fertility of the UNIGRAM tokenizer (pieces/word,
    chars/piece, pieces/doc) — the bake-off twin of the BPE `fertility`
    report: same one-map-stage + one-groupBy shape, so comparing the two
    tokenizer families' token cost per corpus slice costs two map-only
    passes, not a pipeline rebuild."""
    from bistro_spark.operators.unigram import unigram_fertility

    return unigram_fertility(load_table(spark, "documents", sf))


def q_tokenizer_bakeoff(spark: SparkSession, sf: str) -> DataFrame:
    """The tokenizer decision artifact: per-source fertility of all
    THREE learned-subword families (BPE, unigram-LM, WordPiece) side by
    side, with relative token-cost deltas against the BPE anchor — the
    numbers that pick a tokenizer before committing a token budget.
    Three map-only Arrow encodes + three source-bounded partial aggs +
    one report-sized join; at 100 TB this is exactly three corpus passes
    (each fused encode+count), never a re-tokenization per comparison."""
    from bistro_spark.operators.bpe import fertility_stats
    from bistro_spark.operators.unigram import unigram_fertility
    from bistro_spark.operators.wordpiece import wordpiece_fertility

    docs = load_table(spark, "documents", sf)
    b = fertility_stats(docs).select(
        "source",
        F.col("n_words"),
        F.col("n_pieces").alias("bpe_pieces"),
        F.col("fertility").alias("bpe_fertility"),
    )
    u = unigram_fertility(docs).select(
        "source",
        F.col("n_pieces").alias("uni_pieces"),
        F.col("fertility").alias("uni_fertility"),
    )
    w = wordpiece_fertility(docs).select(
        "source",
        F.col("n_pieces").alias("wp_pieces"),
        F.col("fertility").alias("wp_fertility"),
    )
    return b.join(u, "source").join(w, "source").select(
        "source",
        "n_words",
        "bpe_pieces",
        "uni_pieces",
        "wp_pieces",
        "bpe_fertility",
        "uni_fertility",
        "wp_fertility",
        F.round(
            (F.col("uni_pieces") - F.col("bpe_pieces"))
            / F.col("bpe_pieces"),
            6,
        ).alias("uni_vs_bpe_cost"),
        F.round(
            (F.col("wp_pieces") - F.col("bpe_pieces"))
            / F.col("bpe_pieces"),
            6,
        ).alias("wp_vs_bpe_cost"),
    )


def q_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Gaps-and-islands sessionization over the events stream (30-min
    gap): one shuffle on user_id serves the lag flag, the running
    session index, AND the per-session rollup (the groupBy's clustering
    is satisfied by the window's hash partitioning). Integer-µs time
    math; decimal-exact value sums."""
    from bistro_spark.operators.temporal import sessionize

    return sessionize(load_table(spark, "events", sf), gap_s=1800.0)


def q_transition_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transitions over per-user event streams: the
    lag window shares sessionize's single key shuffle; the (from, to)
    rollup is one partial agg bounded by #event-types^2."""
    from bistro_spark.operators.temporal import transition_matrix

    return transition_matrix(load_table(spark, "events", sf))


def q_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly cohort-retention triangle over the events stream: exact
    integer epoch-weeks (no calendar week-start disputes), two
    co-partitioned key-level aggs + one triangle-bounded rollup."""
    from bistro_spark.operators.temporal import cohort_retention

    return cohort_retention(load_table(spark, "events", sf))


def q_vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary-size sizing curve: share of token occurrences covered
    by the top-k terms at log-spaced k. Two-phase ranked vocab ->
    integer bin()-length log2 buckets -> one partial agg to <=64 rows;
    the cumsum window runs over those rows only (log-bounded by
    construction, never vocabulary-sized)."""
    from bistro_spark.operators.ranking import vocab_coverage

    return vocab_coverage(load_table(spark, "documents", sf))


def q_oov_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source OOV rate under a top-10 vocabulary — the per-slice
    companion to vocab_coverage (corpus coverage can look fine while one
    slice is half-OOV). Broadcast k-term vocab onto the exploded corpus,
    one partial-agg groupBy per source. k=10 because the synthetic
    corpus has a ~31-term vocabulary — the cap must bite to exercise
    the OOV path."""
    from bistro_spark.operators.ranking import oov_rate

    return oov_rate(load_table(spark, "documents", sf), k=10)


PIVOT_LANGS = ["de", "en", "es", "fr", "zh"]  # fixed corpus lang domain


def q_rollup_report(spark: SparkSession, sf: str) -> DataFrame:
    """Hierarchical (source, lang) rollup — cell, subtotal, grand total
    in ONE shuffle via Spark's native rollup grouping sets; '(all)'
    labels from grouping() so NULL data can't collide with subtotals."""
    from bistro_spark.operators.olap import rollup_report

    return rollup_report(load_table(spark, "documents", sf))


def q_pivot_report(spark: SparkSession, sf: str) -> DataFrame:
    """Source × lang cross-tab via native pivot with an EXPLICIT value
    list (data-independent schema, no blind distinct scan) — one
    partial-aggregated shuffle on source."""
    from bistro_spark.operators.olap import pivot_report

    return pivot_report(load_table(spark, "documents", sf), values=PIVOT_LANGS)


def q_decile_report(spark: SparkSession, sf: str) -> DataFrame:
    """Equal-population length deciles WITHOUT ntile: bucket =
    (rank-1)·10 DIV N over the two-phase global_rank — no single-reducer
    sort; identical boundaries to the oracle's row_number formula."""
    from bistro_spark.operators.olap import decile_report

    return decile_report(load_table(spark, "documents", sf))


def q_token_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source Shannon entropy of the term distribution — template
    spam vs varied prose. Exact counts; c·ln(c) rounded to 9 digits and
    decimal-summed (order-independent cross-engine)."""
    from bistro_spark.operators.olap import token_entropy

    return token_entropy(load_table(spark, "documents", sf))


def q_signal_correlations(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source Pearson(n_chars, word count) from exact BIGINT/decimal
    sufficient statistics in one partial-agg pass — float appears only
    in the final assembled expression."""
    from bistro_spark.operators.olap import signal_correlations

    return signal_correlations(load_table(spark, "documents", sf))


def q_load_heatmap(spark: SparkSession, sf: str) -> DataFrame:
    """Hour-of-week load heatmap: ONE partial-agg groupBy to ≤168 rows,
    pure integer epoch DIV/mod time math (no calendar layer), exact
    decimal value sums."""
    from bistro_spark.operators.temporal import load_heatmap

    return load_heatmap(load_table(spark, "events", sf))


def q_collocations_pmi(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 adjacent-word PMI collocations: linear pair explode, two
    partial-agg groupBys, broadcast unigram counts, distributed top-k
    (TakeOrderedAndProject) ranked on exact (count, pair) keys — PMI is
    a round-6 report column."""
    from bistro_spark.operators.text import collocations_pmi

    return collocations_pmi(load_table(spark, "documents", sf))


FUNNEL_STEPS = ["signup", "view", "click", "purchase", "error"]


def q_funnel_conversion(spark: SparkSession, sf: str) -> DataFrame:
    """5-step first-touch funnel over the events stream: per-key
    min-struct cascade, co-partitioned joins after one key shuffle,
    struct-total-order tie-breaks identical across engines."""
    from bistro_spark.operators.temporal import funnel_conversion

    return funnel_conversion(load_table(spark, "events", sf), steps=FUNNEL_STEPS)


def q_expanding_zscore(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event anomaly score vs the key's own strictly-prior history
    (prior-exclusive expanding window — the only form an exactly-once
    streaming scorer can reproduce). One key shuffle; exact decimal
    running sums; z assembled in one final double expression."""
    from bistro_spark.operators.temporal import expanding_zscore

    return expanding_zscore(load_table(spark, "events", sf))


def q_length_gini(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source Gini of the length distribution via ONE global
    two-phase rank minus broadcast group offsets — no per-group window
    (a 20-source corpus would push corpus/20 through single tasks)."""
    from bistro_spark.operators.olap import length_gini

    return length_gini(load_table(spark, "documents", sf))


def q_ks_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source exact two-sample KS statistic vs the rest of the
    corpus: integer-only max/argmax over a dimension-sized
    (source × length) CDF grid — one corpus-reducing partial agg, no
    float in any aggregate or comparison."""
    from bistro_spark.operators.olap import ks_drift

    return ks_drift(load_table(spark, "documents", sf))


def q_source_kl(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source KL divergence of the word-unigram distribution from
    the corpus distribution: round-9 decimal contribution sums over the
    (source, term) grid (token_entropy's float discipline), vocab-sized
    shuffle only, group totals broadcast."""
    from bistro_spark.operators.olap import source_kl

    return source_kl(load_table(spark, "documents", sf))


def q_contingency_report(spark: SparkSession, sf: str) -> DataFrame:
    """χ² contingency of language × log₂-length-bucket: exact bit-length
    buckets, one partial-agg groupBy to the ≤|langs|×|buckets| grid,
    margins as grid-sized window sums, expected/contrib as single
    round-6 double expressions per cell."""
    from bistro_spark.operators.olap import contingency_report

    return contingency_report(load_table(spark, "documents", sf))


def q_minhash_calibration(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-vs-exact-Jaccard calibration curve over the LSH candidate
    set: the data-driven banding audit. Candidate-bounded joins, per-pair
    O(k+|ngrams|) work, round-9 decimal bucket sums."""
    from bistro_spark.operators.dedup import minhash_calibration

    return minhash_calibration(_dup_corpus(spark, sf), k=16, bands=2)


def q_winsorized_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source winsorized vs raw mean length: round-6 exact-percentile
    clip bounds broadcast into one clip+decimal-sum pass (approx-sketch
    variant is the 100 TB path, pytest-pinned within tolerance)."""
    from bistro_spark.operators.curation import winsorized_stats

    return winsorized_stats(load_table(spark, "documents", sf))


def q_spine_growth(spark: SparkSession, sf: str) -> DataFrame:
    """Calendar-spine gap-filled daily series per event type with
    day-over-day growth: the fact table collapses in ONE partial-agg
    groupBy to the (type, day) grid; the integer epoch-day spine,
    bounds, distinct types, broadcast fill join, and per-type lag all
    run on grid-sized data only."""
    from bistro_spark.operators.temporal import activity_spine

    return activity_spine(load_table(spark, "events", sf))


def q_cross_perplexity(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source unigram-LM score matrix (which slices predict each
    other): level-set algebra only — one corpus shuffle, shared-term
    level-set join, broadcast scalars, decimal-exact sums."""
    from bistro_spark.operators.curation import cross_perplexity

    return cross_perplexity(load_table(spark, "documents", sf))


def q_corpus_health(spark: SparkSession, sf: str) -> DataFrame:
    """One-stop per-source corpus health dashboard row: volume +
    duplication + entropy + Zipf alpha + decimal-exact mean quality,
    joined from the engine's own report operators (report-sized
    broadcast joins)."""
    from bistro_spark.operators.olap import corpus_health

    return corpus_health(load_table(spark, "documents", sf))


def q_zipf_alpha(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source Zipf exponent (Clauset et al. discrete MLE, x_min=1):
    token_entropy's shuffle shape, round-9 decimal-summed ln terms —
    order-independent across engines and cluster shapes."""
    from bistro_spark.operators.olap import zipf_alpha

    return zipf_alpha(load_table(spark, "documents", sf))


def q_quantize_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """Audited symmetric int8 embedding quantization: map-only codegen
    projection (no shuffle, no Python), per-vector scale + max
    reconstruction error."""
    from bistro_spark.operators.similarity import quantize_embeddings

    return quantize_embeddings(load_table(spark, "embeddings", sf))


def q_ingest_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """Third composed pipeline (ingest-side): PII scrub → length +
    quality gates → exact-dedup survivors → per-source audit report,
    ONE lazy plan: a single corpus scan, all map stages fused by
    codegen, then exactly two shuffles (the dedup groupBy on text, the
    report agg) — plan-pinned. Survivor choice is min(struct) — a
    partial-aggregatable reduction, no window on the content key."""
    from bistro_spark.operators.text import (
        quality_score,
        redact_pii,
        synth_pii,
        word_count,
    )

    base = load_table(spark, "documents", sf)
    dups = base.filter("doc_id < 20").withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    docs = base.unionByName(dups).select(
        "doc_id",
        "source",
        # synth keyed on doc_id % 100000 so an injected duplicate gets
        # IDENTICAL pii-bearing text to its original (dedup must fire)
        synth_pii(F.col("doc_id") % 100000, "text").alias("text"),
    )
    # gates evaluate the RAW content (scrub tokens would distort the
    # stopword/word-length metrics) — and Catalyst then inlines the
    # regexp chain only into the redaction outputs, not into every
    # quality reference (measured 4.8 -> ~2 s at sf0.1)
    clean = redact_pii(
        docs.withColumn("_nw", word_count("text").cast("long"))
        .withColumn("_q", quality_score("text"))
    )
    nred = (
        F.col("n_redact_email")
        + F.col("n_redact_phone")
        + F.col("n_redact_ipv4")
    ).cast("long")
    enriched = clean.select(
        "doc_id", "source", nred.alias("_nred"), "_nw", "_q", "text"
    )
    gated = enriched.filter((F.col("_nw") >= 20) & (F.col("_q") >= 1.05))
    surv = gated.groupBy("text").agg(
        F.min(F.struct("doc_id", "source", "_nred", "_nw")).alias("s")
    )
    return surv.groupBy(F.col("s.source").alias("source")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("s._nred").cast("long").alias("n_redactions"),
        F.sum("s._nw").cast("long").alias("total_words"),
    )


def q_ann_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Recall@5 of the LSH ANN path against the exact top-k — the ANN
    family's self-audit (the number a 100 TB operator watches before
    trusting the bucketed path), fully hash-checkable because BOTH
    sides are deterministic: exact brute-force top-k and closed-form
    Weyl-bucket LSH. Join cost is (queries x k) rows — audit-sized."""
    ex = q_ann_cosine_topk(spark, sf)
    ls = q_ann_cosine_topk_lsh(spark, sf).select(
        "query_id", "vec_id", F.lit(1).alias("_hit")
    )
    return (
        ex.join(ls, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.coalesce(F.sum("_hit"), F.lit(0))
            .cast("long")
            .alias("n_hit"),
            F.round(
                F.coalesce(F.sum("_hit"), F.lit(0)) / F.count(F.lit(1)),
                6,
            ).alias("recall"),
        )
    )


def _ann_queries_df(emb: DataFrame) -> DataFrame:
    return emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )


def q_ann_l2_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Exact integer squared-L2 top-5 — PQ's ground truth (PQ
    approximates L2, not cosine). Vectors integer-quantized at 10^6 so
    the ranking key is exact BIGINT: no rounding anywhere, cross-engine
    verbatim. Same no-shuffle plan shape as the cosine baseline."""
    from bistro_spark.operators.similarity import l2_topk

    emb = load_table(spark, "embeddings", sf)
    return l2_topk(emb, _ann_queries_df(emb), k=5)


def q_ann_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ADC top-5 (Jégou et al. 2011): md5-bottom-16
    sampled codebook, per-subspace exact-int argmin codes (8 bytes/vec —
    32× smaller than the float32 vectors at 100 TB), per-query lookup
    tables summed over codes. Map-only scoring over the code column;
    everything that ranks is exact BIGINT, so the DuckDB oracle
    reproduces codes and ranking verbatim."""
    from bistro_spark.operators.similarity import pq_topk

    emb = load_table(spark, "embeddings", sf)
    return pq_topk(emb, _ann_queries_df(emb), k=5, m=8, n_codes=16)


def q_pq_distortion_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """PQ sizing artifact: reconstruction distortion per candidate
    subspace count m in ONE corpus pass (grid multiplies kernel output
    rows per vector, never corpus passes) — the m/n_codes decision
    before a 100 TB re-encode. Exact int64 distortions; the mean is one
    exact-int division rounded to 6."""
    from bistro_spark.operators.similarity import pq_distortion_sweep

    return pq_distortion_sweep(
        load_table(spark, "embeddings", sf), m_list=(4, 8, 16), n_codes=16
    )


def q_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Contrastive pair mining: per anchor, the 5 nearest different-
    label rows (hard negatives) and 5 nearest same-label rows excluding
    self (hard positives), exact integer squared-L2 — the training-pair
    generator for embedding-model fine-tuning. One corpus pass, no
    corpus shuffle, audit-sized final rank."""
    from bistro_spark.operators.similarity import contrastive_topk

    emb = load_table(spark, "embeddings", sf)
    anchors = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    return contrastive_topk(emb, anchors, k=5)


def q_pq_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Recall@5 of the PQ/ADC path against the exact integer-L2 top-k —
    the self-audit a 100 TB operator watches before trusting the 32×-
    compressed index (the ann_recall pattern, measured against PQ's own
    metric). Join cost is (queries × k) rows — audit-sized."""
    ex = q_ann_l2_topk(spark, sf)
    ap = q_ann_pq_topk(spark, sf).select(
        "query_id", "vec_id", F.lit(1).alias("_hit")
    )
    return (
        ex.join(ap, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.coalesce(F.sum("_hit"), F.lit(0))
            .cast("long")
            .alias("n_hit"),
            F.round(
                F.coalesce(F.sum("_hit"), F.lit(0)) / F.count(F.lit(1)),
                6,
            ).alias("recall"),
        )
    )


def q_pii_redact(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrub gate: deterministic synthetic PII (the corpus has
    none) injected with the same expression on both engines, then the
    pure-codegen regexp_replace redaction chain with per-kind counts
    taken on the progressively scrubbed text. Entirely JVM-side at any
    scale (no Python, no shuffle — map-only)."""
    from bistro_spark.operators.text import redact_pii, synth_pii

    docs = load_table(spark, "documents", sf).select(
        "doc_id", synth_pii("doc_id", "text").alias("text")
    )
    out = redact_pii(docs)
    return out.select(
        "doc_id",
        *[
            F.col(f"n_redact_{k}").cast("long").alias(f"n_redact_{k}")
            for k in ("email", "phone", "ipv4")
        ],
        "text",
    )


def q_cardinality_report(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source cardinality profile, exact path (EXPAND + two-level
    partial agg: the shuffle carries the per-group value level set).
    The HLL++ sketch path shares the schema; pytest bounds its error."""
    from bistro_spark.operators.olap import cardinality_report

    return cardinality_report(load_table(spark, "documents", sf))


def q_signal_calibration(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source midrank quantile calibration of n_chars: level-set
    collapse + group-partitioned windows over the level set only +
    broadcast map-back — no per-group corpus sort. Oracle is the
    definitional row-level window form."""
    from bistro_spark.operators.curation import calibrate_signal

    return calibrate_signal(load_table(spark, "documents", sf))


def q_centroid_similarity(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise cosine between per-label embedding centroids, decimal-
    exact end-to-end (one corpus pass; everything downstream is
    dimension-sized and broadcast)."""
    from bistro_spark.operators.similarity import centroid_similarity

    return centroid_similarity(load_table(spark, "embeddings", sf))


def q_pareto_frontier(spark: SparkSession, sf: str) -> DataFrame:
    """Skyline selection over (n_chars, word count), both maximized: the
    corpus collapses to its distinct-x level set in one partial agg,
    the strict-prefix max runs two-phase over the level set (no global
    window, driver sees #partitions rows), survivors broadcast back.
    Oracle is the definitional NOT EXISTS dominance anti-join."""
    from bistro_spark.operators.curation import pareto_frontier

    return pareto_frontier(load_table(spark, "documents", sf))


def q_rrf_fusion(spark: SparkSession, sf: str) -> DataFrame:
    """Reciprocal-rank-fusion quality ensemble (Cormack & Clarke, k=60)
    over three incomparable signals: every rank computes by value-level
    collapse + broadcast map-back — the corpus is never globally sorted.
    Oracle is the definitional single-window RANK() form."""
    from bistro_spark.operators.ranking import rrf_fusion

    return rrf_fusion(load_table(spark, "documents", sf))


def q_dsir_weights(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023) toward the English
    slice: hashed-ngram bag-of-words log-likelihood ratio per document.
    Fit = one partial-aggregated groupBy down to 64 bucket rows; score =
    zero-shuffle Catalyst map stage with the integer-frozen log-ratio
    table shipped as a literal array (exact order-independent BIGINT
    sums — the repo's float discipline)."""
    from bistro_spark.operators.curation import dsir_logweights

    return dsir_logweights(load_table(spark, "documents", sf), "lang = 'en'")


def q_dsir_select(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR resampling: Gumbel-top-k draw of 200 raw docs proportional
    to their importance weight — deterministic (Gumbel noise from the
    doc id's md5) and oracle-exact (the perturbed sort key is an exact
    BIGINT, never a raw double; TakeOrderedAndProject, no global sort)."""
    from bistro_spark.operators.curation import dsir_select

    return dsir_select(
        load_table(spark, "documents", sf), "lang = 'en'", n=200
    )


def q_fertility(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source tokenizer fertility (pieces/word, chars/piece): the
    tokenizer × mixture sanity report — a slice whose fertility is 2×
    the rest silently doubles its effective token cost under any token
    budget. One map-only Arrow encode stage (word/char counts ride the
    same projection via bpe_encode(keep=...), no id re-join) into one
    partial-aggregated source-cardinality groupBy."""
    from bistro_spark.operators.bpe import fertility_stats

    return fertility_stats(load_table(spark, "documents", sf))


def q_source_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-overlap audit: exact pairwise n-gram Jaccard between every
    pair of sources, computed without joining data to data — each distinct
    gram is reduced to a G-bit membership mask (one bit_or shuffle with
    map-side combine), the mask histogram is bounded by 2^G rows
    independent of corpus size, and the G*(G-1)/2 pair list is broadcast
    against it. The classic formulation self-joins the (source, gram)
    relation on gram — a shuffle whose output multiplies with co-occurring
    sources; this one never does."""
    from bistro_spark.operators.dedup import source_overlap

    return source_overlap(load_table(spark, "documents", sf), n=3)


def q_pack_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Packing-efficiency audit: per shard, how full the fixed-capacity
    packed training sequences are (payload vs padded waste, min/max pack
    fill). Every wasted slot is a padding token the trainer pays
    attention-FLOPs for — the report a 100 TB packing run prints before
    anyone trains on it. One shard-cardinality partial agg over the same
    materialized-pack pipeline as shard_manifest."""
    from bistro_spark.operators.curation import (
        materialize_packs,
        pack_sequences,
        pack_stats,
    )
    from bistro_spark.operators.ranking import build_vocab, encode_tokens

    docs = load_table(spark, "documents", sf)
    enc = encode_tokens(docs, build_vocab(docs))
    packed = pack_sequences(enc, len_col="n_tok", capacity=256, n_shards=4)
    return pack_stats(materialize_packs(packed, enc), capacity=256)


def q_dup_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source EXACT-duplicate matrix: distinct document contents
    shared by each source pair — the whole-document companion to
    source_overlap's fuzzy n-gram Jaccard ("source A republishes source
    B" shows up here even when fuzzy overlap dilutes it away). One
    map-only md5 projection, one partial-aggregated bit_or shuffle, and
    a 2^G-bounded mask histogram against the broadcast pair list —
    never a content-keyed self-join."""
    from bistro_spark.operators.dedup import dup_matrix

    return dup_matrix(load_table(spark, "documents", sf))


def q_domain_quota(spark: SparkSession, sf: str) -> DataFrame:
    """Family composition: per-registered-domain quota — canonicalize URLs
    (map-only web stage), then cap any one domain's share keeping its
    longest documents (two-phase window top-n from the selection family).
    The RefinedWeb per-site cap, running on the domain the web stage
    extracted rather than a precomputed label."""
    from bistro_spark.operators.curation import quota_per_group
    from bistro_spark.operators.web import with_normalized_urls

    docs = load_table(spark, "documents", sf).select("doc_id", "n_chars")
    dom = with_normalized_urls(docs).select("doc_id", "n_chars", "domain")
    return quota_per_group(dom, "domain", "n_chars", 20).select(
        "doc_id", "domain", "n_chars", "quota_rank"
    )


BM25_QUERIES = {0: ["spark", "stream"], 1: ["hash", "join", "table"],
                2: ["window", "batch"]}


def q_bm25_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Query-relevance selection: BM25 over whitespace terms, Lucene-form
    positive idf so 'matches' is the integer condition sum(tf) > 0 (floats
    never gate or order a row — score is a round-6 report column). ALL
    corpus statistics (N, total length, per-term df) reduce to ONE
    partial-aggregated broadcast row: one scan per query set, one
    single-row exchange, zero data-sized shuffles at any corpus size."""
    from bistro_spark.operators.text import bm25_scores

    return bm25_scores(load_table(spark, "documents", sf), BM25_QUERIES)


def q_manifest_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-version corpus comparison: diff the current corpus's shard
    integrity manifest against the STORED manifest snapshot of the
    previous version (old = 10% of docs removed — built once through the
    SAME encode->pack->materialize pipeline, persisted as a
    shard-cardinality parquet, then only SCANNED). A trainer re-reads
    only shards whose content fingerprint moved; at 100 TB the old side
    is a few KB of manifest, never a re-tokenization of last month's
    corpus. Stored-vs-recomputed equality is pinned by pytest."""
    import os

    from bistro_spark.operators.curation import (
        manifest_diff_stored,
        materialize_packs,
        pack_sequences,
        shard_manifest,
        store_manifest,
    )
    from bistro_spark.operators.ranking import build_vocab, encode_tokens

    docs = load_table(spark, "documents", sf)

    def manifest_for(d: DataFrame) -> DataFrame:
        enc = encode_tokens(d, build_vocab(d))
        packed = pack_sequences(enc, len_col="n_tok", capacity=256, n_shards=4)
        return shard_manifest(materialize_packs(packed, enc))

    import hashlib

    from pyspark import SparkFiles

    # the session's own temp dir: never the checkout, removed at stop
    snap = os.path.join(
        SparkFiles.getRootDirectory(),
        "manifest_snapshots",
        hashlib.md5(os.path.abspath(sf).encode()).hexdigest()[:12],
    )
    # snapshot the previous version once per (session, sf); later runs —
    # and the returned plan — see only the manifest-sized parquet scan
    if not getattr(q_manifest_diff, "_snapped", {}).get(snap):
        store_manifest(manifest_for(docs.filter("doc_id % 10 <> 0")), snap)
        q_manifest_diff._snapped = getattr(q_manifest_diff, "_snapped", {})
        q_manifest_diff._snapped[snap] = True
    return manifest_diff_stored(spark, snap, manifest_for(docs))


def q_cluster_sizes(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup-audit histogram: cluster-size distribution of the near-dup
    components (how many clusters of each size, how many docs they hold).
    Derived from the SAME cached cluster assignment as dedup_clusters /
    dedup_survivors — two extra tiny partial aggs, zero re-computation."""
    from bistro_spark.operators.dedup import cluster_size_histogram

    return cluster_size_histogram(_dedup_assignments(spark, sf))


def q_filter_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Drop-attribution funnel: each document charged to the FIRST curation
    gate it fails (length floor -> blocklist -> language allowlist ->
    quality floor), report bounded by #rules. One scan, the CASE chain
    fused into it, one partial-agg exchange — the audit a 100 TB curation
    run prints before training."""
    from bistro_spark.operators.curation import filter_funnel

    return filter_funnel(load_table(spark, "documents", sf))


def q_normalize_text(spark: SparkSession, sf: str) -> DataFrame:
    """Unicode sanitation (the CCNet/Gopher preprocessing step): NFC-compose
    combining sequences + collapse whitespace runs. The corpus is ASCII, so
    a deterministic de-normalizer (text.messy_text — decomposed e+U+0301,
    tab/double-space noise; same expression both engines) makes the gate
    exercise real composition. NFC is the one legitimately-Python kernel
    here (Catalyst has no Unicode database): ONE Arrow-batched stage,
    map-only; the oracle uses DuckDB's native nfc_normalize()."""
    from bistro_spark.operators.text import messy_text, normalize_text

    docs = load_table(spark, "documents", sf).select("doc_id", "text")
    messy = docs.withColumn("messy", messy_text("text"))
    return normalize_text(messy, "messy").select(
        "doc_id", "text_norm", F.length("text_norm").alias("n_chars_norm")
    )


def q_url_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """Web-curation canonicalization: parse + normalize a messy URL per
    document (lowercase scheme/host, www-strip, default-port strip,
    trailing-slash strip, utm_* removal, fragment drop) and extract the
    registered domain — ALL native Catalyst string/array codegen, zero
    Python, map-only (plan-asserted: no Exchange). The corpus has no URL
    column, so the URL is derived deterministically from doc_id with the
    same expression on both engines (see web.synth_url)."""
    from bistro_spark.operators.web import with_normalized_urls

    docs = load_table(spark, "documents", sf).select("doc_id")
    return with_normalized_urls(docs).select(
        "doc_id", "url", F.col("url_norm"), F.col("domain")
    ).withColumnRenamed("url", "url_raw")


def q_domain_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-registered-domain corpus composition after URL-level dedup:
    normalize → collapse crawl copies of one canonical URL (ONE partial-agg
    shuffle on url_norm) → per-domain pages/docs/dup-ratio (one more
    partial-agg shuffle; output bounded by #domains). The RefinedWeb-style
    per-site audit that precedes domain caps and blocklists."""
    from bistro_spark.operators.web import domain_stats

    return domain_stats(load_table(spark, "documents", sf).select("doc_id"))


def _file_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic synthetic data-file manifest derived from the
    documents table (partition = source, one file per 50-doc id range,
    bytes = the range's character payload) — the input shape an Iceberg
    manifest scan would provide a maintenance job."""
    docs = load_table(spark, "documents", sf)
    return docs.groupBy(
        F.col("source").alias("part"),
        F.expr("doc_id DIV 50").cast("long").alias("file_id"),
    ).agg(F.sum("n_chars").cast("long").alias("bytes"))


_MANIFEST_CTE = """files AS (
      SELECT source AS part, CAST(doc_id // 50 AS BIGINT) AS file_id,
             CAST(sum(n_chars) AS BIGINT) AS bytes
      FROM documents GROUP BY source, doc_id // 50
    ),"""


def q_compaction_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Lakehouse small-files compaction plan: per partition, greedily
    group manifest files (file_id order) into merge groups within the
    byte target — Iceberg rewrite_data_files planning as a deterministic,
    auditable fold (same no-split greedy as pack_sequences)."""
    from bistro_spark.operators.maintenance import compaction_plan

    return compaction_plan(
        _file_manifest(spark, sf), partition_col="part",
        target_bytes=32768,
    )


def q_compaction_report(spark: SparkSession, sf: str) -> DataFrame:
    """Compaction decision artifact: per-partition file counts before /
    after the plan, small-file pressure, byte totals — what an operator
    reads before paying for the rewrite."""
    from bistro_spark.operators.maintenance import compaction_report

    return compaction_report(
        _file_manifest(spark, sf), partition_col="part",
        target_bytes=32768,
    )


def q_heldout_perplexity(spark: SparkSession, sf: str) -> DataFrame:
    """LM generalization gate: deterministic md5 holdout, Laplace
    unigram LM fit on the rest, per-source held-out mean NLL + OOV rate
    — broadcast-join scoring, decimal-summed cross-engine equality."""
    from bistro_spark.operators.curation import heldout_perplexity

    return heldout_perplexity(load_table(spark, "documents", sf))


def q_mixture_schedule(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic data-mixing schedule: per-step per-source sequence
    allocation whose cumulative draw tracks the corpus mixture exactly
    (telescoping integer floors, overflow-safe q/r factorization); one
    count aggregate + a map-side step explode, output grid-sized."""
    from bistro_spark.operators.curation import mixture_schedule

    return mixture_schedule(
        load_table(spark, "documents", sf), n_steps=50, batch_size=1000
    )


def q_kneser_ney_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM score per document (D=0.75) —
    the smoothing family production perplexity filters deploy; four
    vocabulary-sized integer aggregates broadcast onto one pass over the
    bigram stream, decimal-summed for cross-engine equality."""
    from bistro_spark.operators.curation import kneser_ney_logprob

    return kneser_ney_logprob(load_table(spark, "documents", sf))


def q_ccnet_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style head/middle/tail perplexity tertiles per source over
    the corpus-fit Kneser-Ney score (Wenzek et al. 2020): NTILE(3) on
    (score DESC, doc_id) — bucket edges exact cross-engine because the
    score is rounded identically on both sides."""
    from bistro_spark.operators.curation import ccnet_buckets

    return ccnet_buckets(load_table(spark, "documents", sf))


def q_pack_segments(spark: SparkSession, sf: str) -> DataFrame:
    """Trainer-ready pack layout: per-pack segment arrays (doc_ids,
    offsets, seg_lens ordered by offset) + fill/pad token bill — the
    attention-mask/position-id boundaries a packed-attention training
    loader consumes; capacity-bounded collect per pack."""
    from bistro_spark.operators.curation import pack_segments

    docs = load_table(spark, "documents", sf).select(
        "doc_id", F.size(F.split("text", " ")).alias("n_words")
    )
    return _json_arrays(
        pack_segments(docs, capacity=256, n_shards=4),
        "doc_ids", "offsets", "seg_lens",
    )


def _changelog(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic CDC changelog derived from the events stream: each
    event is an upsert for its user entity, 'error' events are delete
    tombstones, event_id is the (globally unique) sequence number — the
    input shape an exactly-once MERGE sink consumes."""
    ev = load_table(spark, "events", sf)
    return ev.select(
        F.col("user_id").alias("entity_id"),
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "event_type",
        "value",
    )


_CHANGELOG_CTE = """changelog AS (
      SELECT user_id AS entity_id,
             event_id AS seq,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             event_type, value
      FROM events
    ),"""


def _snapshots(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic synthetic snapshot lineage: table = event_type,
    one snapshot per UTC day, committed_at = the day's last event ts —
    the shape an Iceberg snapshots metadata-table scan provides."""
    ev = load_table(spark, "events", sf)
    return ev.groupBy(
        F.col("event_type").alias("tbl"),
        F.expr("unix_micros(cast(ts as timestamp)) DIV 86400000000").cast("long").alias(
            "snapshot_id"
        ),
    ).agg(F.max("ts").alias("committed_at"))


_SNAPSHOTS_CTE = """snapshots AS (
      SELECT event_type AS tbl,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS snapshot_id,
             max(ts) AS committed_at
      FROM events GROUP BY 1, 2
    ),"""


def _snapshot_refs(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic (table, snapshot, file) reference edges: each data
    file is written on day d (file_id encodes day and user bucket) and
    stays referenced by the next three daily snapshots — the manifest
    shape remove_orphan_files planning consumes."""
    ev = load_table(spark, "events", sf)
    base = ev.select(
        F.col("event_type").alias("tbl"),
        F.expr("unix_micros(cast(ts as timestamp)) DIV 86400000000").cast("long").alias("d"),
        (
            F.expr("unix_micros(cast(ts as timestamp)) DIV 86400000000") * 100
            + F.expr("user_id DIV 30")
        )
        .cast("long")
        .alias("file_id"),
    ).distinct()
    return base.withColumn(
        "o", F.explode(F.sequence(F.lit(0), F.lit(2)))
    ).select(
        "tbl",
        (F.col("d") + F.col("o")).cast("long").alias("snapshot_id"),
        "file_id",
    )


_REFS_CTE = """refs AS (
      SELECT f.tbl, f.d + g.o AS snapshot_id, f.file_id
      FROM (SELECT DISTINCT event_type AS tbl,
                   CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
                   CAST(epoch_us(ts) // 86400000000 AS BIGINT) * 100
                     + user_id // 30 AS file_id
            FROM events) f
      CROSS JOIN (SELECT CAST(range AS BIGINT) AS o FROM range(0, 3)) g
    ),"""


def q_snapshot_expiry_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg expire_snapshots planning: per table, newest-first rank
    with retain-last + age cutoffs — the deterministic decision artifact
    a maintenance job audits before dropping snapshots; the ranking
    window is metadata-sized by construction."""
    from bistro_spark.operators.maintenance import snapshot_expiry_plan

    return snapshot_expiry_plan(
        _snapshots(spark, sf), retain_last=3, older_than="2024-01-25"
    )


def q_orphan_files(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg remove_orphan_files planning: a file is deletable iff all
    snapshots referencing it are expired — count-gated broadcast of the
    lineage-sized plan onto the manifest edges, one partial-agg shuffle
    on the file key."""
    from bistro_spark.operators.maintenance import (
        orphan_files,
        snapshot_expiry_plan,
    )

    plan = snapshot_expiry_plan(
        _snapshots(spark, sf), retain_last=3, older_than="2024-01-25"
    )
    return orphan_files(_snapshot_refs(spark, sf), plan)


def q_histogram_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact quantiles of a bounded-domain integer metric without
    ranking the corpus: one partial-agg shuffle to the value DOMAIN +
    a domain-sized cumulative window + conditional mins — the scale
    path when the domain is small (lengths, quantized scores)."""
    from bistro_spark.operators.olap import histogram_quantiles

    return histogram_quantiles(load_table(spark, "documents", sf))


def q_vocab_truncation_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """OOV rate per candidate vocabulary size: two-phase global
    frequency rank (no single-reducer window), then the whole size grid
    as parallel conditional sums in ONE vocab-table pass — the
    tokenizer-sizing decision artifact."""
    from bistro_spark.operators.ranking import vocab_truncation_sweep

    return vocab_truncation_sweep(load_table(spark, "documents", sf))


def q_vocab_growth(spark: SparkSession, sf: str) -> DataFrame:
    """Heaps-law vocabulary-growth curve + fitted exponent over md5
    corpus checkpoints: one corpus pass (term first-appearance
    min-aggregate), grid windows, decimal-summed log-log regression —
    the vocab/state capacity-planning artifact."""
    from bistro_spark.operators.olap import vocab_growth

    return vocab_growth(load_table(spark, "documents", sf))


def q_skew_report(spark: SparkSession, sf: str) -> DataFrame:
    """Key-skew audit ahead of a keyed join/agg/state-store: per key,
    load share vs uniform, the exact integer salt fan-out that levels
    it, and the hot flag — one partial-agg shuffle + 1-row scalar
    broadcast, key-bounded output (the measurement behind salted_agg)."""
    from bistro_spark.skew import skew_report

    return skew_report(load_table(spark, "events", sf), key_col="user_id")


def q_kneser_ney3_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Interpolated Kneser-Ney TRIGRAM score per document (D=0.75,
    continuation-count recursion all derived from the trigram type
    table) — five vocabulary-sized integer aggregates broadcast onto one
    pass over the exploded triples, decimal-summed cross-engine."""
    from bistro_spark.operators.curation import kneser_ney3_logprob

    return kneser_ney3_logprob(load_table(spark, "documents", sf))


def q_binidx_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """Megatron-style .bin/.idx export layout: per-doc shard, in-shard
    index, and exact byte offset (2 bytes/token) via ONE per-shard
    ordered prefix-sum window — the writer's parallel seek plan."""
    from bistro_spark.operators.curation import binidx_manifest

    docs = load_table(spark, "documents", sf).select(
        "doc_id", F.size(F.split("text", " ")).alias("n_words")
    )
    return binidx_manifest(docs, n_shards=4)


def q_anneal_schedule(spark: SparkSession, sf: str) -> DataFrame:
    """Two-phase annealed mixing schedule (uniform → char-weighted
    natural mix): all-integer ppm interpolation with residual-to-last
    repair and exact largest-remainder apportionment — every step draws
    exactly batch_size; windows touch only the grid, corpus read once."""
    from bistro_spark.operators.curation import anneal_schedule

    return anneal_schedule(
        load_table(spark, "documents", sf),
        weight_col="n_chars",
        n_steps=40,
        batch_size=1000,
    )


def q_repetition_budget(spark: SparkSession, sf: str) -> DataFrame:
    """Data-repetition accounting: per source, available vs drawn under
    the annealed schedule, implied epochs, and the first repeating step
    — the Muennighoff-style budget check before committing a mix."""
    from bistro_spark.operators.curation import repetition_budget

    return repetition_budget(
        load_table(spark, "documents", sf),
        weight_col="n_chars",
        n_steps=40,
        batch_size=1000,
    )


def q_watermark_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Watermark-delay decision artifact: per candidate delay, how many
    events a stream would drop as late under Spark's trigger semantics —
    one corpus pass evaluates the whole delay grid as parallel
    conditional sums (grid multiplies agg columns, never rows)."""
    from bistro_spark.operators.temporal import watermark_audit

    return watermark_audit(load_table(spark, "events", sf))


def q_step_read_plan(spark: SparkSession, sf: str) -> DataFrame:
    """The loader's per-(step, shard) I/O plan: mixture_manifest ⨝
    binidx_manifest → offset-ordered read arrays per cell, each bounded
    by the training batch (capacity-bounded collect discipline)."""
    from bistro_spark.operators.curation import step_read_plan

    docs = load_table(spark, "documents", sf).select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_words")
    )
    return _json_arrays(
        step_read_plan(docs, n_steps=12, batch_size=40), "offsets", "sizes"
    )


def q_mixture_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """The data-loader artifact: which docs each training step draws —
    per-source md5 consumption order + the schedule's cumulative floor
    INVERTED in closed form (double neighborhood + exact integer
    3-candidate verification; no corpus×steps interval join)."""
    from bistro_spark.operators.curation import mixture_manifest

    return mixture_manifest(
        load_table(spark, "documents", sf), n_steps=12, batch_size=40
    )


def q_stratified_bottomk(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-k-per-stratum deterministic sample (smallest md5 per
    group): the rank-limit compiles to WindowGroupLimit, pruning every
    input partition to its per-stratum top-k BEFORE the shuffle."""
    from bistro_spark.operators.curation import stratified_bottomk

    return stratified_bottomk(load_table(spark, "documents", sf), k=8)


def q_changelog_history(spark: SparkSession, sf: str) -> DataFrame:
    """SCD-type-2 history view of the CDC changelog: one validity
    interval [seq_from, seq_to) per upserted version, is_current flag —
    the time-travel/audit complement of apply_changelog; one key shuffle
    (per-key version ordering is the semantics)."""
    from bistro_spark.operators.cdc import changelog_history

    return changelog_history(_changelog(spark, sf))


def q_bottomk_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic uniform sample without replacement: the k smallest
    md5(id) — exact-size, snapshot/cluster-shape stable, MERGEABLE
    (bottom-k of a union = bottom-k of merged bottom-ks); sort+limit
    compiles to TakeOrderedAndProject, never a global sort."""
    from bistro_spark.operators.curation import bottomk_sample

    return bottomk_sample(load_table(spark, "documents", sf), k=60)


def q_maintenance_report(spark: SparkSession, sf: str) -> DataFrame:
    """Per-table lakehouse maintenance decision row: lineage size,
    policy-expired snapshots, referenced files, deletable files — the
    expiry + orphan family composed into ONE table-count-sized plan."""
    from bistro_spark.operators.maintenance import maintenance_report

    return maintenance_report(
        _snapshots(spark, sf),
        _snapshot_refs(spark, sf),
        retain_last=3,
        older_than="2024-01-25",
    )


def q_apply_changelog(spark: SparkSession, sf: str) -> DataFrame:
    """CDC MERGE snapshot: fold the changelog to the latest non-deleted
    version per entity — partial-aggregatable struct-max (shuffle is
    entity-bounded, never log-bounded), tombstones filtered post-agg so a
    late lower-seq upsert cannot resurrect a deleted key."""
    from bistro_spark.operators.cdc import apply_changelog

    return apply_changelog(_changelog(spark, sf))


def q_fim_transform(spark: SparkSession, sf: str) -> DataFrame:
    """Fill-in-the-middle augmentation (Bavarian et al. 2022): an
    md5-gated half of the corpus reordered into <PRE>/<SUF>/<MID> form
    with id-deterministic cut points — pure projection, zero shuffle,
    identical on any cluster shape; applies to a stream unchanged."""
    return _trainprep.fim_transform(load_table(spark, "documents", sf))


def q_concat_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Concat-and-cut chunk packing (the GPT-style split-docs layout,
    complementing pack_sequences' no-split fold): per-shard ordered
    prefix-sum window + bounded chunk explode, no pandas kernel."""
    docs = load_table(spark, "documents", sf).select(
        "doc_id", F.size(F.split("text", " ")).alias("n_words")
    )
    return _trainprep.concat_chunks(docs, capacity=256, n_shards=4)


def q_curriculum_schedule(spark: SparkSession, sf: str) -> DataFrame:
    """Curriculum step assignment: rank by length through the two-phase
    global_rank (no single-reducer sort), integer-floor apportionment
    into 20 contiguous training buckets, grid-sized integer report."""
    docs = load_table(spark, "documents", sf).select(
        "doc_id", F.size(F.split("text", " ")).alias("n_words")
    )
    return _trainprep.curriculum_schedule(docs, n_steps=20)


def q_chunk_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """Per-chunk segment manifest for the concat-and-cut layout (the
    pack_segments counterpart for split docs): offset-ordered doc/start/
    len/EOD arrays per chunk — capacity-bounded collect, one extra
    partial-agg shuffle on (shard, chunk_id)."""
    docs = load_table(spark, "documents", sf).select(
        "doc_id", F.size(F.split("text", " ")).alias("n_words")
    )
    return _json_arrays(
        _trainprep.chunk_manifest(docs, capacity=256, n_shards=4),
        "doc_ids", "starts_in_chunk", "starts_in_doc", "seg_lens", "eod_flags",
    )


def q_fim_spans(spark: SparkSession, sf: str) -> DataFrame:
    """FIM loss/attention manifest: sentinel positions + prefix/suffix/
    middle span boundaries in OUTPUT coordinates (the trainer's loss-
    mask frame; spans tile [0, n_out) exactly — pytest-pinned against
    the realized tokens). Pure projection stacked on fim_transform's
    projection — zero shuffle, one codegen span."""
    return _trainprep.fim_spans(load_table(spark, "documents", sf))


def q_chunk_read_plan(spark: SparkSession, sf: str) -> DataFrame:
    """The loader's per-chunk I/O plan for the concat-and-cut layout
    (step_read_plan's counterpart for split docs): chunk layout joined
    to the .bin byte layout on doc_id (same id%n_shards discipline on
    both sides), EOD-only segments filtered, reads clamped to the doc's
    real byte span, aggregated to offset-ordered (offsets, sizes) per
    (shard, chunk_id) — one equi join + one grid partial-agg shuffle,
    capacity-bounded arrays."""
    docs = load_table(spark, "documents", sf).select(
        "doc_id", F.size(F.split("text", " ")).alias("n_words")
    )
    return _json_arrays(
        _trainprep.chunk_read_plan(docs, capacity=256, n_shards=4),
        "offsets", "sizes",
    )


def q_sft_turn_spans(spark: SparkSession, sf: str) -> DataFrame:
    """SFT dialog loss-mask manifest (fim_spans' multi-turn sibling):
    each document rendered as a k-turn user/assistant dialog
    (k = 2 + md5(id)%3) with per-turn sentinel position, content span,
    and supervised flag in OUTPUT coordinates — spans + sentinels tile
    [0, n_out) exactly. Pure projection × bounded k≤4 explode — zero
    shuffle, cluster-shape-invariant, applies to a stream unchanged."""
    return _trainprep.sft_turn_spans(load_table(spark, "documents", sf))


def _pref_candidates(spark: SparkSession, sf: str) -> DataFrame:
    """The deterministic best-of-n stand-in over documents: docs
    sharing doc_id % 100 are one prompt's candidate set, reward is the
    exact-integer n_chars (the repo's tie-proof discipline — ties are
    broken by candidate id, never by float luck)."""
    return load_table(spark, "documents", sf).select(
        (F.col("doc_id") % 100).alias("prompt_id"),
        F.col("doc_id").alias("cand_id"),
        F.col("n_chars").alias("reward"),
    )


_PREF_CANDIDATES_SQL = (
    "SELECT doc_id % 100 AS prompt_id, doc_id AS cand_id, "
    "n_chars AS reward FROM documents"
)


def q_preference_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """DPO/RM preference-pair mining (best_vs_rest): per prompt, the
    reward argmax (deterministic tiebreak) paired against every other
    candidate clearing the margin — one prompt-key exchange, unordered
    window MAX of a (reward, -cand) struct, no sort, no self-join."""
    from bistro_spark.operators.preference import preference_pairs

    return preference_pairs(_pref_candidates(spark, sf))


def q_preference_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-prompt preference-signal audit: candidate count, best and
    runner-up rewards under the chosen total order, gap (0 ⇒ the prompt
    carries no DPO signal), reward range — grid-sized report, one
    prompt-key exchange shared by both windows and the final agg."""
    from bistro_spark.operators.preference import preference_stats

    return preference_stats(_pref_candidates(spark, sf))


def q_leakage_safe_split(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe train/val/test split: the md5 split key is the
    near-dup CLUSTER representative (the cached SimHash→Hamming≤2→
    connected-components assignment dedup_clusters already maintains),
    not the document id — so near-duplicates can never straddle a split
    boundary and leak eval text into train. Composes the cluster
    assignment with split_corpus's CASE projection; costs one
    assignment-table join beyond the cached clustering."""
    from bistro_spark.operators.curation import split_corpus

    return split_corpus(
        _dedup_assignments(spark, sf), key_col="component"
    ).select(
        F.col("id").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
        "split",
    )


def q_bucketed_batches(spark: SparkSession, sf: str) -> DataFrame:
    """Length-grouped (dynamic) batch formation: pow2 length buckets,
    md5-deterministic within-bucket order via the two-phase global_rank
    (a per-bucket window would funnel whole buckets through single
    tasks), batch cuts of 8, and the pad-to-longest-in-batch bill per
    (bucket, batch) — the loader report between length_buckets'
    pad-to-bucket bill and pack_sequences' no-pad packing."""
    from bistro_spark.operators.curation import bucketed_batches

    docs = load_table(spark, "documents", sf).select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    return bucketed_batches(docs, batch_size=8)


def q_sft_pack_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """SFT packing report: dialogs rendered via the zero-shuffle
    closed-form sft_doc_stats, greedy-packed whole (a split dialog's
    loss mask would straddle buffers), then per (shard, pack) the
    loss-bearing token accounting — supervised_frac catches packs whose
    forward pass is mostly masked-out user text."""
    return _trainprep.sft_pack_manifest(
        load_table(spark, "documents", sf), capacity=256, n_shards=4
    )


def q_reward_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """Per-prompt rank normalization of rewards (RM whitening): rank
    under (reward DESC, cand ASC) and exact-integer parts-per-million
    position — 0 best, 1e6 worst, NULL for single-candidate prompts.
    One prompt-key exchange shared by both windows."""
    from bistro_spark.operators.preference import reward_normalize

    return reward_normalize(_pref_candidates(spark, sf))


def q_context_truncation_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """Context-window sizing artifact: per candidate length L, docs
    truncated + tokens lost + lost fraction — the length grid
    multiplies agg COLUMNS in one corpus pass (the truncation-sweep
    discipline), stacked to grid rows afterwards."""
    from bistro_spark.operators.curation import context_truncation_sweep

    docs = load_table(spark, "documents", sf).select(
        F.size(F.split("text", " ")).alias("n_tok")
    )
    return context_truncation_sweep(docs, lengths=(32, 64, 128, 256))


def q_split_leakage_audit(spark: SparkSession, sf: str) -> DataFrame:
    """The release-gate audit companion to leakage_safe_split: SimHash
    near-dup edges joined to a NAIVE doc-id split on both endpoints —
    per unordered split pair the edge count, is_leak flagging
    cross-split pairs (eval text whose near-duplicate trains). Two
    edge-keyed equi joins + one grid agg."""
    from bistro_spark.operators.curation import (
        split_corpus,
        split_leakage_audit,
    )
    from bistro_spark.operators.dedup import simhash_hamming_pairs

    docs = load_table(spark, "documents", sf)
    edges = simhash_hamming_pairs(docs, bits=16, max_hamming=2)
    assign = split_corpus(docs.select("doc_id"), key_col="doc_id")
    return split_leakage_audit(edges, assign)


def q_batching_strategy_report(spark: SparkSession, sf: str) -> DataFrame:
    """The loader-strategy decision table: greedy packing vs
    pad-to-pow2-bucket vs dynamic pad-to-longest-in-batch on the same
    corpus — units, payload, waste, and the fraction of forward-pass
    compute each strategy spends on padding. Three grid-sized
    aggregates unioned; corpus read once per strategy, never joined."""
    from bistro_spark.operators.curation import batching_strategy_report

    docs = load_table(spark, "documents", sf).select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    return batching_strategy_report(docs, capacity=256, batch_size=8)


def q_preference_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end preference construction: gap gate (prompts whose
    top-2 tie carry no learnable signal are dropped) → best_vs_rest
    pairs → rejected candidate's exact-ppm rank position, all stages
    keyed on the prompt so the executed plan carries ONE shuffle."""
    from bistro_spark.operators.preference import preference_pipeline

    return preference_pipeline(_pref_candidates(spark, sf))


def q_bt_ratings(spark: SparkSession, sf: str) -> DataFrame:
    """Bradley-Terry strength ratings over sources from the preference
    pairs' head-to-head outcomes (which SOURCE wins comparisons?) —
    Hunter's MM fixpoint in exact scaled-integer arithmetic, so the
    20-round result is bit-identical on any engine or cluster shape.
    Distributed items² win grid in one shuffle; driver fixpoint on the
    tiny matrix (the PQ-codebook pattern)."""
    from bistro_spark.operators.preference import bt_ratings

    # prompt groups of 5 CONSECUTIVE docs: source is doc_id%20-periodic
    # in the testdata, so the %100 grouping would make every game a
    # self-game — DIV 5 groups mix sources by construction
    return bt_ratings(_source_games(spark, sf))


def q_centroid_shift(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-space drift between two deterministic snapshot halves
    (vec_id parity): per label, the exact integer-cross-multiplied
    squared centroid distance (DECIMAL(38,0) numerator — each term
    passes BIGINT — emitted as its digit string) plus the one rounded
    float. One posexplode → (label, dim) partial agg; corpus never
    joins corpus."""
    from bistro_spark.operators.similarity import centroid_shift

    emb = load_table(spark, "embeddings", sf)
    return centroid_shift(
        emb.filter("vec_id % 2 = 0"), emb.filter("vec_id % 2 = 1")
    ).withColumn("shift2_num", F.col("shift2_num").cast("string"))


def _source_games(spark: SparkSession, sf: str) -> DataFrame:
    """Source-vs-source head-to-heads from the DIV-5 preference pairs
    (shared by bt_ratings and win_rate_matrix — a real eval pipeline
    derives both artifacts from ONE game log)."""
    from bistro_spark.operators.preference import preference_pairs

    docs = load_table(spark, "documents", sf).select("doc_id", "source")
    cands = load_table(spark, "documents", sf).select(
        (F.col("doc_id") / 5).cast("long").alias("prompt_id"),
        F.col("doc_id").alias("cand_id"),
        F.col("n_chars").alias("reward"),
    )
    return (
        preference_pairs(cands)
        .join(
            docs.select(
                F.col("doc_id").alias("chosen"),
                F.col("source").alias("winner"),
            ),
            "chosen",
        )
        .join(
            docs.select(
                F.col("doc_id").alias("rejected"),
                F.col("source").alias("loser"),
            ),
            "rejected",
        )
        .filter(F.col("winner") != F.col("loser"))
        .select("winner", "loser")
    )


_SOURCE_GAMES_SQL = """
    SELECT dw.source AS winner, dl.source AS loser
    FROM ({pairs}) pp
    JOIN documents dw ON dw.doc_id = pp.chosen
    JOIN documents dl ON dl.doc_id = pp.rejected
    WHERE dw.source <> dl.source
"""


def q_win_rate_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """The head-to-head matrix behind bt_ratings: per unordered source
    pair, games + per-side wins + exact-ppm win rate — the dashboard
    artifact where non-transitivity (invisible in the 1-D leaderboard)
    shows up. One projection + one items²-bounded partial agg."""
    from bistro_spark.operators.preference import win_rate_matrix

    return win_rate_matrix(_source_games(spark, sf))


def q_sft_export_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """The ship-it end of the SFT chain: the Megatron .bin/.idx export
    layout over RENDERED dialog lengths (sft_doc_stats' zero-shuffle
    n_out, which includes the role sentinels) — byte offsets a writer
    job streams to in parallel; one per-shard prefix-sum window on top
    of a pure projection."""
    from bistro_spark.operators.curation import binidx_manifest

    return binidx_manifest(
        _trainprep.sft_doc_stats(load_table(spark, "documents", sf)),
        len_col="n_out",
    )


def q_sft_corpus_stats(spark: SparkSession, sf: str) -> DataFrame:
    """The SFT dataset-card row per source: dialogs, turns, rendered /
    supervised token totals, supervised fraction, mean turns — one
    projection + one groups-sized partial agg off the same closed
    forms as sft_doc_stats."""
    return _trainprep.sft_corpus_stats(load_table(spark, "documents", sf))


def q_pack_attention_cost(spark: SparkSession, sf: str) -> DataFrame:
    """The quadratic bill packing changes: per pack, full-attention
    payload² vs block-diagonal Σ len² and the exact-ppm savings — the
    artifact that justifies shipping pack_segments masks at long
    context. Packing kernel + ONE grid partial agg."""
    from bistro_spark.operators.curation import pack_attention_cost

    docs = load_table(spark, "documents", sf).select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    return pack_attention_cost(docs, len_col="n_tok", capacity=256)


def q_attention_cost_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """pack_attention_cost across candidate capacities in ONE corpus
    pass: per (capacity, shard), block vs full attention cost and the
    exact-ppm savings — the capacity-vs-attention tradeoff artifact
    (tighter packing at larger capacity buys MORE segment-mask savings,
    quadratically). applyInPandas replay per capacity over in-memory
    length vectors; |capacities|×n_shards rows at any corpus size."""
    from bistro_spark.operators.curation import attention_cost_sweep

    docs = load_table(spark, "documents", sf).select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    return attention_cost_sweep(docs, capacities=(128, 256, 512))


# --------------------------------------------------------------------------
# DuckDB oracles (same aliases, same semantics)
# --------------------------------------------------------------------------

_TOKENS_CTE = token_table_duckdb_sql(TOKENS_N)

_DIM_CTE = """
dim(source, weight, origin) AS (VALUES
  ('web',1.0,'crawl'), ('code',0.5,'github'), ('books',2.0,'scan'),
  ('wiki',1.5,'dump'), ('archive',9.9,'cold'))
"""

_COSINE_TOPK_SQL = """
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 3),
    scored AS (
      SELECT q.query_id, e.vec_id,
             round(
               list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) /
               (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos_sim
      FROM embeddings e CROSS JOIN q)
    SELECT query_id,
           CAST(row_number() OVER (
             PARTITION BY query_id
             ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank,
           vec_id, cos_sim
    FROM scored
    QUALIFY rank <= 5
"""

# The LSH variant IS oracle-checkable: the hyperplanes are the closed-form
# deterministic Weyl matrix h[j][i] = frac((j*10007 + i)*phi) - 0.5
# (dedup._weyl_hyperplanes), so DuckDB can recompute the exact same
# buckets and reproduce the bucket-restricted top-k verbatim (verified:
# 0/500 bucket mismatches vs the numpy GEMM at sf0.01). This converts the
# approximate query from a rows-only check into a full hash contract —
# what is verified is "exactly the candidates the 6-bit sign buckets
# admit", not recall vs the exact top-k (that is asserted separately in
# tests/test_similarity.py::test_cosine_topk_lsh_recall).
_COSINE_TOPK_LSH_SQL = """
    WITH planes AS (
      SELECT j, list_transform(
               range((SELECT len(embedding) FROM embeddings LIMIT 1)),
               i -> fmod((j*10007.0 + i) * 0.6180339887, 1.0) - 0.5) AS h
      FROM (SELECT unnest(range(6)) AS j)),
    buckets AS (
      SELECT e.vec_id,
             CAST(sum(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                 p.h) > 0
                           THEN 2 ** p.j ELSE 0 END) AS INTEGER) AS bucket
      FROM embeddings e CROSS JOIN planes p
      GROUP BY e.vec_id),
    q AS (
      SELECT e.vec_id AS query_id, CAST(e.embedding AS DOUBLE[]) AS qv,
             b.bucket
      FROM embeddings e JOIN buckets b USING (vec_id)
      WHERE e.vec_id < 3),
    scored AS (
      SELECT q.query_id, e.vec_id,
             round(
               list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) /
               (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos_sim
      FROM embeddings e
      JOIN buckets b ON e.vec_id = b.vec_id
      JOIN q ON q.bucket = b.bucket)
    SELECT query_id,
           CAST(row_number() OVER (
             PARTITION BY query_id
             ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank,
           vec_id, cos_sim
    FROM scored
    QUALIFY rank <= 5
"""


def _minhash_lsh_sql(bands: int = 4, rows: int = 4) -> str:
    from bistro_spark.operators.dedup import minhash_sig_sql

    band_key_cols = ", ".join(
        f"CAST(sig[b.band_id*{rows}+{r}] AS VARCHAR)"
        for r in range(1, rows + 1)
    )
    return f"""
        WITH {_DUP_CTE},
        sigs AS (SELECT doc_id, {minhash_sig_sql('text', bands * rows)} AS sig FROM u),
        bands AS (
          SELECT doc_id, b.band_id,
                 md5(concat_ws(',', {band_key_cols})) AS band_key
          FROM sigs, (SELECT unnest(range({bands})) AS band_id) b
        )
        SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        FROM bands l JOIN bands r
          ON l.band_id = r.band_id AND l.band_key = r.band_key
         AND l.doc_id < r.doc_id
    """


def _text_features_sql() -> str:
    from bistro_spark.operators.text import (
        lang_pred_sql,
        quality_score_sql,
        stopword_count_sql,
    )

    return f"""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
               CAST({stopword_count_sql('text')} AS INTEGER) AS n_stop,
               CAST({quality_score_sql('text')} AS DOUBLE)   AS quality,
               {lang_pred_sql('text')}                       AS lang_pred,
               md5(text)                                     AS fp_md5
        FROM documents
    """


# --------------------------------------------------------------------------
# the contract registry
# --------------------------------------------------------------------------

Builder = Callable[[SparkSession, str], DataFrame]


def _contracts() -> list[tuple[Builder, str | None]]:
    """Every contract query, registered once and in the driver's order
    (the driver picks its correctness window by position): its Spark
    builder and its DuckDB oracle, or ``None`` for a rows-only query.
    A query's name is its builder's name without the ``q_`` prefix.
    """
    from bistro_spark.operators.dedup import (
        ngram_jaccard_sql,
        ngram_set_sql,
        simhash_sql,
        token_minhash_sql,
    )
    from bistro_spark.operators.text import (
        lang_pred_sql,
        quality_score_sql,
        winnow_fingerprint_sql,
    )
    from bistro_spark.operators.preference import (
        bt_ratings_sql,
        preference_pairs_sql,
        preference_pipeline_sql,
        preference_stats_sql,
        reward_normalize_sql,
        win_rate_matrix_sql,
    )

    games = _SOURCE_GAMES_SQL.format(
        pairs=preference_pairs_sql(
            "SELECT doc_id // 5 AS prompt_id, doc_id AS cand_id,"
            " n_chars AS reward FROM documents"
        )
    )
    n_tok = "SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents"
    # the near-duplicate components (simhash Hamming <= 2, transitive)
    # behind _dedup_assignments
    components = f"""
            WITH RECURSIVE
            s AS (
              SELECT doc_id, {simhash_sql('text', 16)} AS sh FROM documents),
            e AS (
              SELECT a.doc_id AS src, b.doc_id AS dst
              FROM s a JOIN s b
                ON a.doc_id <> b.doc_id
               AND bit_count(xor(a.sh, b.sh)) <= 2),
            cc(id, lbl) AS (
              SELECT doc_id, doc_id FROM s
              UNION
              SELECT e.dst, cc.lbl FROM cc JOIN e ON e.src = cc.id
            ),
            comp AS (SELECT id, CAST(min(lbl) AS BIGINT) AS component
                     FROM cc GROUP BY id)"""

    def packed(docs: str, sfx: str = "") -> str:
        """CTEs enc, packs, mat (+ ``sfx``): encode -> pack ->
        materialize ``docs``, as materialized_packs builds it."""
        return (
            f"enc{sfx} AS ({_ranking.encode_tokens_sql(docs)}), packs{sfx} AS ("
            + _curation.pack_sequences_sql(
                f"enc{sfx}", len_expr="n_tok", capacity=256, n_shards=4
            )
            + f"), mat{sfx} AS ("
            + _curation.materialize_packs_sql(f"packs{sfx}", f"enc{sfx}")
            + ")"
        )

    return [
        (q_sft_turn_spans, _trainprep.sft_turn_spans_sql("documents")),
        (q_preference_pairs, preference_pairs_sql(_PREF_CANDIDATES_SQL)),
        (q_preference_stats, preference_stats_sql(_PREF_CANDIDATES_SQL)),
        (q_leakage_safe_split, f"""
            {components}
            SELECT id AS doc_id, component,
                   {_curation.split_corpus_sql('component')} AS split
            FROM comp
        """),
        (q_bucketed_batches, _curation.bucketed_batches_sql(
            n_tok,
            batch_size=8,
        )),
        (q_sft_pack_manifest, _trainprep.sft_pack_manifest_sql(
            "documents", capacity=256, n_shards=4
        )),
        (q_reward_normalize, reward_normalize_sql(_PREF_CANDIDATES_SQL)),
        (q_context_truncation_sweep, _curation.context_truncation_sweep_sql(
            "SELECT len(string_split(text, ' ')) AS n_tok FROM documents",
            lengths=(32, 64, 128, 256),
        )),
        (q_split_leakage_audit, f"""
            WITH s AS (
              SELECT doc_id, {simhash_sql('text', 16)} AS sh
              FROM documents),
            e AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM s a JOIN s b ON b.doc_id > a.doc_id
              WHERE bit_count(xor(a.sh, b.sh)) <= 2),
            asg AS (
              SELECT doc_id,
                     {_curation.split_corpus_sql('doc_id')} AS split
              FROM documents)
            SELECT least(x.split, y.split) AS split_lo,
                   greatest(x.split, y.split) AS split_hi,
                   CAST(count(*) AS BIGINT) AS n_pairs,
                   least(x.split, y.split) <> greatest(x.split, y.split)
                     AS is_leak
            FROM e JOIN asg x ON e.id_a = x.doc_id
                   JOIN asg y ON e.id_b = y.doc_id
            GROUP BY 1, 2
        """),
        (q_batching_strategy_report, _curation.batching_strategy_report_sql(
            n_tok,
            capacity=256,
            batch_size=8,
        )),
        (q_preference_pipeline, preference_pipeline_sql(
            _PREF_CANDIDATES_SQL
        )),
        (q_bt_ratings, bt_ratings_sql(games)),
        (q_centroid_shift, (
            "SELECT * REPLACE (CAST(shift2_num AS VARCHAR) AS shift2_num)"
            " FROM (" + _similarity.centroid_shift_sql(
                "SELECT * FROM embeddings WHERE vec_id % 2 = 0",
                "SELECT * FROM embeddings WHERE vec_id % 2 = 1",
            ) + ")"
        )),
        (q_win_rate_matrix, win_rate_matrix_sql(games)),
        (q_sft_export_manifest, _curation.binidx_manifest_sql(
            "(" + _trainprep._sft_stats_sql("documents") + ")",
            len_expr="n_out",
        )),
        (q_sft_corpus_stats, _trainprep.sft_corpus_stats_sql("documents")),
        (q_pack_attention_cost, _curation.pack_attention_cost_sql(
            "documents",
            len_expr="len(string_split(text, ' '))",
            capacity=256,
        )),
        (q_attention_cost_sweep, _curation.attention_cost_sweep_sql(
            "documents",
            capacities=(128, 256, 512),
            len_expr="len(string_split(text, ' '))",
        )),
        (q_chunk_read_plan, _json_arrays_sql(
            _trainprep.chunk_read_plan_sql("documents", capacity=256, n_shards=4),
            "offsets", "sizes",
        )),
        (q_fim_spans, _trainprep.fim_spans_sql("documents")),
        (q_ann_l2_topk, _similarity.l2_topk_sql("embeddings")),
        (q_ann_pq_topk, _similarity.pq_topk_sql("embeddings")),
        (q_pq_recall, (
            "WITH ex AS (SELECT * FROM ("
            + _similarity.l2_topk_sql("embeddings")
            + ") t),\n     ap AS (SELECT * FROM ("
            + _similarity.pq_topk_sql("embeddings")
            + ") t)\n"
            "SELECT ex.query_id,\n"
            "       CAST(count(*) AS BIGINT) AS n_exact,\n"
            "       CAST(count(ap.vec_id) AS BIGINT) AS n_hit,\n"
            "       round(CAST(count(ap.vec_id) AS DOUBLE) / count(*), 6)\n"
            "         AS recall\n"
            "FROM ex LEFT JOIN ap\n"
            "  ON ex.query_id = ap.query_id AND ex.vec_id = ap.vec_id\n"
            "GROUP BY ex.query_id"
        )),
        (q_hard_negatives, _similarity.contrastive_topk_sql("embeddings")),
        (q_pq_distortion_sweep, _similarity.pq_distortion_sweep_sql(
            "embeddings"
        )),
        (q_fim_transform, _trainprep.fim_transform_sql("documents")),
        (q_chunk_manifest, _json_arrays_sql(
            _trainprep.chunk_manifest_sql("documents", capacity=256, n_shards=4),
            "doc_ids", "starts_in_chunk", "starts_in_doc", "seg_lens", "eod_flags",
        )),
        (q_concat_chunks, _trainprep.concat_chunks_sql(
            "documents", capacity=256, n_shards=4
        )),
        (q_curriculum_schedule, _trainprep.curriculum_schedule_sql(
            "documents", n_steps=20
        )),
        (q_apply_changelog, _cdc.apply_changelog_sql(
            "changelog", extra_ctes=_CHANGELOG_CTE
        )),
        (q_step_read_plan, _json_arrays_sql(
            _curation.step_read_plan_sql("documents", n_steps=12, batch_size=40),
            "offsets", "sizes",
        )),
        (q_mixture_manifest, _curation.mixture_manifest_sql(
            "documents", n_steps=12, batch_size=40
        )),
        (q_stratified_bottomk, _curation.stratified_bottomk_sql(
            "documents", k=8
        )),
        (q_changelog_history, _cdc.changelog_history_sql(
            "changelog", extra_ctes=_CHANGELOG_CTE
        )),
        (q_bottomk_sample, _curation.bottomk_sample_sql("documents", k=60)),
        (q_maintenance_report, (
            f"WITH {_SNAPSHOTS_CTE} {_REFS_CTE[:-1]} "
            + _maintenance.maintenance_report_sql(
                "snapshots", "refs", retain_last=3, older_than="2024-01-25"
            )
        )),
        (q_histogram_quantiles, _olap.histogram_quantiles_sql("documents")),
        (q_vocab_truncation_sweep, _ranking.vocab_truncation_sweep_sql(
            "documents"
        )),
        (q_vocab_growth, _olap.vocab_growth_sql("documents")),
        (q_skew_report, _skew.skew_report_sql("events", "user_id")),
        (q_kneser_ney3_logprob, _curation.kneser_ney3_logprob_sql(
            "documents"
        )),
        (q_binidx_manifest, _curation.binidx_manifest_sql("documents")),
        (q_anneal_schedule, _curation.anneal_schedule_sql(
            "documents", weight_expr="n_chars", n_steps=40, batch_size=1000
        )),
        (q_repetition_budget, _curation.repetition_budget_sql(
            "documents", weight_expr="n_chars", n_steps=40, batch_size=1000
        )),
        (q_watermark_audit, _temporal.watermark_audit_sql("events")),
        (q_snapshot_expiry_plan, _maintenance.snapshot_expiry_plan_sql(
            "snapshots",
            retain_last=3,
            older_than="2024-01-25",
            extra_ctes=_SNAPSHOTS_CTE,
        )),
        (q_orphan_files, (
            f"WITH {_SNAPSHOTS_CTE} {_REFS_CTE[:-1]} "
            + _maintenance.orphan_files_sql(
                "refs",
                _maintenance.snapshot_expiry_plan_sql(
                    "snapshots", retain_last=3, older_than="2024-01-25"
                ),
            )
        )),
        (q_heldout_perplexity, _curation.heldout_perplexity_sql("documents")),
        (q_mixture_schedule, _curation.mixture_schedule_sql(
            "documents", n_steps=50, batch_size=1000
        )),
        (q_kneser_ney_logprob, _curation.kneser_ney_logprob_sql("documents")),
        (q_ccnet_buckets, _curation.ccnet_buckets_sql("documents")),
        (q_pack_segments, _json_arrays_sql(
            _curation.pack_segments_sql("documents", capacity=256, n_shards=4),
            "doc_ids", "offsets", "seg_lens",
        )),
        (q_compaction_plan, _maintenance.compaction_plan_sql(
            "files", partition_col="part", target_bytes=32768,
            extra_ctes=_MANIFEST_CTE,
        )),
        (q_compaction_report, _maintenance.compaction_report_sql(
            "files", partition_col="part", target_bytes=32768,
            extra_ctes=_MANIFEST_CTE,
        )),
        (q_length_buckets, (
            "WITH enc AS ("
            + _ranking.encode_tokens_sql("documents")
            + "), j AS (SELECT d.source, e.n_tok FROM documents d "
            "JOIN enc e USING (doc_id)) "
            + _curation.length_buckets_sql("j", group_col="source", len_col="n_tok")
        )),
        (q_pack_capacity_sweep, _curation.pack_capacity_sweep_sql(
            "enc",
            capacities=(128, 256, 512, 1024),
            len_expr="n_tok",
            n_shards=4,
            extra_ctes=(
                "enc AS (" + _ranking.encode_tokens_sql("documents") + "),"
            ),
        )),
        (q_wordpiece_encode_fixed, _wordpiece.wordpiece_encode_fixed_sql("documents")),
        (q_wordpiece_fertility, _wordpiece.wordpiece_fertility_sql("documents")),
        (q_unigram_encode_fixed, _unigram.unigram_encode_fixed_sql("documents")),
        (q_unigram_fertility, _unigram.unigram_fertility_sql("documents")),
        (q_tokenizer_bakeoff, f"""
          WITH b AS ({_bpe.fertility_stats_sql("documents")}),
          u AS ({_unigram.unigram_fertility_sql("documents")}),
          w AS ({_wordpiece.wordpiece_fertility_sql("documents")})
          SELECT b.source, b.n_words,
                 b.n_pieces AS bpe_pieces, u.n_pieces AS uni_pieces,
                 w.n_pieces AS wp_pieces,
                 b.fertility AS bpe_fertility, u.fertility AS uni_fertility,
                 w.fertility AS wp_fertility,
                 round(CAST(u.n_pieces - b.n_pieces AS DOUBLE)
                       / b.n_pieces, 6) AS uni_vs_bpe_cost,
                 round(CAST(w.n_pieces - b.n_pieces AS DOUBLE)
                       / b.n_pieces, 6) AS wp_vs_bpe_cost
          FROM b JOIN u USING (source) JOIN w USING (source)
        """),
        (q_global_shuffle, _ranking.global_rank_sql(
            "documents",
            order_by="md5(CAST(doc_id AS VARCHAR)), doc_id",
            out_cols="doc_id",
            rank_col="shuffle_rank",
        )),
        (q_training_prep_pipeline, _curation.pack_sequences_sql(
            "enc",
            len_expr="n_tok",
            capacity=256,
            n_shards=4,
            extra_ctes=(
                "dd AS ("
                + _curation.dedup_spans_sql("documents", size=8)
                + "), gated AS (SELECT doc_id, text_dedup AS text FROM dd"
                " WHERE n_kept >= 2), enc AS ("
                + _ranking.encode_tokens_sql("gated")
                + "),"
            ),
        )),
        (q_incremental_dedup, _dedup.incremental_span_dedup_sql(
            "documents",
            new_pred="doc_id % 2 = 1",
            old_pred="doc_id % 2 = 0",
            size=8,
            threshold=0.5,
        )),
        (q_materialized_packs, f"WITH {packed('documents')} SELECT * FROM mat"),
        (q_split_corpus, (
            "SELECT doc_id, "
            + _curation.split_corpus_sql("doc_id")
            + " AS split FROM documents"
        )),
        (q_mixture_report, _curation.mixture_report_sql(
            "documents",
            "lang",
            {"en": 0.3, "de": 0.175, "es": 0.175, "fr": 0.175, "zh": 0.175},
        )),
        (q_repeated_substrings, _dedup.repeated_substrings_sql(
            "documents", size=8
        )),
        (q_strip_repeated, _dedup.strip_repeated_substrings_sql(
            "documents", size=8
        )),
        (q_random_projection, _similarity.random_projection_sql(
            "embeddings", out_dim=4, dim=64
        )),
        (q_group_centroids, _similarity.group_centroids_sql("embeddings")),
        (q_bigram_logprob, _curation.bigram_logprob_sql("documents")),
        # mirrors the Spark plan exactly: tag-union, per-key running
        # last(IGNORE NULLS), 1-hour staleness horizon in integer µs
        (q_link_asof, """
            WITH u AS (
              SELECT user_id, ts, 0 AS tag, CAST(NULL AS BIGINT) AS lid,
                     value AS rv, ts AS rts
              FROM events WHERE event_type = 'click'
              UNION ALL
              SELECT user_id, ts, 1, event_id, NULL, NULL
              FROM events WHERE event_type = 'purchase'
            ), w AS (
              SELECT user_id, ts, tag, lid,
                     last_value(rv IGNORE NULLS) OVER win AS mv,
                     last_value(rts IGNORE NULLS) OVER win AS mts
              FROM u
              WINDOW win AS (PARTITION BY user_id ORDER BY ts, tag
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW)
            )
            SELECT lid AS event_id, user_id, ts,
                   CASE WHEN epoch_us(mts) >= epoch_us(ts) - 3600000000
                        THEN round(mv, 6) END AS asof_value,
                   CASE WHEN epoch_us(mts) >= epoch_us(ts) - 3600000000
                        THEN mts END AS asof_ts
            FROM w WHERE tag = 1
        """),
        (q_cep_pattern, """
            WITH a AS (
              SELECT user_id, event_id AS a_id, ts AS a_ts
              FROM events WHERE event_type = 'view'
            ), b AS (
              SELECT user_id, event_id AS b_id, ts AS b_ts
              FROM events WHERE event_type = 'purchase'
            ), pairs AS (
              SELECT a.user_id, a.a_id, a.a_ts, b.b_id, b.b_ts,
                     date_diff('microsecond', a.a_ts, b.b_ts) AS gap_us,
                     row_number() OVER (PARTITION BY a.a_id
                                        ORDER BY b.b_ts, b.b_id) AS rn
              FROM a JOIN b ON a.user_id = b.user_id
                AND b.b_ts > a.a_ts
                AND epoch_us(b.b_ts)
                    <= epoch_us(a.a_ts) + CAST(14400 AS BIGINT) * 1000000
            )
            SELECT user_id, a_id, a_ts, b_id, b_ts,
                   CAST(gap_us AS BIGINT) AS gap_us
            FROM pairs WHERE rn = 1
        """),
        (q_length_drift, _drift.length_drift_sql("documents")),
        (q_token_novelty, _drift.token_novelty_sql("documents")),
        (q_semantic_dedup, _similarity.semdedup_sql(
            threshold=0.95,
            source_sql=(
                "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
                " FROM embeddings"
                " UNION ALL"
                " SELECT vec_id + 100000, CAST(embedding AS DOUBLE[])"
                " FROM embeddings WHERE vec_id < 20"
            ),
        )),
        (q_classifier_score, _text.classifier_score_sql("documents")),
        (q_heavy_hitters, _text.heavy_hitters_sql("documents", k=50)),
        (q_source_overlap, _dedup.source_overlap_sql("documents", n=3)),
        (q_bpe_encode_fixed, _bpe.bpe_encode_fixed_sql("documents")),
        (q_shard_manifest, f"WITH {packed('documents')} "
         + _curation.shard_manifest_sql("mat")),
        (q_url_normalize, _web.url_normalize_report_sql("documents")),
        (q_domain_stats, _web.domain_stats_sql("documents")),
        (q_normalize_text, f"""
          WITH m AS (
            SELECT doc_id, {_text.messy_text_sql('text')} AS messy
            FROM documents)
          SELECT doc_id,
                 {_text.normalize_text_sql('messy')} AS text_norm,
                 length({_text.normalize_text_sql('messy')}) AS n_chars_norm
          FROM m
        """),
        (q_filter_funnel, _curation.filter_funnel_sql("documents")),
        (q_manifest_diff, (
            "WITH docs_old AS ("
            "  SELECT * FROM documents WHERE doc_id % 10 <> 0"
            f"), {packed('docs_old', '_o')}, man_o AS ("
            + _curation.shard_manifest_sql("mat_o")
            + f"), {packed('documents', '_n')}, man_n AS ("
            + _curation.shard_manifest_sql("mat_n")
            + ") "
            + _curation.manifest_diff_sql("man_o", "man_n")
        )),
        (q_cluster_sizes, f"""
            {components},
            sizes AS (
              SELECT component, count(*) AS cluster_size
              FROM comp GROUP BY component)
            SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
                   count(*) AS n_clusters,
                   CAST(cluster_size * count(*) AS BIGINT) AS n_docs
            FROM sizes GROUP BY cluster_size
        """),
        (q_bm25_scores, _text.bm25_scores_sql("documents", BM25_QUERIES)),
        (q_domain_quota, f"""
          WITH raw AS (
            SELECT doc_id, n_chars, {_web.synth_url_sql('doc_id')} AS url_raw
            FROM documents),
          norm AS (
            SELECT doc_id, n_chars,
                   {_web.normalize_url_sql('url_raw')} AS url_norm
            FROM raw),
          wd AS (
            SELECT doc_id, n_chars,
                   {_web.registered_domain_sql('url_norm')} AS domain
            FROM norm)
          SELECT doc_id, domain, n_chars,
                 CAST(row_number() OVER (
                   PARTITION BY domain
                   ORDER BY n_chars DESC, doc_id) AS INTEGER) AS quota_rank
          FROM wd
          QUALIFY quota_rank <= 20
        """),
        (q_dup_matrix, _dedup.dup_matrix_sql("documents")),
        (q_pack_stats, f"WITH {packed('documents')} "
         + _curation.pack_stats_sql("mat", capacity=256)),
        (q_fertility, _bpe.fertility_stats_sql("documents")),
        (q_dsir_weights, _curation.dsir_logweights_sql("documents", "lang = 'en'")),
        (q_dsir_select, _curation.dsir_select_sql("documents", "lang = 'en'", n=200)),
        (q_vocab_coverage, _ranking.vocab_coverage_sql("documents")),
        (q_oov_rate, _ranking.oov_rate_sql("documents", k=10)),
        (q_sessionize, _temporal.sessionize_sql("events", gap_s=1800.0)),
        (q_transition_matrix, _temporal.transition_matrix_sql("events")),
        (q_cohort_retention, _temporal.cohort_retention_sql("events")),
        (q_rollup_report, _olap.rollup_report_sql("documents")),
        (q_pivot_report, _olap.pivot_report_sql("documents", values=PIVOT_LANGS)),
        (q_decile_report, _olap.decile_report_sql("documents")),
        (q_token_entropy, _olap.token_entropy_sql("documents")),
        (q_signal_correlations, _olap.signal_correlations_sql("documents")),
        (q_expanding_zscore, _temporal.expanding_zscore_sql("events")),
        (q_length_gini, _olap.length_gini_sql("documents")),
        (q_funnel_conversion, _temporal.funnel_conversion_sql(
            "events", steps=FUNNEL_STEPS
        )),
        (q_collocations_pmi, _text.collocations_pmi_sql("documents")),
        (q_load_heatmap, _temporal.load_heatmap_sql("events")),
        (q_ks_drift, _olap.ks_drift_sql("documents")),
        (q_source_kl, _olap.source_kl_sql("documents")),
        (q_contingency_report, _olap.contingency_report_sql("documents")),
        (q_minhash_calibration, f"""
            WITH cand AS ({_minhash_lsh_sql(bands=2, rows=8)}),
            {_DUP_CTE},
            feat AS (
              SELECT doc_id, {_dedup.minhash_sig_sql('text', 16)} AS sig,
                     {_dedup.ngram_set_sql('text', 1)} AS ng
              FROM u
              WHERE doc_id IN (SELECT id_a FROM cand
                               UNION SELECT id_b FROM cand)
            ),
            scored AS (
              SELECT CAST(len(list_filter(range(1, 17),
                       i -> a.sig[i] = b.sig[i])) AS BIGINT) AS est_matches,
                     CAST(round(
                       {_dedup.ngram_jaccard_sql('a.ng', 'b.ng')}, 9)
                       AS DECIMAL(38,9)) AS j
              FROM cand c JOIN feat a ON a.doc_id = c.id_a
                          JOIN feat b ON b.doc_id = c.id_b
            )
            SELECT est_matches, CAST(count(*) AS BIGINT) AS n_pairs,
                   round(est_matches / 16.0, 6) AS est_jaccard,
                   round(CAST(sum(j) AS DOUBLE) / count(*), 6) AS mean_exact,
                   round(CAST(min(j) AS DOUBLE), 6) AS min_exact,
                   round(CAST(max(j) AS DOUBLE), 6) AS max_exact
            FROM scored GROUP BY est_matches
        """),
        (q_winsorized_stats, _curation.winsorized_stats_sql("documents")),
        (q_spine_growth, _temporal.activity_spine_sql("events")),
        (q_pareto_frontier, _curation.pareto_frontier_sql("documents")),
        (q_rrf_fusion, _ranking.rrf_fusion_sql("documents")),
        (q_cardinality_report, _olap.cardinality_report_sql("documents")),
        (q_pii_redact, _text.redact_pii_sql("documents")),
        (q_ann_recall, (
            "WITH ex AS (SELECT * FROM (" + _COSINE_TOPK_SQL + ") t),\n"
            "     ls AS (SELECT * FROM (" + _COSINE_TOPK_LSH_SQL + ") t)\n"
            "SELECT ex.query_id,\n"
            "       CAST(count(*) AS BIGINT) AS n_exact,\n"
            "       CAST(count(ls.vec_id) AS BIGINT) AS n_hit,\n"
            "       round(CAST(count(ls.vec_id) AS DOUBLE) / count(*), 6)\n"
            "         AS recall\n"
            "FROM ex LEFT JOIN ls\n"
            "  ON ex.query_id = ls.query_id AND ex.vec_id = ls.vec_id\n"
            "GROUP BY ex.query_id"
        )),
        (q_ingest_pipeline, (
            "WITH u0 AS (SELECT doc_id, doc_id % 100000 AS skey, source,"
            " text FROM (SELECT doc_id, source, text FROM documents"
            " UNION ALL SELECT doc_id + 100000, source, text"
            " FROM documents WHERE doc_id < 20) b),\n"
            # gates evaluate the raw (synth-injected, pre-scrub) text —
            # mirroring the Spark plan, which computes _nw/_q before
            # the redaction chain
            "u AS (SELECT doc_id, source, "
            + _text.synth_pii_sql("skey", "text")
            + " AS text FROM u0),\n"
            "u2 AS (SELECT doc_id, source,"
            " CAST(len(string_split(text, ' ')) AS BIGINT) AS nw, "
            + _text.quality_score_sql("text")
            + " AS q, text FROM u),\n"
            "red AS (SELECT * FROM ("
            + _text.redact_pii_sql(
                "u2", carry_cols=("source", "nw", "q"), inject=False
            )
            + ") t),\n"
            "en AS (SELECT doc_id, source,\n"
            "  (n_redact_email + n_redact_phone + n_redact_ipv4) AS nred,\n"
            "  nw, q, text FROM red),\n"
            "g AS (SELECT * FROM en WHERE nw >= 20 AND q >= 1.05),\n"
            "s AS (SELECT doc_id, source, nred, nw FROM g\n"
            "      QUALIFY row_number() OVER (PARTITION BY text\n"
            "                                 ORDER BY doc_id) = 1)\n"
            "SELECT source, CAST(count(*) AS BIGINT) AS n_docs,\n"
            "       CAST(sum(nred) AS BIGINT) AS n_redactions,\n"
            "       CAST(sum(nw) AS BIGINT) AS total_words\n"
            "FROM s GROUP BY source"
        )),
        (q_zipf_alpha, _olap.zipf_alpha_sql("documents")),
        (q_corpus_health, _olap.corpus_health_sql("documents")),
        (q_cross_perplexity, _curation.cross_perplexity_sql("documents")),
        (q_quantize_embeddings, _similarity.quantize_embeddings_sql("embeddings")),
        (q_signal_calibration, _curation.calibrate_signal_sql("documents")),
        (q_centroid_similarity, _similarity.centroid_similarity_sql("embeddings")),
        (q_bpe_encode, None),  # rows-only: iterative fixpoint, no SQL twin
        (q_partition_lineage, None),  # rows-only: partition ids
        (q_calc_lineitem, """
            SELECT l_orderkey, l_linenumber,
                   l_extendedprice * (1 - l_discount) AS revenue,
                   l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged
            FROM lineitem
        """),
        (q_link_orders_customer, """
            SELECT o.o_orderkey,
                   c.c_custkey     AS cust_key,
                   c.c_mktsegment  AS mktsegment,
                   c.c_acctbal     AS acctbal
            FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        """),
        (q_accu_revenue_per_customer, """
            SELECT c.c_custkey,
                   coalesce(CAST(sum(CAST(o.o_totalprice AS DECIMAL(20,6)))
                                 AS DOUBLE), 0.0)     AS total_spent,
                   count(o.o_orderkey)                AS n_orders
            FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY c.c_custkey
        """),
        (q_project_doc_dims, """
            SELECT source, lang,
                   count(*)                      AS n_docs,
                   CAST(sum(n_chars) AS BIGINT)  AS sum_chars
            FROM documents
            GROUP BY source, lang
        """),
        (q_roll_events_moving, """
            SELECT event_id, user_id,
                   CAST(sum(CAST(value AS DECIMAL(20,6))) OVER w AS DOUBLE)
                     AS msum,
                   CAST(sum(CAST(value AS DECIMAL(20,6))) OVER w AS DOUBLE)
                     / count(*) OVER w AS mavg
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        """),
        (q_roll_range_events, """
            SELECT event_id, user_id,
                   CAST(sum(CAST(value AS DECIMAL(20,6))) OVER (
                     PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
                     AS DOUBLE) AS wsum
            FROM events
        """),
        (q_range_bin_events, """
            SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS bin_start,
                   count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
                     AS sum_value
            FROM events
            GROUP BY 1
        """),
        (q_range_interval_join, """
            WITH b AS (SELECT unnest(range(20)) AS k),
            e AS (
              SELECT CAST(floor(value / 50) AS BIGINT) AS k,
                     count(*) AS n,
                     CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS s
              FROM events
              WHERE value >= 0 AND value < 1000
              GROUP BY 1)
            SELECT CAST(b.k AS DOUBLE) * 50       AS lo,
                   CAST(b.k + 1 AS DOUBLE) * 50   AS hi,
                   coalesce(e.n, 0)               AS n_events,
                   coalesce(e.s, 0.0)             AS sum_value
            FROM b LEFT JOIN e ON e.k = b.k
        """),
        (q_link_two_hop, """
            SELECT o.o_orderkey,
                   c.c_custkey AS cust_key,
                   n.n_name    AS nation_name
            FROM orders o
            LEFT JOIN customer c ON o.o_custkey = c.c_custkey
            LEFT JOIN nation n   ON c.c_nationkey = n.n_nationkey
        """),
        (q_prod_where, """
            SELECT n_nationkey, n_name, r_name
            FROM nation CROSS JOIN region
            WHERE n_regionkey = r_regionkey
        """),
        (q_formula_expr, """
            SELECT p_partkey,
                   p_retailprice / (p_size + 1)      AS value_density,
                   concat(p_brand, '#', p_type)      AS brand_type
            FROM part
        """),
        (q_formula_bracket, """
            SELECT p_partkey,
                   p_retailprice / (p_size + 1)            AS density,
                   (p_retailprice / (p_size + 1)) * 2      AS double_density
            FROM part
        """),
        (q_tokens_flagship, f"""
            WITH t AS ({_TOKENS_CTE}), {_DIM_CTE}
            SELECT dim.source,
                   count(t.doc_id)                             AS n_seq,
                   CAST(coalesce(sum(t.n_tok), 0) AS BIGINT)   AS sum_tok,
                   CAST(coalesce(sum(CAST(t.n_tok * dim.weight
                                          AS DECIMAL(20,6))), 0) AS DOUBLE)
                                                               AS sum_weighted
            FROM dim LEFT JOIN t USING (source)
            GROUP BY dim.source
        """),
        (q_tokens_rowlevel, f"""
            WITH t AS ({_TOKENS_CTE})
            SELECT doc_id,
                   CAST(len(tokens) AS INTEGER)      AS n_tok_calc,
                   tokens[1]                         AS first_tok,
                   tokens[-1]                        AS last_tok,
                   CAST(list_sum(tokens) AS BIGINT)  AS tok_sum,
                   array_to_string(tokens[1:5], ',') AS head5
            FROM t
        """),
        (q_tumbling_window_events, """
            SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS ws,
                   event_type,
                   count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
                     AS sum_value
            FROM events
            GROUP BY 1, 2
        """),
        (q_sliding_window_events, """
            SELECT CAST(floor((epoch(ts) - k.k * 3600) / 7200) * 7200
                        + k.k * 3600 AS BIGINT) AS ws,
                   event_type,
                   count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
                     AS sum_value
            FROM events, (SELECT unnest(range(2)) AS k) k
            GROUP BY 1, 2
        """),
        (q_session_window_events, """
            WITH marked AS (
              SELECT user_id, ts, value,
                     CASE WHEN epoch(ts) - epoch(lag(ts) OVER
                            (PARTITION BY user_id ORDER BY ts)) >= 21600
                          THEN 1 ELSE 0 END AS brk
              FROM events),
            sess AS (
              SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sid
              FROM marked)
            SELECT CAST(floor(epoch(min(ts))) AS BIGINT)          AS ws,
                   CAST(floor(epoch(max(ts)) + 21600) AS BIGINT)  AS we,
                   user_id,
                   count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
                     AS sum_value
            FROM sess
            GROUP BY user_id, sid
        """),
        (q_dedup_exact, f"""
            WITH {_DUP_CTE}
            SELECT md5(text) AS fp, min(doc_id) AS keep_id,
                   count(*) AS n_dups
            FROM u GROUP BY 1
        """),
        (q_dedup_minhash_lsh, _minhash_lsh_sql()),
        (q_dedup_verified_pairs, f"""
            WITH cand AS ({_minhash_lsh_sql(bands=2, rows=8)}),
            {_DUP_CTE},
            ng AS (
              SELECT doc_id, {ngram_set_sql('text')} AS ng FROM u)
            SELECT c.id_a, c.id_b,
                   round({ngram_jaccard_sql('a.ng', 'b.ng')}, 6) AS jaccard
            FROM cand c
            JOIN ng a ON a.doc_id = c.id_a
            JOIN ng b ON b.doc_id = c.id_b
            WHERE round({ngram_jaccard_sql('a.ng', 'b.ng')}, 6) >= 0.5
        """),
        (q_simhash, f"""
            SELECT doc_id, {simhash_sql('text', 16)} AS simhash
            FROM documents
        """),
        (q_text_features, _text_features_sql()),
        (q_quality_filter_stats, f"""
            WITH scored AS (
              SELECT n_chars, source,
                     CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
                     CAST({quality_score_sql('text')} AS DOUBLE)   AS quality,
                     {lang_pred_sql('text')}                       AS lang_pred
              FROM documents)
            SELECT lang_pred, source,
                   count(*)                                        AS n_docs,
                   CAST(sum(n_chars) AS BIGINT)                    AS sum_chars,
                   round(CAST(sum(CAST(quality AS DECIMAL(20,10)))
                              AS DOUBLE) / count(*), 6)            AS avg_quality
            FROM scored
            WHERE quality >= 1.0 AND n_words >= 30
            GROUP BY lang_pred, source
        """),
        (q_ann_cosine_topk, _COSINE_TOPK_SQL),
        (q_ann_cosine_topk_lsh, _COSINE_TOPK_LSH_SQL),
        (q_embedding_neardup, """
            WITH u AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings
              UNION ALL
              SELECT vec_id + 100000, CAST(embedding AS DOUBLE[])
              FROM embeddings WHERE vec_id < 20),
            scored AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     round(list_dot_product(a.v, b.v) /
                           (sqrt(list_dot_product(a.v, a.v)) *
                            sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
              FROM u a JOIN u b ON b.vec_id > a.vec_id)
            SELECT id_a, id_b, cos_sim FROM scored WHERE cos_sim >= 0.99
        """),
        (q_simhash_hamming, f"""
            WITH s AS (
              SELECT doc_id, {simhash_sql('text', 16)} AS sh FROM documents)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
            FROM s a JOIN s b ON b.doc_id > a.doc_id
            WHERE bit_count(xor(a.sh, b.sh)) <= 2
        """),
        (q_dedup_clusters, f"""
            {components}
            SELECT id, component FROM comp
        """),
        (q_dedup_survivors, f"""
            {components}
            SELECT d.doc_id, d.source, d.n_chars
            FROM documents d JOIN comp ON comp.id = d.doc_id
            WHERE comp.id = comp.component
        """),
        (q_text_winnow_fp, f"""
            SELECT doc_id,
                   array_to_string({winnow_fingerprint_sql('text')}, ',')
                     AS winnow_fp
            FROM documents
        """),
        (q_dedup_ngram_jaccard, f"""
            WITH ng AS (
              SELECT doc_id, {ngram_set_sql('text')} AS ng FROM documents)
            SELECT l.doc_id AS id_a, r.doc_id AS id_b,
                   round({ngram_jaccard_sql('l.ng', 'r.ng')}, 6) AS jaccard
            FROM ng l JOIN ng r ON r.doc_id = l.doc_id + 1
        """),
        (q_tokens_minhash, f"""
            WITH t AS ({_TOKENS_CTE})
            SELECT doc_id,
                   array_to_string({token_minhash_sql('tokens', 4)}, ',')
                     AS sig
            FROM t
        """),
        (q_ewma_user_value, """
            WITH o AS (
              SELECT user_id, value,
                     row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(floor(epoch(ts)) AS BIGINT) * 1000000
                                + event_id)                      AS rn,
                     count(*) OVER (PARTITION BY user_id)        AS n
              FROM events)
            SELECT user_id,
                   round(sum(CASE WHEN rn = 1
                                  THEN value * power(0.9, n - 1)
                                  ELSE 0.1 * power(0.9, n - rn) * value
                             END), 6)       AS ewma,
                   CAST(max(n) AS BIGINT)   AS n
            FROM o GROUP BY user_id
        """),
        (q_multimodal_features, """
            WITH m AS (
              SELECT i AS media_id,
                     CASE WHEN i % 3 = 0 THEN 'image'
                          WHEN i % 3 = 1 THEN 'audio'
                          ELSE 'video' END AS kind,
                     sha256(printf('%X', i)) AS h
              FROM range(0, 200) t(i))
            SELECT media_id, kind,
                   CAST(32 AS INTEGER) AS n_bytes,
                   list_sum(list_transform(range(0, 32),
                     j -> CAST(concat('0x', substr(h, 2*j+1, 2)) AS INTEGER)
                   )) / 32.0 AS mean_byte
            FROM m
        """),
        # full-probe IVF (n_probe = n_lists) searches every list, so its
        # contract is exactly the brute-force top-k
        (q_ann_ivf_topk, _COSINE_TOPK_SQL),
        (q_sample_stratified, (
            "SELECT doc_id, lang, source, n_chars FROM documents WHERE "
            + _curation.hash_sample_sql(
                "doc_id", {"en": 0.25}, "lang", default_rate=0.75
            )
        )),
        (q_decontaminate, _curation.contamination_sql(
            "doc_id % 101 != 0", "doc_id % 101 = 0", n=4
        )),
        (q_tfidf_top_terms, _curation.top_terms_sql("lang", k=10)),
        (q_corpus_length_stats, _curation.length_stats_sql("lang")),
        (q_repetition_signals, (
            "SELECT doc_id, n_words, n_distinct_words, dup_word_fraction, "
            "top_bigram_count, top_bigram_fraction FROM ("
            + _text.repetition_signals_sql("documents")
            + ")"
        )),
        (q_curation_pipeline, f"""
            WITH sampled AS (
              SELECT * FROM documents
              WHERE {_curation.hash_sample_sql(
                  "doc_id", {"en": 0.25}, "lang", default_rate=0.75)}
            ),
            rep AS ({_text.repetition_signals_sql("sampled")}),
            gated AS (
              SELECT *, CAST({quality_score_sql("text")} AS DOUBLE) AS quality
              FROM rep WHERE dup_word_fraction <= 0.6
            )
            SELECT lang,
                   CAST(count(*) AS BIGINT)      AS n_docs,
                   CAST(sum(n_words) AS BIGINT)  AS total_words,
                   round(CAST(sum(CAST(dup_word_fraction AS DECIMAL(20,10)))
                              AS DOUBLE) / count(*), 6) AS avg_dup_fraction
            FROM gated WHERE quality >= 1.0
            GROUP BY lang
        """),
        (q_chunk_documents, _curation.chunk_spans_sql(
            "documents", size=32, overlap=8
        )),
        (q_pack_sequences, _curation.pack_sequences_sql(
            "documents", capacity=256, n_shards=4
        )),
        (q_unigram_logprob, _curation.unigram_logprob_sql("documents")),
        (q_source_quota, """
            SELECT doc_id, source, n_chars,
                   CAST(row_number() OVER (
                     PARTITION BY source
                     ORDER BY n_chars DESC, doc_id ASC) AS INTEGER)
                     AS quota_rank
            FROM documents
            QUALIFY quota_rank <= 10
        """),
        (q_dedup_spans, _curation.dedup_spans_sql("documents", size=8)),
        (q_token_budget, _curation.token_budget_select_sql(
            "documents", "source", "n_chars", budget=600,
            out_cols="doc_id, source, n_chars",
        )),
        (q_temperature_resample, _curation.temperature_resample_sql(
            "documents", "lang", temperature=2.0,
            out_cols="doc_id, lang",
        )),
        (q_encode_tokens, _ranking.encode_tokens_sql("documents")),
    ]



_NOT_HASHABLE = (
    T.ArrayType, T.MapType, T.StructType, T.BinaryType, T.DecimalType
)


def _driver_hashable(build: Builder) -> Builder:
    """``build`` behind the contract's one output rule: the driver hashes
    scalar values only, so an array, map, struct, binary or decimal
    output column raises, naming the query and the column. Read from the
    schema alone, which runs no Spark job."""
    name = _name(build)

    @functools.wraps(build)
    def checked(spark: SparkSession, sf: str) -> DataFrame:
        df = build(spark, sf)
        bad = [
            f"{f.name} ({f.dataType.simpleString()})"
            for f in df.schema.fields
            if isinstance(f.dataType, _NOT_HASHABLE)
        ]
        if bad:
            raise TypeError(
                f"contract query {name!r}: column {', '.join(bad)} is not "
                "driver-hashable; project arrays to JSON text and decimals "
                "to strings"
            )
        return df

    return checked


def _name(build: Builder) -> str:
    return build.__name__.removeprefix("q_")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {_name(fn): _driver_hashable(fn) for fn, _ in _contracts()}


def oracle_sql() -> dict[str, str]:
    return {_name(fn): sql for fn, sql in _contracts() if sql is not None}
