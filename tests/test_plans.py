"""Physical-plan regression tests — the 100TB-readiness properties.

Correctness tests prove the operators compute the right values; these
prove Catalyst compiles our recipes into the plans that survive scale:
links that never shuffle the facts (an in-plan lookup for driver-side
dims, a broadcast join otherwise), fused partial+final accumulates
(one exchange for N accu columns), scan-level column pruning, parquet
filter pushdown, and whole-stage codegen coverage. A regression here is a
silent 10-100x slowdown at cluster scale long before any test fails.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from bistro_spark.schema import Schema
from bistro_spark.sources.tokens import token_table


def plan_of(df, mode: str = "simple") -> str:
    # "simple" prints each operator once (the "formatted" mode repeats
    # operators in its details section, which breaks occurrence counting)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def token_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "tokens")
    token_table(spark, 500, partitions=4).write.mode("overwrite").parquet(path)
    return path


def test_link_is_broadcast_join_no_fact_shuffle(spark):
    """C3 link never shuffles the facts (Column.java#link is a per-row
    lookup — shuffling the facts for it would be the classic scale
    mistake). The flagship's ``sources_dim`` is driver-side rows, so its
    link is a map lookup inside the fact projection: no exchange at all,
    not even the dim's broadcast, and no join."""
    from bistro_spark.pipeline import build_pipeline

    _, facts, _ = build_pipeline(spark, token_table(spark, 100))
    plan = plan_of(facts.df())
    assert "Exchange" not in plan
    assert "SortMergeJoin" not in plan
    assert "Join" not in plan


def test_parquet_link_is_broadcast_join_no_fact_shuffle(spark, tmp_path):
    """A dim read from parquet still compiles to a BroadcastHashJoin: the
    dim ships to the facts, and the only exchange is its broadcast, never
    a hash repartition of the facts."""
    from bistro_spark.sources.tokens import sources_dim

    path = str(tmp_path / "sources")
    sources_dim(spark).write.parquet(path)
    s = Schema(spark)
    dim = s.table("sources", spark.read.parquet(path), key=["source"])
    facts = s.table("tokens", token_table(spark, 100))
    facts.link("src", dim, on={"source": "source"}).bring("src", "weight")
    plan = plan_of(facts.df())
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_accu_columns_fuse_into_one_aggregation(spark):
    """Three accu columns over the same facts+link = ONE partial+final
    hash aggregate pair and ONE shuffle of pre-reduced rows (the reference
    loops per accu column; fusing is our planner's job, Catalyst can't
    merge separate groupBys)."""
    from bistro_spark.pipeline import build_pipeline

    _, _, dim = build_pipeline(spark, token_table(spark, 100))
    plan = plan_of(dim.df())
    assert plan.count("Exchange hashpartitioning") == 1
    # partial + final pair, not three pairs
    assert plan.count("HashAggregate") == 2


def test_flagship_scan_prunes_unused_columns(spark, token_parquet):
    """The flagship rollup needs only (tokens, source): doc_id, n_tok,
    event_time, batch_ofs must not reach the parquet scan."""
    from bistro_spark.pipeline import flagship

    out = flagship(spark, spark.read.parquet(token_parquet))
    plan = plan_of(out)
    scan_lines = [
        ln for ln in plan.splitlines() if "ReadSchema" in ln
    ]
    assert scan_lines, plan
    schema_line = " ".join(scan_lines)
    assert "tokens" in schema_line and "source" in schema_line
    for unused in ("doc_id", "event_time", "batch_ofs"):
        assert unused not in schema_line, schema_line


def test_where_filter_pushes_down_to_parquet(spark, token_parquet):
    """T3 where on a source table reaches the scan as PushedFilters, not a
    post-scan Filter only."""
    s = Schema(spark)
    t = s.table("tok", spark.read.parquet(token_parquet))
    t.where("n_tok > 100")
    plan = plan_of(t.df().select("doc_id", "n_tok"))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "GreaterThan(n_tok,100)" in " ".join(pushed), plan


def test_calc_chain_stays_in_wholestage_codegen(spark):
    """A calc chain (native expressions) compiles into a WholeStageCodegen
    span — no interpreted projection boundaries between calcs."""
    s = Schema(spark)
    t = s.table("tok", token_table(spark, 100))
    t.calc("a", "n_tok * 2")
    t.calc("b", "a + 1")
    t.calc("c", "concat(doc_id, '-', cast(b as string))")
    plan = plan_of(t.df().select("c"))
    # "*(n)" prefixes mark whole-stage-codegen spans in the simple plan;
    # the whole chain must collapse into span 1 (no interpreted boundary)
    assert "*(1) Project" in plan and "*(2)" not in plan, plan


def test_salted_agg_two_phase_shape(spark):
    """Salted aggregation = exactly two hash exchanges: (key, salt) then
    key — the skew-absorbing shape."""
    from bistro_spark.skew import salted_agg

    df = token_table(spark, 200)
    out = salted_agg(
        df,
        ["source"],
        {"n": "count(*)", "s": "sum(n_tok)"},
        {"n": "sum(n)", "s": "sum(s)"},
        n_salts=8,
    )
    plan = plan_of(out)
    assert plan.count("Exchange hashpartitioning") == 2


def test_range_link_broadcasts_intervals(spark):
    """T4 project-to-range compiles to a broadcast interval join (range
    tables are small dims by construction — the facts never shuffle)."""
    s = Schema(spark)
    ev = s.table("ev", token_table(spark, 100))
    rng = s.range("bins", 0.0, 64.0, 8)
    s.project_to_range(ev, "bin", rng, "n_tok")
    plan = plan_of(ev.df().select("doc_id", "bin"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_embedding_neardup_no_cartesian(spark):
    """Banded embedding LSH compiles to equi hash joins on (table, bucket)
    and id keys — never a CartesianProduct / BroadcastNestedLoopJoin (the
    quadratic all-pairs shape the banding exists to avoid)."""
    from bistro_spark.operators.dedup import embedding_neardup_pairs

    df = spark.createDataFrame(
        [(i, [float(i), 1.0, 2.0, 3.0]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    plan = plan_of(embedding_neardup_pairs(df, threshold=0.99))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_simhash_hamming_is_equi_join(spark):
    """Multi-probe Hamming search joins on probe-key EQUALITY (hash join),
    never an all-pairs bit-distance comparison."""
    from bistro_spark.operators.dedup import simhash_hamming_pairs

    df = spark.createDataFrame(
        [(i, f"alpha beta w{i}") for i in range(20)],
        "doc_id long, text string",
    )
    plan = plan_of(simhash_hamming_pairs(df, max_hamming=1))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan


def test_simhash_hamming_split_probe_multiplicity():
    """Split-probe (meet-in-the-middle) Hamming search explodes only the
    ≤⌈d/2⌉-flip neighborhood on EACH side: 17 probes/side at
    (bits=16, d=2) instead of the naive one-sided 137 — the 8× explode
    reduction that matters at 100 TB."""
    from bistro_spark.operators.dedup import _flip_masks

    assert len(_flip_masks(16, 1)) == 1 + 16  # d=2 → ⌈d/2⌉=1 flip/side
    assert len(_flip_masks(16, 2)) == 1 + 16 + 120  # the naive d=2 count
    assert _flip_masks(16, 0) == [0]
    assert len(set(_flip_masks(16, 2))) == 137  # masks are distinct


def test_sketch_calc_single_arrow_boundary_and_pruned_tokens(spark, token_parquet):
    """The fused sketch path crosses the JVM/Arrow boundary exactly ONCE
    (one ArrowEvalPython/mapInArrow node) and no operator above it carries
    the tokens column; the parquet scan still reads only what the rollup
    needs."""
    from bistro_spark.pipeline import prepare_facts

    out = prepare_facts(
        spark, spark.read.parquet(token_parquet), sketch=True
    ).groupBy("src").agg(
        F.expr("count(*) as n"),
        F.expr("sum(n_tok_calc) as s"),
        F.expr("approx_count_distinct(fingerprint) as d"),
    )
    plan = plan_of(out)
    arrow_nodes = [
        ln for ln in plan.splitlines()
        if "MapInArrow" in ln or "ArrowEvalPython" in ln
    ]
    assert len(arrow_nodes) == 1, plan
    # tokens never re-materializes above the Arrow node: it appears in the
    # scan/Arrow lines only
    above = plan.split(arrow_nodes[0])[0]
    assert "tokens" not in above, above


def test_hash_sample_is_pure_filter_no_exchange(spark):
    """Stratified hash-sampling is a narrow codegen filter: no Exchange,
    no Python node — at 100 TB it runs entirely map-side on the scan."""
    from bistro_spark.operators.curation import hash_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(
        hash_sample(docs, "doc_id", {"en": 0.25}, "lang", 0.75)
        .select("doc_id", "lang")
    )
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "MapInArrow" not in plan, plan
    assert "Filter" in plan, plan


def test_contamination_broadcasts_eval_grams(spark):
    """Decontamination joins the exploded train grams against a BROADCAST
    eval-gram set — the 100 TB train side never shuffles on gram."""
    from bistro_spark.operators.curation import contamination

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(
        contamination(
            docs.filter("doc_id % 7 != 0"), docs.filter("doc_id % 7 = 0"),
            n=4,
        )
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # the exploded TRAIN grams never shuffle: every hash exchange is either
    # the final groupBy(doc_id) aggregation or the gram-distinct inside the
    # tiny eval subtree that feeds the broadcast
    shuffles = [ln for ln in plan.splitlines()
                if "Exchange hashpartitioning" in ln]
    assert all("doc_id" in ln or "gram" in ln for ln in shuffles), plan
    assert sum("doc_id" in ln for ln in shuffles) == 1, plan
    assert sum("gram" in ln for ln in shuffles) <= 1, plan


def test_curation_pipeline_fuses_to_single_scan_one_exchange(spark):
    """The composed curation pass (sample -> repetition gate -> quality
    gate -> report) must stay ONE pruned scan with every row-level gate
    fused into the scan's Filter, then a partial+final aggregate with a
    single exchange — no Python nodes anywhere."""
    import __spark_entry__ as ent

    plan = plan_of(
        ent.q_curation_pipeline(spark, "/root/testdata/sf0.001")
    )
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Exchange") == 1, plan
    assert "Python" not in plan and "MapInArrow" not in plan, plan
    # column pruning: the scan reads only what the report needs
    assert "ReadSchema: struct<doc_id:bigint,text:string,lang:string>" in plan, plan


def test_dedup_spans_partial_agg_no_window_on_span_key(spark):
    """Span dedup's first-occurrence pick must be a partial-aggregatable
    min(struct) (HashAggregate before AND after the exchange — hot
    boilerplate spans collapse map-side), joined back as an equi-join.
    A row_number window over the span key — the naive shape — would ship
    every copy of a hot span to one reducer; assert it's absent."""
    from bistro_spark.operators.curation import dedup_spans

    df = spark.createDataFrame(
        [(i, "w x y z a b c d") for i in range(50)], ["doc_id", "text"]
    )
    plan = plan_of(dedup_spans(df, size=4))
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan  # map-side combine on the span hash
    # the span-key dedup is agg+join, not a global window sort
    assert plan.count("Window") <= 1  # (none expected; <=1 guards detail noise)


def test_temperature_resample_broadcasts_rates(spark):
    """The per-stratum rate table (stratum cardinality rows) must ship to
    the corpus as a broadcast — the 100 TB side never shuffles on the
    stratum key."""
    from bistro_spark.operators.curation import temperature_resample

    df = spark.createDataFrame(
        [(i, "en" if i % 3 else "fr") for i in range(60)],
        ["doc_id", "lang"],
    )
    plan = plan_of(temperature_resample(df, "lang", temperature=2.0))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_token_budget_single_group_exchange(spark):
    """Budget frontier = one hash exchange on the group key feeding the
    window sort; no second shuffle, no driver collect."""
    from bistro_spark.operators.curation import token_budget_select

    df = spark.createDataFrame(
        [(i, f"s{i % 4}", i, "a b c") for i in range(40)],
        ["doc_id", "source", "n_chars", "text"],
    )
    plan = plan_of(
        token_budget_select(df, "source", "n_chars", budget=100)
    )
    assert plan.count("Exchange") == 1
    assert "Window" in plan


def test_repeated_substrings_partial_agg_on_window_hash(spark):
    """Occurrence counting for stride-1 windows must be a two-phase
    count on the window hash (partial_count before the exchange) joined
    back as an equi-join — hot boilerplate windows collapse map-side; no
    cartesian, no global window."""
    from bistro_spark.operators.dedup import repeated_substrings

    df = spark.createDataFrame(
        [(i, "a b c d e f g h i j") for i in range(30)],
        ["doc_id", "text"],
    )
    plan = plan_of(repeated_substrings(df, size=4))
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan
    # interval merging windows are per-doc, never empty-partition-spec
    import re
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "doc_id" in line


def test_verified_pairs_single_digest_no_smj(spark):
    """dedup_verified_pairs at contract scale: the member semi-join and
    both pair-side ngram joins must be broadcast (the pair stream and the
    corpus never shuffle on ids), the ngram table materialized once —
    round-4 plan-audit fix; an AQE size misestimate regressing this to
    SortMergeJoin would shuffle+sort the multi-million-pair stream twice."""
    import __spark_entry__ as ent
    from bistro_spark.caching import pin_scope

    with pin_scope(spark):
        df = ent.q_dedup_verified_pairs(spark, "/root/testdata/sf0.001")
        df.count()  # executed plan = post-AQE truth
        plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2
    # the exact length bound is fused into the pair join, not a later pass
    join_line = next(
        ln for ln in plan.splitlines() if "BroadcastHashJoin" in ln
    )
    assert "least" in join_line and "greatest" in join_line


def test_source_overlap_single_data_shuffle_bounded_tail(spark):
    """source_overlap's 100TB contract: the only data-sized exchange is
    the gram-keyed bit_or (map-side combined — partial_bit_or precedes
    the exchange); everything after it is bounded by 2^G rows regardless
    of corpus size. The pair list rides a broadcast (BNLJ over the mask
    histogram), the final left join broadcasts the per-pair aggregate,
    and no SortMergeJoin exists anywhere. The scan prunes to
    (text, source)."""
    from bistro_spark.operators.dedup import source_overlap

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(source_overlap(df, n=3))
    assert "partial_bit_or" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ReadSchema: struct<text:string,source:string>" in plan


def test_sessionize_single_exchange(spark):
    """Gaps-and-islands: the lag flag, the running session index, and
    the per-session rollup all ride ONE hash exchange on the key — the
    groupBy's (key, session_idx) clustering is satisfied by the window's
    partitioning, so Catalyst must not add a second shuffle."""
    from bistro_spark.operators.temporal import sessionize

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = plan_of(sessionize(ev, gap_s=1800.0))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan


def test_rollup_is_one_expand_one_exchange_no_join(spark):
    """Native rollup = grouping-set Expand + ONE partial+final agg pair;
    a per-level rescan or a union-of-groupBys would show extra scans."""
    from bistro_spark.operators.olap import rollup_report

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(rollup_report(docs))
    assert plan.count("Expand") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_token_entropy_no_window(spark):
    """Entropy is two partial-aggregated groupBys — any Window node here
    means someone reintroduced a per-group running pass."""
    from bistro_spark.operators.olap import token_entropy

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(token_entropy(docs))
    assert "Window" not in plan
    assert "partial" in plan.lower() or "HashAggregate" in plan


def test_expanding_zscore_single_exchange_no_join(spark):
    """All three running statistics share one (key, ts, id) window pass:
    one exchange, no self-join."""
    from bistro_spark.operators.temporal import expanding_zscore

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = plan_of(expanding_zscore(ev))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert plan.count("Window") == 1


def test_funnel_no_cartesian_on_fact_side(spark):
    """The per-step joins are key-equi (broadcast or co-partitioned);
    the only nested-loop is the final single-row conversion base — a
    1-row broadcast side, sanctioned."""
    from bistro_spark.operators.temporal import funnel_conversion

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = plan_of(funnel_conversion(ev))
    assert "CartesianProduct" not in plan
    # every scan is type-pruned: the step filter reaches parquet
    assert "PushedFilters" in plan_of(
        funnel_conversion(ev), mode="formatted"
    ) or "Filter" in plan


def test_decile_report_no_single_partition_sort(spark):
    """Deciles ride the two-phase global_rank: no global (empty
    partition-by) window, no Exchange SinglePartition for data rows."""
    from bistro_spark.operators.olap import decile_report

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(decile_report(docs))
    assert "Exchange SinglePartition" not in plan
    # the rank phase ran through global_rank's eager checkpoint (lineage
    # truncates there), so the tail plan reads the materialized RDD and
    # only re-aggregates — the window it contains is per-_pid, not global
    assert "Scan ExistingRDD" in plan
