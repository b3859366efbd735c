"""Dedup operator tests: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding near-dup — deterministic fixtures, hand-checkable oracles."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from bistro_spark.operators.dedup import (
    cosine,
    embedding_neardup_pairs,
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signature,
    ngram_jaccard,
    ngram_set,
    simhash,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy cat"),  # near dup of 1
    (4, "completely different words entirely unrelated content here"),
    (5, "spark catalyst tungsten arrow columnar execution engine"),
    (6, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_exact_dedup(spark, docs):
    groups, survivors = exact_dedup(docs)
    g = {r["keep_id"]: r["n_dups"] for r in groups.collect()}
    assert g[1] == 3  # docs 1,2,6
    assert g[3] == 1 and g[4] == 1 and g[5] == 1
    ids = sorted(r["doc_id"] for r in survivors.collect())
    assert ids == [1, 3, 4, 5]


def test_exact_dedup_fp_is_md5(spark, docs):
    groups, _ = exact_dedup(docs)
    fps = {r["fp"] for r in groups.collect()}
    assert hashlib.md5(DOCS[0][1].encode()).hexdigest() in fps


def test_minhash_identical_texts_identical_sigs(spark, docs):
    sigs = {r["doc_id"]: r["sig"] for r in minhash_signature(docs).collect()}
    assert sigs[1] == sigs[2] == sigs[6]
    assert sigs[1] != sigs[4]
    assert len(sigs[1]) == 16
    # near-dup shares most signature positions (8 of 9 words identical)
    shared = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    assert shared >= 8  # expectation 16*8/10≈12.8; deterministic here


def test_lsh_candidate_pairs(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(docs).collect()
    }
    # exact dups always share every band
    assert (1, 2) in pairs and (1, 6) in pairs and (2, 6) in pairs
    # unrelated docs never collide on this fixture
    assert (4, 5) not in pairs and (1, 4) not in pairs


def test_simhash(spark, docs):
    hs = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert hs[1] == hs[2] == hs[6]
    # near-dup within small Hamming distance; unrelated far
    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(hs[1], hs[3]) <= 6
    assert hs[1] != hs[4]


def test_ngram_jaccard(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e", "a b c d e"), (2, "a b c d e", "a b c x y"),
         (3, "a b c", "x y z")],
        "pid long, ta string, tb string",
    )
    out = {
        r["pid"]: r["j"]
        for r in df.select(
            "pid",
            ngram_jaccard(ngram_set(F.col("ta")), ngram_set(F.col("tb"))).alias("j"),
        ).collect()
    }
    assert out[1] == 1.0
    # 3-grams of 'a b c d e' = {abc,bcd,cde}; of 'a b c x y' = {abc,bcx,cxy}
    assert abs(out[2] - 1 / 5) < 1e-12
    assert out[3] == 0.0


def test_cosine_exact(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], [0.0, 1.0]), (2, [1.0, 2.0], [2.0, 4.0]),
         (3, [1.0, 0.0], [1.0, 1.0])],
        "pid long, a array<float>, b array<float>",
    )
    out = {
        r["pid"]: r["c"]
        for r in df.select("pid", cosine(F.col("a"), F.col("b")).alias("c")).collect()
    }
    assert abs(out[1]) < 1e-12
    assert abs(out[2] - 1.0) < 1e-12
    assert abs(out[3] - 2 ** -0.5) < 1e-12


def test_embedding_neardup(spark):
    rows = [
        (1, [1.0, 2.0, 3.0, 4.0]),
        (2, [1.0, 2.0, 3.0, 4.0]),      # identical -> cos 1
        (3, [1.01, 2.0, 3.0, 4.0]),     # near
        (4, [-4.0, 3.0, -2.0, 1.0]),    # far
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in embedding_neardup_pairs(df, threshold=0.99).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.9999
    assert (1, 3) in pairs
    assert all(4 not in p for p in pairs)


def _assert_kernel_matches_catalyst(df, k, stride):
    """sketch_calc_arrow's tok_sig (the numpy _minhash_flat kernel) must
    equal the Catalyst token_minhash row for row."""
    from bistro_spark.operators.dedup import sketch_calc_arrow, token_minhash

    df = df.select("doc_id", "tokens")
    want = {
        r["doc_id"]: r["sig"]
        for r in df.select(
            "doc_id", token_minhash("tokens", k=k, stride=stride).alias("sig")
        ).collect()
    }
    got = {
        r["doc_id"]: r["tok_sig"]
        for r in sketch_calc_arrow(df, k=k, stride=stride).collect()
    }
    assert got.keys() == want.keys()
    for doc_id, sig in got.items():
        assert sig == want[doc_id], (k, stride, doc_id)
    return len(got)


def test_token_minhash_jvm_vs_arrow_kernel_identical(spark):
    """The numpy/Arrow kernel must be element-identical to the Catalyst
    higher-order-function variant for the same (k, shingle, stride) —
    including short rows (length < shingle, zero-padded)."""
    from bistro_spark.sources.tokens import token_table_fast

    df = token_table_fast(spark, 300, partitions=4)
    # token_table rows have varied lengths 1..512 by construction; add the
    # degenerate single-token row explicitly
    extra = spark.createDataFrame(
        [("tiny", [7], 1, "web", None, 0)],
        "doc_id string, tokens array<int>, n_tok int, source string, "
        "event_time timestamp, batch_ofs long",
    )
    df = df.unionByName(extra)
    for k, stride in ((4, 4), (16, 1)):
        assert _assert_kernel_matches_catalyst(df, k, stride) == 301


def test_token_minhash_kernel_randomized_ragged(spark):
    """Randomized ragged-array parity (seeded): the numpy kernel and the
    Catalyst HOF variant agree on adversarial length mixes — many rows
    shorter than the shingle width, runs of identical tokens, max-id
    tokens (overflow guard), single-row chunk boundaries."""
    import numpy as np

    rng = np.random.RandomState(7)
    rows = []
    for i in range(120):
        kind = i % 4
        if kind == 0:
            n = int(rng.randint(1, 4))  # shorter than / at shingle width
        elif kind == 1:
            n = int(rng.randint(4, 40))
        elif kind == 2:
            n = 1  # degenerate
        else:
            n = int(rng.randint(400, 512))  # forces multi-chunk paths
        if kind == 3:
            toks = [50256] * n  # max vocab id everywhere: overflow guard
        else:
            toks = [int(x) for x in rng.randint(0, 50257, size=n)]
        rows.append((f"r{i}", toks))
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>").repartition(5)
    assert _assert_kernel_matches_catalyst(df, 8, 2) == 120


def test_simhash_hamming_pairs(spark):
    """Multi-probe bit-flip search finds exactly the pairs within Hamming
    distance <= d of their sketches (verified against direct enumeration)."""
    from bistro_spark.operators.dedup import simhash, simhash_hamming_pairs

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta token{i % 7} end")
         for i in range(40)],
        "doc_id long, text string",
    )
    sketches = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    for d in (0, 1, 2):
        want = {
            (a, b, bin(sketches[a] ^ sketches[b]).count("1"))
            for a in sketches for b in sketches
            if a < b and bin(sketches[a] ^ sketches[b]).count("1") <= d
        }
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_hamming_pairs(docs, max_hamming=d).collect()
        }
        assert got == want, d
    assert want, "fixture must produce at least one qualifying pair"


def test_embedding_neardup_contract_premise(spark, sf_dir):
    """The q_embedding_neardup hash contract equates banded LSH output
    with the all-pairs ≥0.99 oracle — valid ONLY while the corpus has no
    NATURAL pair ≥ 0.99 (injected exact copies collide in every table;
    natural near-pairs could miss all 4). Recompute the premise at the
    test sf directly (numpy all-pairs max cosine off the diagonal), and
    at the driver's contract sf when present."""
    import glob

    import numpy as np

    for root in {sf_dir, "/root/testdata/sf0.01"}:
        if not glob.glob(f"{root}/embeddings.parquet"):
            continue
        rows = (
            spark.read.parquet(f"{root}/embeddings.parquet")
            .select("embedding")
            .collect()
        )
        m = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        sims = m @ m.T
        np.fill_diagonal(sims, -1.0)
        assert sims.max() < 0.99, (
            f"{root}: natural pair at cosine {sims.max():.4f} breaks the "
            "embedding_neardup contract premise — re-derive the banding"
        )


def test_embedding_neardup_bucket_cap(spark):
    """max_bucket drops degenerate hot buckets from candidacy (hard bound
    on join fan-out); without the cap the same corpus pairs fully."""
    from bistro_spark.operators.dedup import embedding_neardup_pairs

    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(30)]  # one hot bucket
    rows += [(100, [5.0, -1.0, 2.0, 0.5]), (101, [5.0, -1.0, 2.0, 0.5])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    uncapped = embedding_neardup_pairs(df, threshold=0.99).count()
    assert uncapped == 30 * 29 // 2 + 1
    capped = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(
            df, threshold=0.99, max_bucket=10
        ).collect()
    }
    # the 30-member bucket exceeds the cap in every table -> dropped;
    # the 2-member duplicate pair survives
    assert capped == {(100, 101)}


def test_connected_components_and_survivors(spark):
    """Min-label propagation: chain 1-2-3, pair 10-11, isolated 20 →
    components {1,1,1,10,10,20}; survivors = the min id per cluster."""
    from bistro_spark.operators.dedup import dedup_clusters

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 10, 11, 20)],
        "doc_id long, text string",
    )
    edges = spark.createDataFrame(
        [(2, 3), (1, 2), (10, 11)], "id_a long, id_b long"
    )
    assignments, survivors = dedup_clusters(docs, edges)
    got = {r["id"]: r["component"] for r in assignments.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}
    assert {r["doc_id"] for r in survivors.collect()} == {1, 10, 20}


def test_connected_components_long_chain_converges_log_rounds(spark):
    """A 64-node path graph (diameter 63, ≫ any sane round budget for
    min-label propagation) converges under the alternating
    large-star/small-star schedule in ≤ 2·log₂(n) = 12 rounds — the
    O(log n)-regardless-of-diameter property the 10^9-node crawl-chain
    case needs."""
    from bistro_spark.operators.dedup import connected_components

    n = 64
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    stats: dict = {}
    got = {
        r["id"]: r["component"]
        for r in connected_components(
            edges, nodes, max_iter=12, _stats=stats
        ).collect()
    }
    assert got == {i: 0 for i in range(n)}
    assert stats["rounds"] <= 12


def test_connected_components_nonconvergence_raises(spark):
    """Exhausting max_iter with the edge set still in flux must RAISE
    (silent partial labels were the round-2 wrong-answer-at-scale
    hazard); on_nonconvergence='warn' downgrades to a RuntimeWarning."""
    import pytest

    from bistro_spark.operators.dedup import connected_components

    n = 16
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, nodes, max_iter=1)
    with pytest.warns(RuntimeWarning, match="did not converge"):
        connected_components(
            edges, nodes, max_iter=1, on_nonconvergence="warn"
        )


# ------------------------------------------ cross-snapshot span dedup -----


def test_incremental_span_dedup_known_values(spark):
    from bistro_spark.operators.dedup import incremental_span_dedup

    old = spark.createDataFrame(
        [(0, "a b c d"), (2, "e f g h")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [
            (1, "a b c d"),          # both spans in old -> dup
            (3, "a b x y z w"),      # 1 of 3 spans matches -> kept
            (5, "q r s t"),          # nothing matches -> kept
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in incremental_span_dedup(
            new, old, size=2, threshold=0.5
        ).collect()
    }
    assert out[1].is_dup == 1 and out[1].n_matched == 2
    assert out[3].is_dup == 0 and out[3].n_matched == 1
    assert out[5].is_dup == 0 and out[5].n_matched == 0


def test_incremental_span_dedup_matches_duckdb(spark):
    import duckdb

    from bistro_spark.operators.dedup import (
        incremental_span_dedup,
        incremental_span_dedup_sql,
    )

    path = "/root/testdata/sf0.001/documents.parquet"
    docs = spark.read.parquet(path)
    spark_rows = sorted(
        tuple(r)
        for r in incremental_span_dedup(
            docs.filter("doc_id % 2 = 1"),
            docs.filter("doc_id % 2 = 0"),
            size=8,
            threshold=0.5,
        ).collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    duck_rows = sorted(
        tuple(r)
        for r in con.sql(
            incremental_span_dedup_sql(
                "documents", "doc_id % 2 = 1", "doc_id % 2 = 0",
                size=8, threshold=0.5,
            )
        ).fetchall()
    )
    assert spark_rows == duck_rows


# ------------------------------------- repeated-substring detection -------


def test_repeated_substrings_known_values(spark):
    from bistro_spark.operators.dedup import repeated_substrings

    # "c d e f" repeats across docs at different alignments; stride-1
    # windows catch it where a fixed grid would miss the offset copy.
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "x c d e f y z w q"),
            (3, "p q r s t u v w x y"),  # no 4-window repeats... except w x
        ],
        ["doc_id", "text"],
    )
    out = sorted(
        tuple(r) for r in repeated_substrings(df, size=4).collect()
    )
    spans = {(d, s, e) for d, s, e, _ in out}
    # doc 1: windows starting at 1..3 contain c d e f? window size 4:
    # repeated window is exactly "c d e f" = words 3-6 of doc 1
    assert (1, 3, 6) in spans
    # doc 2: "c d e f" = words 2-5
    assert (2, 2, 5) in spans
    # doc 3 has no 4-gram shared with others
    assert not any(d == 3 for d, _, _ in spans)


def test_repeated_substrings_merges_overlaps(spark):
    from bistro_spark.operators.dedup import repeated_substrings

    # two docs share a 6-word run -> three overlapping 4-windows merge
    # into ONE maximal region per doc
    df = spark.createDataFrame(
        [(1, "a b c d e f x1 y1"), (2, "z1 a b c d e f w1")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in repeated_substrings(df, size=4).collect()}
    assert out[1].start_word == 1 and out[1].end_word == 6
    assert out[1].n_windows == 3
    assert out[2].start_word == 2 and out[2].end_word == 7


def test_repeated_substrings_short_docs_excluded(spark):
    from bistro_spark.operators.dedup import repeated_substrings

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a b c d e"), (4, "a b c d e")],
        ["doc_id", "text"],
    )
    out = repeated_substrings(df, size=4).collect()
    # docs 1/2 are shorter than the window -> no windows, no crash;
    # docs 3/4 repeat fully
    assert {r.doc_id for r in out} == {3, 4}


def test_repeated_substrings_matches_duckdb(spark):
    import duckdb

    from bistro_spark.operators.dedup import (
        repeated_substrings,
        repeated_substrings_sql,
    )

    path = "/root/testdata/sf0.001/documents.parquet"
    got = sorted(
        tuple(r)
        for r in repeated_substrings(
            spark.read.parquet(path), size=8
        ).collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    want = sorted(
        tuple(r)
        for r in con.sql(repeated_substrings_sql("documents", size=8)).fetchall()
    )
    assert got == want and len(got) > 0


def test_strip_repeated_substrings_known_values(spark):
    from bistro_spark.operators.dedup import strip_repeated_substrings

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),   # "c d e f" shared with doc 2
            (2, "x c d e f y z w"),
            (3, "p q r s t u v n"),   # untouched
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in
           strip_repeated_substrings(df, size=4).collect()}
    assert out[1].text_stripped == "a b g h" and out[1].n_removed == 4
    assert out[2].text_stripped == "x y z w"
    assert out[3].text_stripped == "p q r s t u v n"
    assert out[3].n_removed == 0 and out[3].n_words == 8


def test_strip_repeated_substrings_matches_duckdb(spark):
    import duckdb

    from bistro_spark.operators.dedup import (
        strip_repeated_substrings,
        strip_repeated_substrings_sql,
    )

    path = "/root/testdata/sf0.001/documents.parquet"
    got = sorted(
        tuple(r)
        for r in strip_repeated_substrings(
            spark.read.parquet(path), size=8
        ).collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    want = sorted(
        tuple(r)
        for r in con.sql(
            strip_repeated_substrings_sql("documents", size=8)
        ).fetchall()
    )
    assert got == want
    # every doc passes through, some lose words on this corpus
    assert len(got) == spark.read.parquet(path).count()
    assert any(r[2] > 0 for r in got)


# ------------------------------------------- source-overlap audit matrix --


def test_source_overlap_known_values(spark):
    from bistro_spark.operators.dedup import source_overlap

    df = spark.createDataFrame(
        [
            ("A", "w1 w2 w3"),   # 2-grams {w1 w2, w2 w3}
            ("B", "w1 w2 x"),    # 2-grams {w1 w2, w2 x}
            ("C", "z"),          # short doc -> zero grams
            (None, "w1 w2 w3"),  # null source -> excluded
        ],
        ["source", "text"],
    )
    out = {
        (r.source_a, r.source_b): r
        for r in source_overlap(df, n=2).collect()
    }
    assert set(out) == {("A", "B"), ("A", "C"), ("B", "C")}
    ab = out[("A", "B")]
    assert (ab.inter_grams, ab.union_grams, ab.jaccard) == (1, 3, 0.333333)
    # zero-overlap pairs are retained, zero-gram source has union = |other|
    assert (out[("A", "C")].inter_grams, out[("A", "C")].union_grams) == (0, 2)
    assert out[("B", "C")].jaccard == 0.0


def test_source_overlap_group_cap_raises(spark):
    from bistro_spark.operators.dedup import source_overlap

    df = spark.createDataFrame(
        [(f"s{i}", "a b c d") for i in range(5)], ["source", "text"]
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_groups"):
        source_overlap(df, max_groups=4)


def test_source_overlap_matches_duckdb(spark):
    import duckdb

    from bistro_spark.operators.dedup import source_overlap, source_overlap_sql

    path = "/root/testdata/sf0.001/documents.parquet"
    spark_rows = sorted(
        tuple(r) for r in source_overlap(spark.read.parquet(path), n=3).collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    duck_rows = sorted(
        tuple(r) for r in con.sql(source_overlap_sql("documents", n=3)).fetchall()
    )
    assert spark_rows == duck_rows


def test_source_overlap_empty_and_single_group(spark):
    """Zero rows -> zero pairs; one group -> zero pairs (no self-pair)."""
    from bistro_spark.operators.dedup import source_overlap

    empty = spark.createDataFrame([], "source string, text string")
    assert source_overlap(empty).count() == 0
    one = spark.createDataFrame([("A", "a b c d")], ["source", "text"])
    assert source_overlap(one).count() == 0


def test_cluster_size_histogram(spark):
    from bistro_spark.operators.dedup import cluster_size_histogram

    assign = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5)],
        "id long, component long",
    )
    got = {r.cluster_size: (r.n_clusters, r.n_docs)
           for r in cluster_size_histogram(assign).collect()}
    assert got == {3: (1, 3), 1: (1, 1), 2: (1, 2)}
    assert sum(nd for _, nd in got.values()) == 6


# ------------------------------------------- cross-source dup matrix ----


def test_dup_matrix_known_values(spark):
    from bistro_spark.operators.dedup import dup_matrix

    df = spark.createDataFrame(
        [
            ("A", "same doc"),      # shared with B (exact)
            ("A", "only in a"),
            ("B", "same doc"),
            ("B", "same doc"),      # within-B dup collapses to one content
            ("B", "only in b"),
            ("C", "unique c"),
            (None, "same doc"),     # null source -> excluded
        ],
        ["source", "text"],
    )
    out = {(r.source_a, r.source_b): r for r in dup_matrix(df).collect()}
    assert set(out) == {("A", "B"), ("A", "C"), ("B", "C")}
    ab = out[("A", "B")]
    assert (ab.shared_contents, ab.union_contents, ab.jaccard) == (1, 3, 0.333333)
    assert out[("A", "C")].shared_contents == 0
    assert out[("B", "C")].union_contents == 3


def test_dup_matrix_matches_duckdb(spark):
    import duckdb

    from bistro_spark.operators.dedup import dup_matrix, dup_matrix_sql

    path = "/root/testdata/sf0.001/documents.parquet"
    spark_rows = sorted(
        tuple(r) for r in dup_matrix(spark.read.parquet(path)).collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    duck_rows = sorted(
        tuple(r) for r in con.sql(dup_matrix_sql("documents")).fetchall()
    )
    assert spark_rows == duck_rows


def test_dup_matrix_no_content_self_join(spark):
    """The fingerprint relation must never join itself — the only joins in
    the plan are broadcasts of the pair list / per-pair aggregate."""
    from bistro_spark.operators.dedup import dup_matrix

    df = spark.createDataFrame(
        [("A", "x y"), ("B", "x y"), ("C", "q")], ["source", "text"]
    )
    plan = dup_matrix(df)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_minhash_calibration_identical_docs_hit_the_top_bucket(spark):
    """A pair of identical documents must land in the est_matches=k
    bucket with exact Jaccard 1.0; the estimate column is the exact
    integer ratio; mean stays inside [min, max]."""
    from bistro_spark.caching import pin_scope
    from bistro_spark.operators.dedup import minhash_calibration

    text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(1, text), (2, text), (3, "completely different words here xyz")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with pin_scope(spark):
        got = {
            r["est_matches"]: r
            for r in minhash_calibration(df, k=16, bands=2).collect()
        }
    top = got[16]
    assert top["n_pairs"] >= 1
    assert top["est_jaccard"] == 1.0
    assert top["mean_exact"] == 1.0
    for r in got.values():
        assert r["est_jaccard"] == round(r["est_matches"] / 16.0, 6)
        assert r["min_exact"] <= r["mean_exact"] <= r["max_exact"]


def test_minhash_calibration_pins_are_scope_released(spark):
    from bistro_spark.caching import pin_scope, pinned_ids
    from bistro_spark.operators.dedup import minhash_calibration

    before = pinned_ids(spark)
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    with pin_scope(spark):
        minhash_calibration(df, k=16, bands=2).collect()
    assert pinned_ids(spark) == before
