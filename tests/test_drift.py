"""Snapshot drift detection (operators/drift.py): literal-fixture math,
boundary cases (identical snapshots → 0, disjoint shapes → 2, one-sided
groups → 2), DuckDB twin parity, and exact power-of-two bucketing."""

from __future__ import annotations

import duckdb

from bistro_spark.operators.drift import (
    length_drift,
    length_drift_sql,
    token_novelty,
    token_novelty_sql,
)


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id bigint, source string, n_chars bigint, text string"
    )


def test_length_drift_identical_snapshots_zero(spark):
    rows = [(i, "web", 100 + i, "x") for i in range(20)]
    d = _docs(spark, rows)
    out = length_drift(d, d).collect()
    assert len(out) == 1 and out[0]["l1_drift"] == 0.0
    assert out[0]["n_old"] == 20 and out[0]["n_new"] == 20


def test_length_drift_disjoint_buckets_is_two(spark):
    old = _docs(spark, [(i, "web", 10, "x") for i in range(5)])
    new = _docs(spark, [(i, "web", 10_000, "x") for i in range(5)])
    assert length_drift(old, new).collect()[0]["l1_drift"] == 2.0


def test_length_drift_one_sided_group_scores_two(spark):
    old = _docs(spark, [(1, "web", 50, "x")])
    new = _docs(spark, [(2, "code", 50, "x")])
    got = {r["source"]: r for r in length_drift(old, new).collect()}
    assert got["web"]["l1_drift"] == 2.0 and got["web"]["n_new"] == 0
    assert got["code"]["l1_drift"] == 2.0 and got["code"]["n_old"] == 0


def test_length_drift_half_moved_literal_value(spark):
    """Old: 4 docs in bucket(100)=6; new: 2 there + 2 in bucket(1000)=9
    → L1 = |1-0.5| + |0-0.5| = 1.0."""
    old = _docs(spark, [(i, "web", 100, "x") for i in range(4)])
    new = _docs(
        spark,
        [(0, "web", 100, "x"), (1, "web", 100, "x"),
         (2, "web", 1000, "x"), (3, "web", 1000, "x")],
    )
    assert length_drift(old, new).collect()[0]["l1_drift"] == 1.0


def test_drift_duckdb_twin_parity_on_real_docs(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = sorted(
        tuple(r)
        for r in length_drift(
            docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")
        ).collect()
    )
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS FROM '{sf_dir}/documents.parquet'"
    )
    want = sorted(tuple(r) for r in con.sql(length_drift_sql()).fetchall())
    assert got == want
    got_n = sorted(
        tuple(r)
        for r in token_novelty(
            docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")
        ).collect()
    )
    want_n = sorted(
        tuple(r) for r in con.sql(token_novelty_sql()).fetchall()
    )
    assert got_n == want_n


def test_token_novelty_literal(spark):
    old = _docs(spark, [(1, "web", 1, "the cat sat")])
    new = _docs(spark, [(2, "web", 1, "the dog sat here")])
    r = token_novelty(old, new).collect()[0]
    # dog, here novel out of 4 occurrences
    assert (r["n_tokens_new"], r["n_novel"], r["novelty"]) == (4, 2, 0.5)


def test_token_novelty_vocab_is_group_scoped(spark):
    """A term known in another group still counts as novel here."""
    old = _docs(spark, [(1, "web", 1, "alpha")])
    new = _docs(spark, [(2, "code", 1, "alpha")])
    got = {r["source"]: r["novelty"] for r in token_novelty(old, new).collect()}
    assert got == {"code": 1.0}


def test_token_novelty_unicode_whitespace_parity(spark):
    """Terms split by one rule on both engines: ``\\x0b`` (Java ``\\s``
    only), NBSP and U+3000 (neither engine's ``\\s``) and tab all
    separate words, so old = {a, b, c} and new = a b c d e."""
    rows = [(0, "web", 1, "a\x0bb c"), (1, "web", 1, "a b\xa0c　d\te")]
    got = [tuple(r) for r in token_novelty(
        _docs(spark, [rows[0]]), _docs(spark, [rows[1]])
    ).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents (doc_id BIGINT, source VARCHAR,"
        " n_chars BIGINT, text VARCHAR)"
    )
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?)", rows)
    want = [tuple(r) for r in con.sql(token_novelty_sql()).fetchall()]
    assert got == want == [("web", 5, 2, 0.4)]
