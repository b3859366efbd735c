"""North-rule payload tests: the F1 token table, per-row token-array
equality vs the DuckDB oracle, and the flagship calc→link→accu pipeline
(SURVEY.md §5.2 items 2 and the §7.1 minimum slice)."""

from __future__ import annotations

import duckdb

from bistro_spark.functions.tokens import n_tok_native
from bistro_spark.pipeline import flagship
from bistro_spark.sources.tokens import token_table, token_table_duckdb_sql

N = 100


def test_token_table_matches_duckdb_oracle_exactly(spark):
    """Per-row invariant (input_hint): exact tokens array<int32> equality."""
    got = {
        r["doc_id"]: r.asDict()
        for r in token_table(spark, N).collect()
    }
    oracle = duckdb.sql(token_table_duckdb_sql(N)).fetchall()
    assert len(got) == N == len(oracle)
    for doc_id, tokens, n_tok, source, event_time, batch_ofs in oracle:
        g = got[doc_id]
        assert g["tokens"] == tokens, doc_id  # exact int32 array equality
        assert g["n_tok"] == n_tok
        assert g["source"] == source
        assert g["event_time"].replace(tzinfo=None) == event_time
        assert g["batch_ofs"] == batch_ofs


def test_token_table_fast_identical(spark):
    """The numpy/Arrow bench generator produces element-identical output to
    the closed-form Catalyst generator (exact array<int32> equality)."""
    from bistro_spark.sources.tokens import token_table_fast

    slow = {r["doc_id"]: r.asDict() for r in token_table(spark, N).collect()}
    fast = {r["doc_id"]: r.asDict() for r in token_table_fast(spark, N).collect()}
    assert slow.keys() == fast.keys()
    for k in slow:
        assert slow[k]["tokens"] == fast[k]["tokens"], k
        assert slow[k]["n_tok"] == fast[k]["n_tok"]
        assert slow[k]["source"] == fast[k]["source"]
        assert slow[k]["event_time"] == fast[k]["event_time"]


def test_n_tok_invariant_stored_vs_native(spark):
    """The calc n_tok_native (F.size) == the stored n_tok, for every row."""
    df = token_table(spark, N).select(
        "doc_id",
        "n_tok",
        n_tok_native("tokens").alias("n_native"),
    )
    bad = df.filter("n_tok <> n_native").count()
    assert bad == 0


def test_flagship_pipeline_vs_duckdb(spark):
    """calc→link→accu rollup vs a DuckDB oracle on the same generated input
    (keyed, unordered comparison per SURVEY.md §5.3)."""
    out = {r["source"]: r.asDict() for r in flagship(spark, token_table(spark, N)).collect()}

    oracle_rows = duckdb.sql(
        f"""
        WITH t AS ({token_table_duckdb_sql(N)}),
        dim(source, weight, origin) AS (VALUES
          ('web',1.0,'crawl'), ('code',0.5,'github'), ('books',2.0,'scan'),
          ('wiki',1.5,'dump'), ('archive',9.9,'cold'))
        SELECT dim.source, dim.weight, dim.origin,
               count(t.doc_id)                       AS n_seq,
               coalesce(sum(t.n_tok), 0)             AS sum_tok,
               coalesce(sum(t.n_tok * dim.weight),0) AS sum_weighted
        FROM dim LEFT JOIN t USING (source)
        GROUP BY 1,2,3
        """
    ).fetchall()
    assert len(out) == 5
    for source, weight, origin, n_seq, sum_tok, sum_weighted in oracle_rows:
        g = out[source]
        assert g["n_seq"] == n_seq, source
        assert g["sum_tok"] == sum_tok, source
        assert abs(g["sum_weighted"] - float(sum_weighted)) < 1e-9, source
    assert out["archive"]["n_seq"] == 0  # empty group -> default


def test_sketch_calc_arrow_parity(spark):
    """The fused mapInArrow sketch stage must agree with its unfused twins:
    n_tok_calc == size(tokens), tok_sig == the Catalyst token_minhash, the
    fingerprint is a deterministic pure function of the signature, and the
    tokens column is gone from the output schema."""
    from pyspark.sql import functions as F

    from bistro_spark.operators.dedup import sketch_calc_arrow, token_minhash
    from bistro_spark.sources.tokens import token_table_fast

    df = token_table_fast(spark, 300, partitions=3)
    want = {
        r["doc_id"]: (r["n"], r["sig"])
        for r in df.select(
            "doc_id",
            F.size("tokens").alias("n"),
            token_minhash("tokens", k=16, stride=1).alias("sig"),
        ).collect()
    }
    out = sketch_calc_arrow(df, k=16, stride=1)
    assert "tokens" not in out.columns
    got = {
        r["doc_id"]: (r["n_tok_calc"], r["tok_sig"], r["fingerprint"])
        for r in out.collect()
    }
    assert got.keys() == want.keys()
    fps = {}
    for k, (n, sig, fp) in got.items():
        assert (n, sig) == want[k], k
        fps.setdefault(tuple(sig), set()).add(fp)
    # one fingerprint per distinct signature (pure function, no collisions
    # among 300 distinct rows)
    assert all(len(v) == 1 for v in fps.values())
    assert len({next(iter(v)) for v in fps.values()}) == len(fps)
    # second run bit-identical (deterministic)
    again = {r["doc_id"]: r["fingerprint"] for r in
             sketch_calc_arrow(df, k=16, stride=1).collect()}
    assert again == {k: v[2] for k, v in got.items()}


def test_empty_input_paths(spark):
    """Degenerate inputs: a 0-row token table flows through the flagship
    (accu defaults populate every dim row) and the fused Arrow sketch stage
    (empty batches yield empty typed output)."""
    from pyspark.sql import functions as F

    from bistro_spark.operators.dedup import sketch_calc_arrow
    from bistro_spark.pipeline import flagship
    from bistro_spark.sources.tokens import token_table_fast

    empty = token_table_fast(spark, 0, partitions=2)
    assert empty.count() == 0

    rollup = flagship(spark, empty).collect()
    assert len(rollup) == 5  # every dim row survives with defaults
    assert all(r["n_seq"] == 0 and r["sum_tok"] == 0 for r in rollup)

    sk = sketch_calc_arrow(empty)
    assert sk.count() == 0 and "tok_sig" in sk.columns
