"""bottomk_sample and stratified_bottomk: brute-force parity and the
TakeOrderedAndProject / WindowGroupLimit plan shapes."""

from __future__ import annotations

import hashlib

from bistro_spark.operators.curation import bottomk_sample

K = 12


def _rows(n=100):
    return [(i, f"s{i % 4}", 10 + i) for i in range(n)]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, n_chars long")


def _brute(rows, k=K):
    keyed = sorted(
        (hashlib.md5(str(i).encode()).hexdigest(), i, s, c)
        for i, s, c in rows
    )[:k]
    return sorted((i, s, c, h) for h, i, s, c in keyed)


def test_batch_matches_brute_force_and_plan(spark):
    df = _df(spark, _rows())
    out = bottomk_sample(df, k=K)
    got = sorted(tuple(r) for r in out.collect())
    assert got == _brute(_rows())
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0]


def test_stratified_bottomk_brute_and_plan(spark):
    from bistro_spark.operators.curation import stratified_bottomk

    rows = _rows(120)
    df = _df(spark, rows)
    out = stratified_bottomk(df, k=5, keep_cols=("n_chars",))
    got = sorted(
        (r["source"], r["rk"], r["doc_id"]) for r in out.collect()
    )
    want = []
    for s in {f"s{i}" for i in range(4)}:
        keyed = sorted(
            (hashlib.md5(str(i).encode()).hexdigest(), i)
            for i, src, _ in rows
            if src == s
        )[:5]
        want.extend((s, rk + 1, i) for rk, (_, i) in enumerate(keyed))
    assert got == sorted(want)
    # exact k per stratum
    from collections import Counter

    counts = Counter(r["source"] for r in out.collect())
    assert all(v == 5 for v in counts.values()) and len(counts) == 4
    # scale path: the rank-limit is pushed into WindowGroupLimit
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
