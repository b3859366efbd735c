"""Preference-data construction (operators/preference.py) and the SFT
dialog loss-mask manifest (trainprep.sft_turn_spans): brute-force
parity against pure-Python folds (ties, single-candidate prompts,
margin gates), the all_pairs cap guard, NULL-reward guards, SQL twins
on non-default geometry, and the SFT tile property (spans + sentinels
cover [0, n_out) exactly in the realized rendering)."""

from __future__ import annotations

import hashlib

import duckdb
import pytest
from pyspark.sql import functions as F

from bistro_spark.operators.preference import (
    preference_pairs,
    preference_pairs_sql,
    preference_stats,
    preference_stats_sql,
)
from bistro_spark.operators.trainprep import (
    sft_turn_spans,
    sft_turn_spans_sql,
)

DOCS = "/root/testdata/sf0.001/documents.parquet"

# (prompt, cand, reward) — prompt 1: clean order; prompt 2: a tie at the
# top (chosen = smaller cand id); prompt 3: single candidate; prompt 4:
# all rewards equal (no pairs at min_margin=1).
CANDS = [
    (1, 10, 7),
    (1, 11, 3),
    (1, 12, 5),
    (2, 20, 9),
    (2, 21, 9),
    (2, 22, 1),
    (3, 30, 4),
    (4, 40, 2),
    (4, 41, 2),
]


def _cands_df(spark):
    return spark.createDataFrame(
        CANDS, "prompt_id long, cand_id long, reward long"
    )


def _brute_best(rows):
    """chosen per prompt under (reward DESC, cand ASC)."""
    best = {}
    for p, c, r in rows:
        if p not in best or (-r, c) < (-best[p][1], best[p][0]):
            best[p] = (c, r)
    return best


# ------------------------------------------------------ preference_pairs --


def test_best_vs_rest_brute_parity(spark):
    got = {
        (r["prompt_id"], r["rejected"]): r
        for r in preference_pairs(_cands_df(spark)).collect()
    }
    best = _brute_best(CANDS)
    want = {}
    for p, c, r in CANDS:
        bc, br = best[p]
        if c != bc and br - r >= 1:
            want[(p, c)] = (bc, br, r, br - r)
    assert set(got) == set(want)
    for key, (bc, br, r, m) in want.items():
        row = got[key]
        assert (
            row["chosen"],
            row["chosen_reward"],
            row["rejected_reward"],
            row["margin"],
        ) == (bc, br, r, m)
    # the tie prompt: chosen is the SMALLER cand id, its equal-reward
    # twin is excluded by the margin (margin 0 < 1), cand 22 pairs
    assert (2, 22) in got and got[(2, 22)]["chosen"] == 20
    assert (2, 21) not in got
    # single-candidate and all-tied prompts emit nothing
    assert not any(k[0] in (3, 4) for k in got)


def test_all_pairs_policy_and_guard(spark):
    df = _cands_df(spark)
    got = {
        (r["chosen"], r["rejected"])
        for r in preference_pairs(df, policy="all_pairs").collect()
    }
    want = {
        (c1, c2)
        for p1, c1, r1 in CANDS
        for p2, c2, r2 in CANDS
        if p1 == p2 and r1 - r2 >= 1
    }
    assert got == want
    assert (20, 21) not in got  # margin 0: ties never pair either way
    with pytest.raises(ValueError, match="max_group"):
        preference_pairs(df, policy="all_pairs", max_group=2)
    with pytest.raises(ValueError, match="policy"):
        preference_pairs(df, policy="nope")


def test_null_reward_raises(spark):
    df = spark.createDataFrame(
        [(1, 10, 5), (1, 11, None)],
        "prompt_id long, cand_id long, reward long",
    )
    with pytest.raises(ValueError, match="NULL reward"):
        preference_pairs(df)
    with pytest.raises(ValueError, match="NULL reward"):
        preference_stats(df)


def test_min_margin_gate(spark):
    got = preference_pairs(_cands_df(spark), min_margin=4).collect()
    # only prompt-1 margins 7-3=4 survive; 7-5=2 is gated
    assert {(r["prompt_id"], r["rejected"], r["margin"]) for r in got} == {
        (1, 11, 4),
        (2, 22, 8),
    }


def test_all_pairs_min_margin_zero_has_no_self_pairs(spark):
    """At min_margin=0 equal-reward candidates pair both ways, but no
    candidate pairs with itself, on either engine."""
    base = "SELECT prompt_id, cand_id, reward FROM cands"
    got = sorted(
        tuple(r)
        for r in preference_pairs(
            _cands_df(spark), policy="all_pairs", min_margin=0
        ).collect()
    )
    duck = sorted(
        _duck_rows(preference_pairs_sql(base, policy="all_pairs", min_margin=0))
    )
    assert got == duck
    pairs = {(r[1], r[2]) for r in got}
    assert not any(c == r for c, r in pairs)
    assert {(20, 21), (21, 20), (40, 41), (41, 40)} <= pairs
    assert not any(r[0] == 3 for r in got)  # single candidate: no pair


# ------------------------------------------------------ preference_stats --


def test_stats_brute_parity(spark):
    got = {
        r["prompt_id"]: r for r in preference_stats(_cands_df(spark)).collect()
    }
    assert set(got) == {1, 2, 3, 4}
    r1 = got[1]
    assert (
        r1["n_cands"],
        r1["best_reward"],
        r1["second_reward"],
        r1["gap"],
        r1["reward_range"],
    ) == (3, 7, 5, 2, 4)
    # tie at the top: gap is 0 — the no-signal marker
    r2 = got[2]
    assert (r2["best_reward"], r2["second_reward"], r2["gap"]) == (9, 9, 0)
    assert r2["reward_range"] == 8
    # single candidate: NULL second/gap, range 0
    r3 = got[3]
    assert r3["n_cands"] == 1 and r3["best_reward"] == 4
    assert r3["second_reward"] is None and r3["gap"] is None
    assert r3["reward_range"] == 0


def _duck_rows(sql):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE cands (prompt_id BIGINT, cand_id BIGINT, "
        "reward BIGINT)"
    )
    con.executemany("INSERT INTO cands VALUES (?, ?, ?)", CANDS)
    return con.execute(sql).fetchall()


def test_sql_twins_on_synthetic(spark):
    base = "SELECT prompt_id, cand_id, reward FROM cands"
    for policy in ("best_vs_rest", "all_pairs"):
        spark_rows = sorted(
            tuple(r)
            for r in preference_pairs(
                _cands_df(spark), policy=policy
            ).collect()
        )
        duck = sorted(
            _duck_rows(preference_pairs_sql(base, policy=policy))
        )
        assert spark_rows == duck, policy
    spark_stats = sorted(
        tuple(r) for r in preference_stats(_cands_df(spark)).collect()
    )
    duck_stats = sorted(_duck_rows(preference_stats_sql(base)))
    assert spark_stats == duck_stats


# -------------------------------------------------------- sft_turn_spans --


def test_sft_tile_property(spark):
    """Per document: k = 2 + md5%3 (hashlib-recomputed), roles
    alternate from user, sentinel+span rows tile [0, n_out) exactly,
    and the realized rendering puts each sentinel and word where the
    manifest claims."""
    docs = spark.read.parquet(DOCS)
    rows = sft_turn_spans(docs).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    texts = {
        r["doc_id"]: r["text"]
        for r in docs.select("doc_id", "text").collect()
    }
    assert set(by_doc) == set(texts)
    for doc_id, turns in by_doc.items():
        words = [w for w in texts[doc_id].split(" ") if w != ""]
        n = len(words)
        k = 2 + (
            int(
                hashlib.md5(f"{doc_id}:turns".encode()).hexdigest()[:8],
                16,
            )
            % 3
        )
        turns.sort(key=lambda r: r["turn_idx"])
        assert [r["turn_idx"] for r in turns] == list(range(k))
        assert all(r["n_turns"] == k and r["n_out"] == n + k for r in turns)
        # realized rendering: sentinel + segment per turn
        out, claimed = [], []
        for r in turns:
            role_tok = "<U>" if r["role"] == "user" else "<A>"
            claimed.append((r["sent_pos"], role_tok))
            assert r["role"] == ("user" if r["turn_idx"] % 2 == 0 else
                                 "assistant")
            assert r["supervised"] == (r["turn_idx"] % 2 == 1)
            lo = (r["turn_idx"] * n) // k
            out.append(role_tok)
            out.extend(words[lo: lo + r["span_len"]])
        assert len(out) == n + k
        # every manifest coordinate matches the realized sequence
        pos = 0
        for r in turns:
            assert out[r["sent_pos"]] in ("<U>", "<A>")
            assert r["sent_pos"] == pos
            pos += 1
            lo = (r["turn_idx"] * n) // k
            assert r["span_start"] == pos
            assert (
                out[r["span_start"]: r["span_start"] + r["span_len"]]
                == words[lo: lo + r["span_len"]]
            )
            pos += r["span_len"]
        assert pos == n + k  # spans + sentinels tile [0, n_out)
        # supervised word total = assistant segment lengths
        sup = sum(r["span_len"] for r in turns if r["supervised"])
        assert sup == sum(
            ((i + 1) * n) // k - (i * n) // k
            for i in range(k)
            if i % 2 == 1
        )


def test_sft_sql_twin_and_short_docs(spark):
    """SQL twin on synthetic docs including empty and 1-word texts
    (zero-length turns must appear on both engines)."""
    data = [
        (100, "alpha beta gamma delta epsilon zeta"),
        (101, "one"),
        (102, ""),
        (103, "  spaced   words  here "),
    ]
    df = spark.createDataFrame(data, "doc_id long, text string")
    spark_rows = sorted(tuple(r) for r in sft_turn_spans(df).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", data)
    duck = sorted(
        con.execute(sft_turn_spans_sql("d")).fetchall()
    )
    assert spark_rows == duck
    # empty doc still emits its k sentinel-only turns
    k102 = [r for r in spark_rows if r[0] == 102]
    assert len(k102) >= 2 and all(r[6] == 0 for r in k102)


# --------------------------------------------------- leakage-safe split --


def test_leakage_safe_split_property(spark):
    """The property the operator exists for: no near-dup edge straddles
    a split boundary (split is a function of the cluster label), and
    the label is itself split_corpus's md5 rule on the component
    (hashlib-recomputed)."""
    from bistro_spark.operators.curation import split_corpus
    from bistro_spark.operators.dedup import (
        connected_components,
        simhash_hamming_pairs,
    )

    docs = spark.read.parquet(DOCS)
    edges = simhash_hamming_pairs(docs, bits=16, max_hamming=2)
    comp = connected_components(
        edges, docs.select(F.col("doc_id").alias("id")), max_iter=30
    )
    out = {
        r["id"]: (r["component"], r["split"])
        for r in split_corpus(comp, key_col="component").collect()
    }
    assert set(out) == {
        r["doc_id"] for r in docs.select("doc_id").collect()
    }
    n_cross_component = 0
    for e in edges.collect():
        a, b = out[e["id_a"]], out[e["id_b"]]
        assert a[1] == b[1], "near-dup pair straddles a split"
        assert a[0] == b[0]
        n_cross_component += 1
    assert n_cross_component > 0, "premise: the corpus has near-dup edges"
    # the split rule is md5(component) against the cumulative 4-hex cuts
    for _id, (component, split) in out.items():
        bucket = hashlib.md5(str(component).encode()).hexdigest()[:4]
        want = (
            "test" if bucket < format(int(round(0.05 * 65536)), "04x")
            else "train" if bucket < format(int(round(0.95 * 65536)), "04x")
            else "val"
        )
        assert split == want


# ------------------------------------------------------ sft_pack_manifest --


def test_sft_doc_stats_closed_form_matches_spans(spark):
    """The zero-shuffle closed form equals aggregating the span
    manifest itself, for every document."""
    from bistro_spark.operators.trainprep import (
        sft_doc_stats,
        sft_turn_spans,
    )

    docs = spark.read.parquet(DOCS)
    got = {
        r["doc_id"]: (r["n_out"], r["n_supervised"])
        for r in sft_doc_stats(docs).collect()
    }
    agg = {}
    for r in sft_turn_spans(docs).collect():
        n_out, sup = agg.get(r["doc_id"], (r["n_out"], 0))
        agg[r["doc_id"]] = (
            r["n_out"],
            sup + (r["span_len"] if r["supervised"] else 0),
        )
    assert got == agg


def test_sft_pack_manifest_consistency(spark):
    """Per-pack totals equal a Python recomputation from the pack
    assignment joined to the doc stats; payload never exceeds capacity
    except for single-dialog oversize packs."""
    from bistro_spark.operators.curation import pack_sequences
    from bistro_spark.operators.trainprep import (
        sft_doc_stats,
        sft_pack_manifest,
    )

    docs = spark.read.parquet(DOCS)
    cap = 64
    got = {
        (r["shard"], r["pack_id"]): r
        for r in sft_pack_manifest(docs, capacity=cap).collect()
    }
    stats = {
        r["doc_id"]: (r["n_out"], r["n_supervised"])
        for r in sft_doc_stats(docs).collect()
    }
    packs: dict = {}
    for r in pack_sequences(
        sft_doc_stats(docs), len_col="n_out", capacity=cap
    ).collect():
        key = (r["shard"], r["pack_id"])
        n_out, sup = stats[r["doc_id"]]
        assert n_out == r["len"]
        c = packs.setdefault(key, [0, 0, 0])
        c[0] += 1
        c[1] += n_out
        c[2] += sup
    assert set(got) == set(packs)
    for key, (n_seqs, payload, sup) in packs.items():
        r = got[key]
        assert (
            r["n_seqs"],
            r["payload_tokens"],
            r["supervised_tokens"],
        ) == (n_seqs, payload, sup)
        assert r["fill_frac"] == round(payload / cap, 6)
        assert r["supervised_frac"] == round(sup / payload, 6)
        assert payload <= cap or n_seqs == 1  # oversize dialog alone
        assert 0 < sup <= payload


# ------------------------------------------------------ reward_normalize --


def test_reward_normalize_brute_parity(spark):
    from bistro_spark.operators.preference import (
        reward_normalize,
        reward_normalize_sql,
    )

    got = {
        (r["prompt_id"], r["cand_id"]): (
            r["rank"],
            r["n_cands"],
            r["norm_ppm"],
        )
        for r in reward_normalize(_cands_df(spark)).collect()
    }
    by_prompt: dict = {}
    for p, c, r in CANDS:
        by_prompt.setdefault(p, []).append((-r, c))
    want = {}
    for p, members in by_prompt.items():
        members.sort()
        n = len(members)
        for rk, (_negr, c) in enumerate(members, 1):
            want[(p, c)] = (
                rk,
                n,
                ((rk - 1) * 1_000_000) // (n - 1) if n > 1 else None,
            )
    assert got == want
    # tie at the top of prompt 2: smaller cand id gets rank 1 / ppm 0
    assert got[(2, 20)][0] == 1 and got[(2, 21)][0] == 2
    # single-candidate prompt: NULL ppm
    assert got[(3, 30)] == (1, 1, None)
    # SQL twin
    duck = sorted(
        _duck_rows(
            reward_normalize_sql("SELECT * FROM cands")
        )
    )
    spark_rows = sorted(
        tuple(r) for r in reward_normalize(_cands_df(spark)).collect()
    )
    assert spark_rows == duck


# --------------------------------------------- context_truncation_sweep --


def test_context_truncation_sweep_brute(spark):
    from bistro_spark.operators.curation import context_truncation_sweep

    lens = [0, 5, 10, 17, 32, 33, 100]
    df = spark.createDataFrame([(v,) for v in lens], "n_tok long")
    got = {
        r["context_len"]: r
        for r in context_truncation_sweep(
            df, lengths=(8, 32, 1000)
        ).collect()
    }
    total = sum(lens)
    for L in (8, 32, 1000):
        r = got[L]
        assert r["n_truncated"] == sum(1 for v in lens if v > L)
        lost = sum(max(v - L, 0) for v in lens)
        assert r["tokens_lost"] == lost
        assert r["total_docs"] == len(lens)
        assert r["total_tokens"] == total
        assert r["frac_lost"] == round(lost / total, 9)
    assert got[1000]["tokens_lost"] == 0  # grid point beyond max length


# ------------------------------------------------- split_leakage_audit --


def test_split_leakage_audit_known_values(spark):
    from bistro_spark.operators.curation import split_leakage_audit

    assign = spark.createDataFrame(
        [(1, "train"), (2, "train"), (3, "val"), (4, "test")],
        "doc_id long, split string",
    )
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    got = {
        (r["split_lo"], r["split_hi"]): (r["n_pairs"], r["is_leak"])
        for r in split_leakage_audit(edges, assign).collect()
    }
    assert got == {
        ("train", "train"): (1, False),
        ("train", "val"): (2, True),
        ("test", "val"): (1, True),
    }


def test_cluster_split_audits_clean_vs_naive(spark):
    """THE property pair: auditing the cluster-keyed split finds zero
    leak rows; auditing the naive doc-id split on the same edge set
    finds some (the premise that motivates leakage_safe_split)."""
    from bistro_spark.operators.curation import (
        split_corpus,
        split_leakage_audit,
    )
    from bistro_spark.operators.dedup import (
        connected_components,
        simhash_hamming_pairs,
    )

    docs = spark.read.parquet(DOCS)
    edges = simhash_hamming_pairs(docs, bits=16, max_hamming=2)
    naive = split_corpus(docs.select("doc_id"), key_col="doc_id")
    leaks_naive = (
        split_leakage_audit(edges, naive).filter("is_leak").collect()
    )
    assert leaks_naive, "premise: naive split leaks on this corpus"
    comp = connected_components(
        edges, docs.select(F.col("doc_id").alias("id")), max_iter=30
    )
    safe = split_corpus(comp, key_col="component").select(
        F.col("id").alias("doc_id"), "split"
    )
    assert (
        split_leakage_audit(edges, safe).filter("is_leak").count() == 0
    )


# ---------------------------------------------------- preference_pipeline --


def test_preference_pipeline_composes(spark):
    """Pipeline == gap-gate ∘ pairs ∘ normalize composed by hand, and
    the executed plan carries exactly ONE shuffle (every stage keys on
    the prompt)."""
    from bistro_spark.operators.preference import (
        preference_pairs,
        preference_pipeline,
        preference_stats,
        reward_normalize,
    )

    df = _cands_df(spark)
    out = preference_pipeline(df, min_gap=1)
    got = sorted(tuple(r) for r in out.collect())
    keep = {
        r["prompt_id"]
        for r in preference_stats(df).collect()
        if r["gap"] is not None and r["gap"] >= 1
    }
    ppm = {
        (r["prompt_id"], r["cand_id"]): r["norm_ppm"]
        for r in reward_normalize(df).collect()
    }
    want = sorted(
        tuple(r) + (ppm[(r["prompt_id"], r["rejected"])],)
        for r in preference_pairs(df).collect()
        if r["prompt_id"] in keep
    )
    assert got == want
    # prompt 2 (top-2 tie, gap 0) and prompts 3/4 are gated out
    assert {t[0] for t in got} == {1}
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both
    assert final.count("Exchange hashpartitioning") == 1


# ------------------------------------------------------------ bt_ratings --


def test_bt_ratings_known_values_and_order(spark):
    """A dominates B dominates C: ratings order matches, wins/losses
    exact, ratings are the 20-round integer MM fixpoint (recomputed in
    pure Python), rank tiebreak deterministic."""
    from bistro_spark.operators.preference import bt_ratings

    games = [("A", "B")] * 4 + [("B", "A")] + [("B", "C")] * 3 + [
        ("A", "C")
    ] * 2 + [("C", "B")]
    df = spark.createDataFrame(games, "winner string, loser string")
    got = {r["item"]: r for r in bt_ratings(df).collect()}
    assert got["A"]["n_wins"] == 6 and got["A"]["n_losses"] == 1
    assert got["B"]["n_wins"] == 4 and got["B"]["n_losses"] == 5
    assert got["C"]["n_wins"] == 1 and got["C"]["n_losses"] == 5
    assert (
        got["A"]["rating"] > got["B"]["rating"] > got["C"]["rating"]
    )
    assert [got[i]["rank"] for i in "ABC"] == [1, 2, 3]
    # pure-Python recomputation of the exact integer fixpoint
    S, K = 10**6, 10**12
    items = ["A", "B", "C"]
    wins = {i: sum(1 for w, _l in games if w == i) for i in items}
    g: dict = {}
    for w, l in games:
        g[(w, l)] = g.get((w, l), 0) + 1
        g[(l, w)] = g.get((l, w), 0) + 1
    p = {i: S for i in items}
    for _t in range(20):
        q = {}
        for i in items:
            denom = sum(
                (g[(i, j)] * K) // max(p[i] + p[j], 1)
                for j in items
                if (i, j) in g
            )
            q[i] = (wins[i] * K) // denom if denom > 0 else p[i]
        tot = sum(q.values())
        p = {i: (q[i] * len(items) * S) // tot for i in items}
    assert {i: got[i]["rating"] for i in items} == p


def test_bt_ratings_guards_and_empty(spark):
    from bistro_spark.operators.preference import bt_ratings

    with pytest.raises(ValueError, match="self-game"):
        bt_ratings(
            spark.createDataFrame(
                [("A", "A")], "winner string, loser string"
            )
        )
    with pytest.raises(ValueError, match="max_items"):
        bt_ratings(
            spark.createDataFrame(
                [(str(i), str(i + 1)) for i in range(5)],
                "winner string, loser string",
            ),
            max_items=3,
        )
    assert (
        bt_ratings(
            spark.createDataFrame([], "winner string, loser string")
        ).count()
        == 0
    )


def test_bt_ratings_sql_twin_synthetic(spark):
    """SQL twin on non-default geometry (5 iterations, 4 items with an
    undefeated item and a winless item)."""
    from bistro_spark.operators.preference import (
        bt_ratings,
        bt_ratings_sql,
    )

    games = (
        [("A", "B")] * 2
        + [("A", "C")]
        + [("B", "C")] * 3
        + [("C", "D")]
        + [("B", "D")] * 2
    )
    df = spark.createDataFrame(games, "winner string, loser string")
    got = sorted(tuple(r) for r in bt_ratings(df, iters=5).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE games (winner VARCHAR, loser VARCHAR)")
    con.executemany("INSERT INTO games VALUES (?, ?)", games)
    duck = sorted(
        con.execute(
            bt_ratings_sql("SELECT winner, loser FROM games", iters=5)
        ).fetchall()
    )
    assert got == duck
    ratings = {t[0]: t[3] for t in got}
    assert ratings["D"] == 0  # winless item: the documented 0 fixpoint
    assert max(ratings, key=lambda i: ratings[i]) == "A"


# -------------------------------------------------------- win_rate_matrix --


def test_win_rate_matrix_known_values_and_twin(spark):
    from bistro_spark.operators.preference import (
        win_rate_matrix,
        win_rate_matrix_sql,
    )

    games = [("A", "B"), ("A", "B"), ("B", "A"), ("C", "A"), ("B", "C")]
    df = spark.createDataFrame(games, "winner string, loser string")
    got = {
        (r["item_lo"], r["item_hi"]): (
            r["games"],
            r["wins_lo"],
            r["wins_hi"],
            r["win_rate_lo_ppm"],
        )
        for r in win_rate_matrix(df).collect()
    }
    assert got == {
        ("A", "B"): (3, 2, 1, 666666),
        ("A", "C"): (1, 0, 1, 0),
        ("B", "C"): (1, 1, 0, 1000000),
    }
    # consistency with bt wins: per-item wins = sum over its pairs
    wins_a = sum(
        v[1] if k[0] == "A" else v[2]
        for k, v in got.items()
        if "A" in k
    )
    assert wins_a == sum(1 for w, _l in games if w == "A")
    with pytest.raises(ValueError, match="self-game"):
        win_rate_matrix(
            spark.createDataFrame(
                [("A", "A")], "winner string, loser string"
            )
        )
    con = duckdb.connect()
    con.execute("CREATE TABLE gm (winner VARCHAR, loser VARCHAR)")
    con.executemany("INSERT INTO gm VALUES (?, ?)", games)
    duck = sorted(
        con.execute(
            win_rate_matrix_sql("SELECT winner, loser FROM gm")
        ).fetchall()
    )
    assert sorted(tuple(r) for r in win_rate_matrix(df).collect()) == duck


# ---------------------------------------------------- sft_export_manifest --


def test_sft_export_manifest_consistency(spark):
    """Byte offsets over RENDERED lengths: per shard, offsets are the
    exact prefix sums of n_out*bpt in id order, and every doc's n_tokens
    equals its dialog's n_out (sentinels included)."""
    from bistro_spark.operators.curation import binidx_manifest
    from bistro_spark.operators.trainprep import sft_doc_stats

    docs = spark.read.parquet(DOCS)
    stats = {
        r["doc_id"]: r["n_out"]
        for r in sft_doc_stats(docs).collect()
    }
    rows = binidx_manifest(sft_doc_stats(docs), len_col="n_out").collect()
    by_shard: dict = {}
    for r in rows:
        assert r["n_tokens"] == stats[r["doc_id"]]
        assert r["n_bytes"] == 2 * r["n_tokens"]
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, members in by_shard.items():
        members.sort(key=lambda r: r["doc_id"])
        off = 0
        for i, r in enumerate(members):
            assert r["seq_index"] == i
            assert r["byte_offset"] == off
            off += r["n_bytes"]


# ----------------------------------------------------- sft_corpus_stats --


def test_sft_corpus_stats_consistency(spark):
    """The card row equals aggregating sft_doc_stats + the per-doc turn
    counts by hand."""
    from bistro_spark.operators.trainprep import (
        sft_corpus_stats,
        sft_doc_stats,
    )

    docs = spark.read.parquet(DOCS)
    per_doc = {
        r["doc_id"]: (r["n_out"], r["n_supervised"])
        for r in sft_doc_stats(docs).collect()
    }
    src = {
        r["doc_id"]: r["source"]
        for r in docs.select("doc_id", "source").collect()
    }
    want: dict = {}
    for d, (n_out, sup) in per_doc.items():
        k = 2 + (
            int(
                hashlib.md5(f"{d}:turns".encode()).hexdigest()[:8], 16
            )
            % 3
        )
        g = want.setdefault(src[d], [0, 0, 0, 0])
        g[0] += 1
        g[1] += k
        g[2] += n_out
        g[3] += sup
    got = {r["source"]: r for r in sft_corpus_stats(docs).collect()}
    assert set(got) == set(want)
    for s_, (nd, nt, pl, sup) in want.items():
        r = got[s_]
        assert (
            r["n_dialogs"],
            r["n_turns"],
            r["payload_tokens"],
            r["supervised_tokens"],
        ) == (nd, nt, pl, sup)
        assert r["supervised_frac"] == round(sup / pl, 6)
        assert r["mean_turns"] == round(nt / nd, 6)
        # assistant turns carry roughly half the words: the frac sits
        # strictly inside (0, 1) on any non-degenerate corpus
        assert 0 < r["supervised_frac"] < 1


# -------------------------------------------------- pack_attention_cost --


def test_pack_attention_cost_consistency(spark):
    """Costs recomputed from the real pack assignment; savings are 0
    exactly for single-doc packs and positive otherwise."""
    from bistro_spark.operators.curation import (
        pack_attention_cost,
        pack_sequences,
    )
    from pyspark.sql import functions as _F

    docs = spark.read.parquet(DOCS).select(
        "doc_id", _F.size(_F.split("text", " ")).alias("n_tok")
    )
    got = {
        (r["shard"], r["pack_id"]): r
        for r in pack_attention_cost(
            docs, len_col="n_tok", capacity=128
        ).collect()
    }
    packs: dict = {}
    for r in pack_sequences(docs, len_col="n_tok", capacity=128).collect():
        packs.setdefault((r["shard"], r["pack_id"]), []).append(r["len"])
    assert set(got) == set(packs)
    for key, lens in packs.items():
        r = got[key]
        payload, block = sum(lens), sum(v * v for v in lens)
        full = payload * payload
        assert (
            r["n_seqs"],
            r["payload_tokens"],
            r["block_cost"],
            r["full_cost"],
        ) == (len(lens), payload, block, full)
        assert r["savings_ppm"] == ((full - block) * 1_000_000) // full
        if len(lens) == 1:
            assert r["savings_ppm"] == 0
        else:
            assert r["savings_ppm"] > 0
