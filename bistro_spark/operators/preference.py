"""Preference-data construction for reward-model / DPO training: turn a
table of (prompt, candidate, reward) rows into the pairwise artifacts a
preference-tuning run consumes.

Two operators:

- :func:`preference_pairs` — chosen/rejected pair mining. Policy
  ``best_vs_rest`` (the standard DPO construction from best-of-n
  sampling): the chosen response is the per-prompt reward argmax
  (deterministic tiebreak: smallest candidate id), paired against every
  other candidate whose margin clears ``min_margin``. Policy
  ``all_pairs`` (RM training à la InstructGPT): every ordered pair with
  a positive margin ≥ ``min_margin`` — O(g²) per prompt group, so it is
  cap-guarded.

- :func:`preference_stats` — the per-prompt signal audit: candidate
  count, best and runner-up rewards, and the best-vs-runner-up gap.
  Prompts whose gap is 0 carry no preference signal (the pairs a DPO
  loss learns nothing from); this is the report that decides which
  prompts to drop or re-sample before pair construction.

Scale design: both operators are one hash-partition exchange on the
prompt key. Group size is the candidate count per prompt (best-of-n
sampling produces 4–64 candidates in practice), so per-group work is
bounded by construction and prompt-key skew cannot exceed that bound.
``best_vs_rest`` finds the chosen row with an unordered window MAX of a
(reward, -cand) struct over the prompt partition — no sort, no
self-join, output ≤ input rows. ``all_pairs`` is a per-prompt self-join
whose blowup is the one real hazard, so it raises if any group exceeds
``max_group`` (one extra grid-sized agg, same exchange key) instead of
silently materializing a quadratic pair set. Rewards must be exact
integers (the repo's tie-proof discipline): float rewards should be
quantized by the caller first, as the ANN family does with vectors.
The NULL-reward guard is one column-pruned limit-1 probe (parquet
null-count page stats answer it near-free at scale); NULLs cannot be
tolerated silently because a window max or a ``>`` join drops them
from one side without a trace.

Reference anchor: the bistro reference (asavinov/bistro) has no
preference layer; this extends its calc/link calculus with the
RLHF-era data-prep step, keeping the link-style contract (pairs are
links between candidate rows resolved by a key + criterion).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bistro_spark.session import local_frame


def preference_pairs(
    df: DataFrame,
    prompt_col: str = "prompt_id",
    cand_col: str = "cand_id",
    reward_col: str = "reward",
    policy: str = "best_vs_rest",
    min_margin: int = 1,
    max_group: int = 1024,
) -> DataFrame:
    """Mine (chosen, rejected) preference pairs per prompt. Returns
    (prompt, chosen, rejected, chosen_reward, rejected_reward, margin)
    with margin = chosen_reward - rejected_reward ≥ ``min_margin``.

    ``best_vs_rest``: chosen is the per-prompt (reward DESC, cand ASC)
    argmax; one row per losing candidate that clears the margin.
    ``all_pairs``: every ordered pair of distinct candidates with margin
    ≥ ``min_margin``; at the default margin equal-reward candidates never
    pair (no preference either way), so the pair set is a strict
    half-matrix and chosen/rejected labels are unambiguous. NULL rewards
    raise loudly — under a numeric window max or a `>` join they would
    silently vanish from one side.
    """
    if df.filter(F.col(reward_col).isNull()).limit(1).count():
        raise ValueError("preference_pairs: NULL reward")
    base = df.select(
        F.col(prompt_col).alias("prompt"),
        F.col(cand_col).alias("cand"),
        F.col(reward_col).cast("long").alias("r"),
    )
    out_cols = [
        F.col("prompt").alias(prompt_col),
        F.col("c_id").alias("chosen"),
        F.col("cand").alias("rejected"),
        F.col("c_r").cast("long").alias("chosen_reward"),
        F.col("r").cast("long").alias("rejected_reward"),
        (F.col("c_r") - F.col("r")).cast("long").alias("margin"),
    ]
    if policy == "best_vs_rest":
        w = Window.partitionBy("prompt")
        best = F.max(
            F.struct(F.col("r").alias("r"), (-F.col("cand")).alias("nc"))
        ).over(w)
        return (
            base.withColumn("c_r", best["r"])
            .withColumn("c_id", -best["nc"])
            .filter(
                (F.col("cand") != F.col("c_id"))
                & (F.col("c_r") - F.col("r") >= min_margin)
            )
            .select(*out_cols)
        )
    if policy == "all_pairs":
        biggest = base.groupBy("prompt").count().agg(
            F.max("count")
        ).first()[0]
        if biggest is not None and biggest > max_group:
            raise ValueError(
                f"preference_pairs: a prompt group has {biggest} "
                f"candidates > max_group={max_group}; all_pairs would "
                "materialize a quadratic pair set"
            )
        chosen = base.select(
            "prompt",
            F.col("cand").alias("c_id"),
            F.col("r").alias("c_r"),
        )
        return (
            chosen.join(base, on="prompt")
            .filter(
                (F.col("cand") != F.col("c_id"))
                & (F.col("c_r") - F.col("r") >= min_margin)
            )
            .select(*out_cols)
        )
    raise ValueError(f"preference_pairs: unknown policy {policy!r}")


def preference_pairs_sql(
    cand_table: str,
    prompt_col: str = "prompt_id",
    cand_col: str = "cand_id",
    reward_col: str = "reward",
    policy: str = "best_vs_rest",
    min_margin: int = 1,
) -> str:
    """DuckDB twin. ``cand_table`` is a full SELECT producing the
    candidate rows (prompt, cand, reward); the twin re-derives the
    chosen row definitionally with a rank window."""
    if policy == "best_vs_rest":
        return f"""
          WITH c AS ({cand_table}),
          ranked AS (
            SELECT {prompt_col} AS prompt, {cand_col} AS cand,
                   CAST({reward_col} AS BIGINT) AS r,
                   row_number() OVER (
                     PARTITION BY {prompt_col}
                     ORDER BY {reward_col} DESC, {cand_col} ASC
                   ) AS rk
            FROM c)
          SELECT b.prompt AS {prompt_col},
                 b.cand AS chosen,
                 o.cand AS rejected,
                 b.r AS chosen_reward,
                 o.r AS rejected_reward,
                 b.r - o.r AS margin
          FROM ranked b JOIN ranked o
            ON b.prompt = o.prompt AND b.rk = 1 AND o.cand <> b.cand
          WHERE b.r - o.r >= {min_margin}
        """
    if policy == "all_pairs":
        return f"""
          WITH c AS (
            SELECT {prompt_col} AS prompt, {cand_col} AS cand,
                   CAST({reward_col} AS BIGINT) AS r
            FROM ({cand_table}))
          SELECT a.prompt AS {prompt_col},
                 a.cand AS chosen,
                 b.cand AS rejected,
                 a.r AS chosen_reward,
                 b.r AS rejected_reward,
                 a.r - b.r AS margin
          FROM c a JOIN c b
            ON a.prompt = b.prompt AND a.cand <> b.cand
               AND a.r - b.r >= {min_margin}
        """
    raise ValueError(f"unknown policy {policy!r}")


def preference_stats(
    df: DataFrame,
    prompt_col: str = "prompt_id",
    cand_col: str = "cand_id",
    reward_col: str = "reward",
) -> DataFrame:
    """Per-prompt preference-signal audit: (prompt, n_cands,
    best_reward, second_reward, gap, reward_range). ``second_reward``
    is the runner-up under the SAME total order as the chosen rule
    (reward DESC, cand ASC) — so ``gap = best - second`` is 0 exactly
    when the top two rewards tie and a best_vs_rest pair construction
    would rest on an arbitrary margin-0 comparison; single-candidate
    prompts get NULL second/gap (no pair possible at all).

    One exchange on the prompt key: the two leaders come from an
    unordered window MAX of (reward, -cand) structs — max of a
    2-element sorted struct-pair merge is associative, but Spark lacks
    that agg natively, so the runner-up is the max over rows excluding
    the argmax row, a second window on the SAME partition (no extra
    exchange, no sort). reward_range = best - min.
    """
    if df.filter(F.col(reward_col).isNull()).limit(1).count():
        raise ValueError("preference_stats: NULL reward")
    base = df.select(
        F.col(prompt_col).alias("prompt"),
        F.col(cand_col).alias("cand"),
        F.col(reward_col).cast("long").alias("r"),
    )
    w = Window.partitionBy("prompt")
    best = F.max(
        F.struct(F.col("r").alias("r"), (-F.col("cand")).alias("nc"))
    ).over(w)
    second = F.max(
        F.when(
            F.col("cand") != F.col("c_id"),
            F.struct(F.col("r").alias("r"), (-F.col("cand")).alias("nc")),
        )
    ).over(w)
    return (
        base.withColumn("c_r", best["r"])
        .withColumn("c_id", -best["nc"])
        .withColumn("s_r", second["r"])
        .groupBy(F.col("prompt").alias(prompt_col))
        .agg(
            F.count("*").cast("long").alias("n_cands"),
            F.max("c_r").cast("long").alias("best_reward"),
            F.max("s_r").cast("long").alias("second_reward"),
            (F.max("c_r") - F.max("s_r")).cast("long").alias("gap"),
            (F.max("c_r") - F.min("r")).cast("long").alias(
                "reward_range"
            ),
        )
    )


def preference_stats_sql(
    cand_table: str,
    prompt_col: str = "prompt_id",
    cand_col: str = "cand_id",
    reward_col: str = "reward",
) -> str:
    """DuckDB twin: rank window under the chosen total order, then a
    conditional-agg grid."""
    return f"""
      WITH c AS ({cand_table}),
      ranked AS (
        SELECT {prompt_col} AS prompt,
               CAST({reward_col} AS BIGINT) AS r,
               row_number() OVER (
                 PARTITION BY {prompt_col}
                 ORDER BY {reward_col} DESC, {cand_col} ASC
               ) AS rk
        FROM c)
      SELECT prompt AS {prompt_col},
             CAST(count(*) AS BIGINT) AS n_cands,
             CAST(max(CASE WHEN rk = 1 THEN r END) AS BIGINT)
               AS best_reward,
             CAST(max(CASE WHEN rk = 2 THEN r END) AS BIGINT)
               AS second_reward,
             CAST(max(CASE WHEN rk = 1 THEN r END)
                  - max(CASE WHEN rk = 2 THEN r END) AS BIGINT) AS gap,
             CAST(max(r) - min(r) AS BIGINT) AS reward_range
      FROM ranked GROUP BY prompt
    """


def reward_normalize(
    df: DataFrame,
    prompt_col: str = "prompt_id",
    cand_col: str = "cand_id",
    reward_col: str = "reward",
) -> DataFrame:
    """Per-prompt rank normalization of rewards — the whitening step
    before training a reward model across prompts whose raw reward
    scales differ (a 7-vs-3 gap on an easy prompt must not outweigh a
    9-vs-8 gap on a hard one). Emits (prompt, cand, reward, rank,
    n_cands, norm_ppm): rank under the family's total order
    (reward DESC, cand ASC), and norm_ppm = ((rank−1)·10⁶) DIV
    (n_cands−1) — 0 for the best candidate, 1e6 for the worst, exact
    integer parts-per-million so cross-engine float ties are
    impossible; single-candidate prompts get NULL (no order to
    normalize). One prompt-key exchange shared by the rank window and
    the count; group-bounded per-prompt sort. NULL rewards raise, as
    everywhere in this family."""
    if df.filter(F.col(reward_col).isNull()).limit(1).count():
        raise ValueError("reward_normalize: NULL reward")
    w = Window.partitionBy(prompt_col)
    wo = w.orderBy(F.col(reward_col).desc(), F.col(cand_col).asc())
    return (
        df.select(
            prompt_col,
            cand_col,
            F.col(reward_col).cast("long").alias("reward"),
        )
        .withColumn("rank", F.row_number().over(wo).cast("long"))
        .withColumn("n_cands", F.count(F.lit(1)).over(w).cast("long"))
        .withColumn(
            "norm_ppm",
            F.when(
                F.col("n_cands") > 1,
                F.expr("((rank - 1) * 1000000) DIV (n_cands - 1)"),
            ).cast("long"),
        )
    )


def reward_normalize_sql(
    cand_table: str,
    prompt_col: str = "prompt_id",
    cand_col: str = "cand_id",
    reward_col: str = "reward",
) -> str:
    """DuckDB twin (same windows; `//` == Spark `DIV` on the nonneg
    operands here)."""
    return f"""
      WITH c AS ({cand_table})
      SELECT {prompt_col}, {cand_col},
             CAST({reward_col} AS BIGINT) AS reward,
             CAST(row_number() OVER (
               PARTITION BY {prompt_col}
               ORDER BY {reward_col} DESC, {cand_col} ASC) AS BIGINT)
               AS rank,
             CAST(count(*) OVER (PARTITION BY {prompt_col}) AS BIGINT)
               AS n_cands,
             CAST(CASE WHEN count(*) OVER (PARTITION BY {prompt_col}) > 1
                  THEN ((row_number() OVER (
                          PARTITION BY {prompt_col}
                          ORDER BY {reward_col} DESC, {cand_col} ASC)
                        - 1) * 1000000)
                       // (count(*) OVER (PARTITION BY {prompt_col}) - 1)
                  END AS BIGINT) AS norm_ppm
      FROM c
    """


def preference_pipeline(
    df: DataFrame,
    prompt_col: str = "prompt_id",
    cand_col: str = "cand_id",
    reward_col: str = "reward",
    min_margin: int = 1,
    min_gap: int = 1,
) -> DataFrame:
    """The end-to-end preference construction a DPO run actually ships:
    drop prompts whose preference signal is too weak (best-vs-runner-up
    gap < ``min_gap`` — ties at the top make the chosen label
    arbitrary; single-candidate prompts have no pair at all), mine
    best_vs_rest pairs from the survivors, and attach the REJECTED
    candidate's normalized rank position (``reward_normalize``'s exact
    integer ppm) so downstream weighting can tell a near-miss rejection
    from a bottom-of-pool one. Returns the pair columns plus
    rejected_ppm.

    Scale: every stage keys on the prompt — the stats windows, the pair
    windows, and the rank window all share ONE hash-partition exchange
    (Catalyst reuses the partitioning; the executed plan carries a
    single shuffle), and the gate is a filter between window stages,
    not a join. Composition of three hash-checked operators; the
    pipeline itself is hash-checked against the composed DuckDB twin.
    """
    if df.filter(F.col(reward_col).isNull()).limit(1).count():
        raise ValueError("preference_pipeline: NULL reward")
    base = df.select(
        F.col(prompt_col).alias("prompt"),
        F.col(cand_col).alias("cand"),
        F.col(reward_col).cast("long").alias("r"),
    )
    w = Window.partitionBy("prompt")
    wo = w.orderBy(F.col("r").desc(), F.col("cand").asc())
    best = F.max(
        F.struct(F.col("r").alias("r"), (-F.col("cand")).alias("nc"))
    ).over(w)
    second = F.max(
        F.when(
            F.col("cand") != F.col("c_id"),
            F.struct(F.col("r").alias("r"), (-F.col("cand")).alias("nc")),
        )
    ).over(w)
    ranked = (
        base.withColumn("c_r", best["r"])
        .withColumn("c_id", -best["nc"])
        .withColumn("s_r", second["r"])
        .withColumn("rank", F.row_number().over(wo).cast("long"))
        .withColumn("n_cands", F.count(F.lit(1)).over(w).cast("long"))
    )
    gated = ranked.filter(
        F.col("s_r").isNotNull()
        & (F.col("c_r") - F.col("s_r") >= int(min_gap))
    )
    return gated.filter(
        (F.col("cand") != F.col("c_id"))
        & (F.col("c_r") - F.col("r") >= int(min_margin))
    ).select(
        F.col("prompt").alias(prompt_col),
        F.col("c_id").alias("chosen"),
        F.col("cand").alias("rejected"),
        F.col("c_r").alias("chosen_reward"),
        F.col("r").alias("rejected_reward"),
        (F.col("c_r") - F.col("r")).alias("margin"),
        F.expr("((rank - 1) * 1000000) DIV (n_cands - 1)")
        .cast("long")
        .alias("rejected_ppm"),
    )


def preference_pipeline_sql(
    cand_table: str,
    prompt_col: str = "prompt_id",
    cand_col: str = "cand_id",
    reward_col: str = "reward",
    min_margin: int = 1,
    min_gap: int = 1,
) -> str:
    """DuckDB twin: the composed definitional form (rank windows, gap
    gate as a HAVING-style filter, ppm of the rejected row)."""
    return f"""
      WITH c AS ({cand_table}),
      ranked AS (
        SELECT {prompt_col} AS prompt, {cand_col} AS cand,
               CAST({reward_col} AS BIGINT) AS r,
               row_number() OVER (
                 PARTITION BY {prompt_col}
                 ORDER BY {reward_col} DESC, {cand_col} ASC) AS rk,
               count(*) OVER (PARTITION BY {prompt_col}) AS n
        FROM c),
      gated AS (
        SELECT * FROM ranked
        WHERE prompt IN (
          SELECT prompt FROM ranked
          WHERE rk <= 2
          GROUP BY prompt
          HAVING count(*) = 2
             AND max(CASE WHEN rk = 1 THEN r END)
                 - max(CASE WHEN rk = 2 THEN r END) >= {int(min_gap)}))
      SELECT b.prompt AS {prompt_col},
             b.cand AS chosen,
             o.cand AS rejected,
             b.r AS chosen_reward,
             o.r AS rejected_reward,
             b.r - o.r AS margin,
             CAST(((o.rk - 1) * 1000000) // (o.n - 1) AS BIGINT)
               AS rejected_ppm
      FROM gated b JOIN gated o
        ON b.prompt = o.prompt AND b.rk = 1 AND o.cand <> b.cand
      WHERE b.r - o.r >= {int(min_margin)}
    """


def bt_fixpoint(
    grid: list, iters: int = 20, max_items: int = 256
) -> list:
    """The exact scaled-integer MM fixpoint shared by :func:`bt_ratings`
    and the streaming monitor (ONE code path, so their parity is
    structural): ``grid`` is [(winner, loser, n), ...] aggregated game
    counts; returns [(item, n_wins, n_losses, rating, rank), ...]
    sorted by rank. Pure driver-side integer arithmetic on the
    items²-bounded grid."""
    S, K = 10**6, 10**12
    items = sorted({a for a, _b, _n in grid} | {b for _a, b, _n in grid})
    if len(items) > max_items:
        raise ValueError(
            f"bt_ratings: {len(items)} items > max_items={max_items}"
        )
    if not items:
        return []
    n_items = len(items)
    wins = {i: 0 for i in items}
    losses = {i: 0 for i in items}
    games: dict = {}
    for a, b, n in grid:
        if a == b:
            raise ValueError("bt_ratings: self-game (winner == loser)")
        wins[a] += n
        losses[b] += n
        games[(a, b)] = games.get((a, b), 0) + n
    g: dict = {}
    for (a, b), n in games.items():
        g[(a, b)] = g.get((a, b), 0) + n
        g[(b, a)] = g.get((b, a), 0) + n
    p = {i: S for i in items}
    for _t in range(int(iters)):
        q = {}
        for i in items:
            denom = sum(
                (g[(i, j)] * K) // max(p[i] + p[j], 1)
                for j in items
                if (i, j) in g
            )
            q[i] = (wins[i] * K) // denom if denom > 0 else p[i]
        tot = sum(q.values())
        p = {i: (q[i] * n_items * S) // tot for i in items}
    ranked = sorted(items, key=lambda i: (-p[i], i))
    return [
        (i, wins[i], losses[i], p[i], rk)
        for rk, i in enumerate(ranked, 1)
    ]


def bt_ratings(
    pairs: DataFrame,
    winner_col: str = "winner",
    loser_col: str = "loser",
    iters: int = 20,
    max_items: int = 256,
) -> DataFrame:
    """Bradley-Terry strength ratings from pairwise outcomes — the
    model-ranking artifact an RLHF eval loop ends with (which policy /
    checkpoint / source wins head-to-heads?). Implements the classical
    MM update (Hunter 2004, "MM algorithms for generalized
    Bradley-Terry models") via :func:`bt_fixpoint` — EXACT
    scaled-integer arithmetic, so the T-round result is bit-identical
    on any engine, any cluster shape, any summation order. Returns
    (item, n_wins, n_losses, rating, rank): rating is the 10⁶-scaled
    strength (summing ≈ n_items·10⁶), rank by (rating DESC, item ASC).

    Scale: outcomes aggregate to the items² win grid in ONE partial-agg
    shuffle (items are models/policies/sources — dozens, not
    documents); the grid collects under the ``max_items`` guard and the
    MM rounds run driver-side on the tiny matrix (the k-means /
    PQ-codebook pattern: distributed statistics, driver fixpoint).
    Self-games raise (i vs i carries no information and would corrupt
    g_ij); items never beaten keep rating 0 — a documented fixpoint of
    the truncated update, not an error.
    """
    w = pairs.select(
        F.col(winner_col).alias("a"), F.col(loser_col).alias("b")
    )
    # more than max_items² distinct (winner, loser) cells imply more than
    # max_items items: refuse before collecting the rest of the grid
    cap = int(max_items) ** 2
    grid = (
        w.groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .limit(cap + 1)
        .collect()
    )
    if len(grid) > cap:
        raise ValueError(
            f"bt_ratings: more than {cap} (winner, loser) cells, so more "
            f"than max_items={max_items} items"
        )
    out = bt_fixpoint(
        [(r["a"], r["b"], r["n"]) for r in grid],
        iters=iters,
        max_items=max_items,
    )
    item_type = dict(pairs.dtypes)[winner_col]
    return local_frame(
        pairs.sparkSession,
        out,
        f"item {item_type}, n_wins long, n_losses long, rating long, "
        "rank long",
    )


def bt_ratings_sql(
    pairs_table: str,
    winner_col: str = "winner",
    loser_col: str = "loser",
    iters: int = 20,
) -> str:
    """DuckDB twin of :func:`bt_ratings`: the MM rounds UNROLLED as
    chained CTEs (standard SQL forbids aggregation in a recursive term;
    the generator is code, so it unrolls) — identical scaled-integer
    ops, `//` == the Python `//` on these nonneg operands."""
    S, K = 10**6, 10**12
    ctes = [
        f"base AS MATERIALIZED (SELECT {winner_col} AS a, {loser_col} AS b "
        f"FROM ({pairs_table}))",
        "items AS MATERIALIZED (SELECT DISTINCT i FROM "
        "(SELECT a AS i FROM base UNION SELECT b FROM base))",
        "nit AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM items)",
        "w AS MATERIALIZED (SELECT a AS i, CAST(count(*) AS BIGINT) AS w "
        "FROM base GROUP BY a)",
        "l AS MATERIALIZED (SELECT b AS i, CAST(count(*) AS BIGINT) AS l "
        "FROM base GROUP BY b)",
        "sym AS MATERIALIZED (SELECT a, b FROM base UNION ALL SELECT b, a FROM base)",
        "g AS MATERIALIZED (SELECT a, b, CAST(count(*) AS BIGINT) AS g "
        "FROM sym GROUP BY a, b)",
        f"p0 AS MATERIALIZED (SELECT i, CAST({S} AS BIGINT) AS p FROM items)",
    ]
    for t in range(int(iters)):
        ctes.append(
            f"d{t} AS MATERIALIZED (SELECT g.a AS i, "
            f"sum((g.g * CAST({K} AS HUGEINT)) // "
            f"greatest(pa.p + pb.p, 1)) AS denom "
            f"FROM g JOIN p{t} pa ON pa.i = g.a "
            f"JOIN p{t} pb ON pb.i = g.b GROUP BY g.a)"
        )
        ctes.append(
            f"q{t} AS MATERIALIZED (SELECT p.i, CASE WHEN d.denom > 0 "
            f"THEN (coalesce(w.w, 0) * CAST({K} AS HUGEINT)) // d.denom "
            f"ELSE CAST(p.p AS HUGEINT) END AS pr "
            f"FROM p{t} p LEFT JOIN d{t} d ON d.i = p.i "
            f"LEFT JOIN w ON w.i = p.i)"
        )
        ctes.append(
            f"p{t + 1} AS MATERIALIZED (SELECT i, (pr * (SELECT n FROM nit) * "
            f"CAST({S} AS HUGEINT)) // (SELECT sum(pr) FROM q{t}) AS p "
            f"FROM q{t})"
        )
    return (
        "WITH "
        + ",\n      ".join(ctes)
        + f"""
      SELECT p.i AS item,
             coalesce(w.w, 0) AS n_wins,
             coalesce(l.l, 0) AS n_losses,
             CAST(p.p AS BIGINT) AS rating,
             CAST(row_number() OVER (ORDER BY p.p DESC, p.i ASC)
                  AS BIGINT) AS rank
      FROM p{int(iters)} p
      LEFT JOIN w ON w.i = p.i
      LEFT JOIN l ON l.i = p.i
    """
    )


def win_rate_matrix(
    pairs: DataFrame,
    winner_col: str = "winner",
    loser_col: str = "loser",
) -> DataFrame:
    """The head-to-head matrix behind :func:`bt_ratings` — what an eval
    dashboard actually renders: per UNORDERED item pair (item_lo ≤
    item_hi), total games, wins from each side, and item_lo's win rate
    in exact integer parts-per-million (wins_lo·10⁶ DIV games — no
    float, no cross-engine ties). A pair a rating can't explain (a low-
    rated item dominating one specific opponent — non-transitivity) is
    visible here and invisible in the 1-D leaderboard.

    Scale: one map-side normalization (lo/hi ordering is a projection)
    + one items²-bounded partial-agg shuffle. Self-games raise, as in
    the ratings operator."""
    if pairs.filter(
        F.col(winner_col) == F.col(loser_col)
    ).limit(1).count():
        raise ValueError("win_rate_matrix: self-game (winner == loser)")
    norm = pairs.select(
        F.least(winner_col, loser_col).alias("item_lo"),
        F.greatest(winner_col, loser_col).alias("item_hi"),
        (F.col(winner_col) == F.least(winner_col, loser_col))
        .cast("long")
        .alias("_lo_won"),
    )
    return (
        norm.groupBy("item_lo", "item_hi")
        .agg(
            F.count(F.lit(1)).cast("long").alias("games"),
            F.sum("_lo_won").cast("long").alias("wins_lo"),
        )
        .withColumn(
            "wins_hi", (F.col("games") - F.col("wins_lo")).cast("long")
        )
        .withColumn(
            "win_rate_lo_ppm",
            F.expr("(wins_lo * 1000000) DIV games").cast("long"),
        )
    )


def win_rate_matrix_sql(
    pairs_table: str,
    winner_col: str = "winner",
    loser_col: str = "loser",
) -> str:
    """DuckDB twin (same lo/hi normalization and integer ppm)."""
    return f"""
      WITH n AS (
        SELECT least({winner_col}, {loser_col}) AS item_lo,
               greatest({winner_col}, {loser_col}) AS item_hi,
               CASE WHEN {winner_col} =
                         least({winner_col}, {loser_col})
                    THEN 1 ELSE 0 END AS lo_won
        FROM ({pairs_table}))
      SELECT item_lo, item_hi,
             CAST(count(*) AS BIGINT) AS games,
             CAST(sum(lo_won) AS BIGINT) AS wins_lo,
             CAST(count(*) - sum(lo_won) AS BIGINT) AS wins_hi,
             CAST((sum(lo_won) * 1000000) // count(*) AS BIGINT)
               AS win_rate_lo_ppm
      FROM n GROUP BY item_lo, item_hi
    """
