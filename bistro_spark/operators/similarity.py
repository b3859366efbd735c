"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exactness baseline; the LSH-bucketed
variant is the scale path (candidate set ∝ bucket size, not corpus size).
At 100 TB the queries broadcast (they're small) and the corpus never
shuffles — each partition scores its local rows and emits only its top-k
(partial top-k via window over the broadcast-join output; AQE coalesces).

All arithmetic is double, accumulated left-to-right (portable vs DuckDB's
list_dot_product); similarities are rounded before ranking so float noise
can't flip the deterministic (sim DESC, id ASC) order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bistro_spark.session import local_frame



def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact brute-force cosine top-k per query (the baseline).

    Plan shape: the (small) query set is collected once and closed over —
    the numpy analog of `F.broadcast` — then every corpus partition scores
    its local rows against the whole query matrix with one float64 GEMM
    (`mapInPandas`, Arrow-batched) and emits only its local top-k; the
    final exact top-k ranks the ≤ |queries|·k·partitions survivors. The
    corpus never shuffles and never leaves the JVM except as Arrow
    batches. (A prior pure-Catalyst variant using `F.aggregate` dot
    products evaluated interpreted per element — ~10x slower.)"""
    import numpy as np

    qrows = queries.select(query_id_col, query_vec_col).collect()
    qids = [r[query_id_col] for r in qrows]
    qm = np.stack([np.asarray(r[query_vec_col], dtype=np.float64) for r in qrows])
    qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    n_q = len(qids)

    def score(batches):
        import pandas as pd

        for b in batches:
            if not len(b):
                continue
            ids = b[id_col].to_numpy()
            m = np.stack(
                [np.asarray(v, dtype=np.float64) for v in b[vec_col]]
            )
            mn = m / np.linalg.norm(m, axis=1, keepdims=True)
            sims = np.round(mn @ qn.T, 6)  # (rows, queries)
            take = min(k, len(ids))
            for qi in range(n_q):
                s = sims[:, qi]
                # local top-k: order by (-sim, id) to match the global
                # deterministic tie-break
                idx = np.lexsort((ids, -s))[:take]
                yield pd.DataFrame(
                    {
                        query_id_col: [qids[qi]] * take,
                        id_col: ids[idx],
                        "cos_sim": s[idx],
                    }
                )

    q_t = dict(queries.dtypes)[query_id_col]
    id_t = dict(corpus.dtypes)[id_col]
    local = corpus.select(id_col, vec_col).mapInPandas(
        score, f"{query_id_col} {q_t}, {id_col} {id_t}, cos_sim double"
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "cos_sim")
    )


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    sign_bits: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH bucket join, exact cosine
    within the matching bucket only (recall < 1 by construction; the scale
    path — candidate count drops ~2^-bits). Buckets and cosines via
    Arrow-batched numpy GEMM."""
    from bistro_spark.operators.dedup import _pair_cosine_np, _sign_bucket_np

    c = corpus.withColumn("bucket", _sign_bucket_np(vec_col, sign_bits))
    q = queries.withColumn("bucket", _sign_bucket_np(query_vec_col, sign_bits))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .withColumn(
            "cos_sim", F.round(_pair_cosine_np(vec_col, query_vec_col), 6)
        )
        .select(query_id_col, id_col, "cos_sim")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "cos_sim")
    )


def _kmeans_np(X, k: int, seed: int = 42, iters: int = 15):
    """Deterministic vectorized Lloyd k-means with k-means++ init over a
    driver-resident sample (numpy float64). All distance work is GEMM
    (||x||² − 2x·c + ||c||²); assignment sums via np.add.at — no Python
    loops over points."""
    import numpy as np

    rng = np.random.default_rng(seed)
    n, dim = X.shape
    k = min(k, n)
    xsq = (X * X).sum(axis=1)
    # k-means++ seeding
    first = int(rng.integers(n))
    C = [X[first]]
    d2 = np.maximum(xsq - 2.0 * (X @ X[first]) + xsq[first], 0.0)
    for _ in range(1, k):
        total = d2.sum()
        i = (
            int(rng.choice(n, p=d2 / total))
            if total > 0
            else int(rng.integers(n))
        )
        c = X[i]
        C.append(c)
        nd = np.maximum(xsq - 2.0 * (X @ c) + (c * c).sum(), 0.0)
        np.minimum(d2, nd, out=d2)
    C = np.stack(C)
    for _ in range(iters):
        D = xsq[:, None] - 2.0 * (X @ C.T) + (C * C).sum(axis=1)[None, :]
        a = D.argmin(axis=1)
        sums = np.zeros_like(C)
        np.add.at(sums, a, X)
        counts = np.bincount(a, minlength=k).astype(np.float64)
        live = counts > 0
        C[live] = sums[live] / counts[live, None]
    return C


def ivf_fit(
    corpus: DataFrame,
    n_lists: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    sample_cap: int = 100_000,
):
    """Train the IVF coarse quantizer: deterministic numpy k-means over a
    bounded SAMPLE of the corpus (never the full table — at 100 TB a
    full-corpus fit would be an ML job inside every query). The sample is
    hard-capped at ``sample_cap`` rows (≤ ~50 MB at dim 64), so the fit is
    a sub-second driver-side GEMM loop — the FAISS IVF training shape —
    instead of a distributed ML job per call. The returned centroid matrix
    (numpy, (n_lists, dim)) IS the reusable index: fit once, pass to any
    number of ivf_topk calls."""
    import numpy as np

    n = corpus.count()
    sampled = corpus
    if n > sample_cap:
        # oversample then hard-cap: sample() is fraction-based and can
        # overshoot; limit() bounds the driver-side fit input exactly
        sampled = corpus.sample(
            fraction=min(1.0, 1.2 * sample_cap / n), seed=seed
        ).limit(sample_cap)
    X = np.stack(
        [
            np.asarray(r[vec_col], dtype=np.float64)
            for r in sampled.select(vec_col).collect()
        ]
    )
    return _kmeans_np(X, n_lists, seed=seed)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    seed: int = 42,
    centroids=None,
):
    """IVF (inverted-file) approximate top-k: coarse k-means quantizer over
    the corpus, each vector assigned to its nearest centroid's list; a
    query scores ONLY the ``n_probe`` lists whose centroids are closest.

    The second scale path next to LSH bucketing: candidate count is
    ~ n_probe/n_lists of the corpus, tunable recall/cost. Training is one
    sample-capped KMeans fit (``ivf_fit``; pass ``centroids`` to reuse a
    prebuilt index across calls); assignment is a small broadcast of
    centroids + a GEMM per partition, and the probe join is a broadcast
    semi-filter on list id — the corpus never shuffles.

    With ``n_probe == n_lists`` every list is searched, so the result is
    exactly the brute-force top-k (the correctness-gate configuration);
    smaller n_probe trades recall for cost (recall asserted vs the exact
    twin in tests).

    Returns (result_df, centroids) — the centroid matrix is the reusable
    IVF index.
    """
    import numpy as np

    if centroids is None:
        centroids = ivf_fit(
            corpus, n_lists=n_lists, vec_col=vec_col, seed=seed
        )

    def assign_expr(col_name: str) -> Column:
        """Nearest-centroid id via pandas UDF GEMM (no per-row Python)."""
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("int")
        def assign(s):
            if not len(s):
                return pd.Series([], dtype="int32")
            m = np.stack([np.asarray(v, dtype=np.float64) for v in s])
            # argmin ||x-c||^2 = argmin (||c||^2 - 2 x.c)
            d = (centroids**2).sum(axis=1)[None, :] - 2.0 * (m @ centroids.T)
            return pd.Series(d.argmin(axis=1).astype("int32"))

        return assign(F.col(col_name))

    c = corpus.withColumn("_list", assign_expr(vec_col))

    # query -> its n_probe nearest lists (tiny, computed driver-side)
    qrows = queries.select(query_id_col, query_vec_col).collect()
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r[query_vec_col], dtype=np.float64)
        d = ((centroids - qv) ** 2).sum(axis=1)
        for lst in np.argsort(d)[:n_probe]:
            probe_rows.append((r[query_id_col], int(lst)))
    q_t = dict(queries.dtypes)[query_id_col]
    probes = local_frame(
        corpus.sparkSession,
        probe_rows, f"{query_id_col} {q_t}, _list int"
    )

    # restrict the corpus to probed lists per query, then exact cosine
    candidates = c.join(F.broadcast(probes), "_list")
    from bistro_spark.operators.dedup import _pair_cosine_np

    qmap = queries.select(query_id_col, query_vec_col)
    scored = (
        candidates.join(F.broadcast(qmap), query_id_col)
        .withColumn("cos_sim", F.round(_pair_cosine_np(vec_col, query_vec_col), 6))
        .select(query_id_col, id_col, "cos_sim")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    result = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "cos_sim")
    )
    return result, centroids


# ------------------------------------------- random-projection compression ----


def random_projection(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 4,
) -> DataFrame:
    """Johnson-Lindenstrauss-style embedding compression with the repo's
    deterministic Weyl pseudo-random matrix (dedup._weyl_hyperplanes —
    no RNG state, identical on any engine/cluster/restart): project each
    vector to ``out_dim`` components, rounded to 6 digits as report
    values.

    One Arrow-vectorized GEMM per batch — the 100 TB shape (narrow
    map-only stage, no shuffle); the projection matrix is (out_dim x d)
    literals, closed-form reproducible in SQL for the oracle.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from bistro_spark.operators.dedup import _weyl_hyperplanes

    @pandas_udf("array<double>")
    def proj(v):
        if not len(v):
            return pd.Series([], dtype="object")
        x = np.stack([np.asarray(e, dtype=np.float64) for e in v])
        h = _weyl_hyperplanes(out_dim, x.shape[1])
        y = np.round(x @ h.T, 6)
        return pd.Series(list(y))

    return df.select(F.col(id_col), proj(F.col(vec_col)).alias("proj"))


def random_projection_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 4,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`random_projection`: the Weyl coefficients are
    embedded as literal lists (float64 repr round-trips exactly), each
    component an explicit sum — one output column y0..y{k-1} per
    projected dimension (no float array serialization)."""
    from bistro_spark.operators.dedup import _weyl_hyperplanes

    h = _weyl_hyperplanes(out_dim, dim)
    comps = []
    for j in range(out_dim):
        coeffs = "[" + ", ".join(repr(float(c)) for c in h[j]) + "]"
        comps.append(
            f"round(list_sum(list_transform(range(1, {dim} + 1), "
            f"i -> CAST({vec_col}[i] AS DOUBLE) * ({coeffs})[i])), 6) "
            f"AS y{j}"
        )
    cols = ",\n             ".join(comps)
    return f"""
      SELECT {id_col},
             {cols}
      FROM {table}
    """


# ----------------------------------------------------- per-group centroids ----


def group_centroids(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact per-group embedding centroids in long form: one row per
    (group, dimension) with the mean component and the group size.

    Float addition is order-dependent, so components are decimal-cast
    before the sum — the mean is bit-identical on any partitioning or
    engine (the same trick the accu queries use). Cost: the posexplode
    multiplies rows by the dimensionality before one partial-aggregatable
    groupBy — the exact path; at extreme scale the approximate variant is
    a plain double sum accepting last-ulp drift.
    """
    exploded = df.select(
        F.col(group_col),
        F.posexplode(F.col(vec_col)).alias("dim_i", "_x"),
    )
    return exploded.groupBy(group_col, "dim_i").agg(
        F.count("*").cast("long").alias("n"),
        F.round(
            F.sum(F.col("_x").cast("decimal(30,10)")).cast("double")
            / F.count("*"),
            6,
        ).alias("centroid"),
    )


def group_centroids_sql(
    table: str = "embeddings",
    group_col: str = "label",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`group_centroids` (0-based dim index to match
    Spark's posexplode)."""
    return f"""
      WITH e AS (
        SELECT {group_col},
               unnest(range(0, len({vec_col}))) AS dim_i,
               unnest({vec_col}) AS x
        FROM {table}
      )
      SELECT {group_col}, CAST(dim_i AS INTEGER) AS dim_i,
             CAST(count(*) AS BIGINT) AS n,
             round(CAST(sum(CAST(x AS DECIMAL(30,10))) AS DOUBLE)
                   / count(*), 6) AS centroid
      FROM e GROUP BY {group_col}, dim_i
    """

# --------------------------------------------------------- semantic dedup ----


def _semdedup_centroids(n_clusters: int, dim: int):
    """Deterministic unit-norm pseudo-centroid directions: the repo's Weyl
    matrix rows (dedup._weyl_hyperplanes — no RNG state) L2-normalized in
    float64. Identical on any engine/cluster/restart and closed-form
    reproducible in SQL, so the cluster assignment itself is
    oracle-checkable (a k-means fit would make the assignment depend on a
    driver-side iteration no SQL engine can replay)."""
    import numpy as np

    from bistro_spark.operators.dedup import _weyl_hyperplanes

    h = _weyl_hyperplanes(n_clusters, dim)
    return h / np.linalg.norm(h, axis=1, keepdims=True)


def semdedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    threshold: float = 0.99,
    dim: int = 64,
    max_cluster_rows: int = 2_000_000,
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023, implemented
    from the paper): partition embeddings into clusters, then mark a row
    as duplicate iff some LOWER-id row in the same cluster has cosine
    similarity >= threshold (keep-first rule — deterministic, no
    transitive chaining, so a single pass decides every row).

    Plan shape for 100 TB: cluster assignment is one map-only Arrow GEMM
    per batch against a broadcast-size (n_clusters x dim) matrix — no
    shuffle; the pairwise stage shuffles ONCE on cluster id and runs an
    in-memory O(c^2) GEMM per cluster via applyInPandas. Pairwise cost is
    sum(c_i^2), bounded by sizing n_clusters ~ corpus/target_cluster_rows
    (the paper uses ~100k clusters for LAION-scale); ``max_cluster_rows``
    raises with guidance instead of silently OOMing a skewed cluster.

    Output: (id, cluster, n_in_cluster, is_dup) — survivors are the
    is_dup=false rows. Similarities are rounded to 6 digits before the
    threshold compare so float noise can't flip a verdict cross-engine.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cn = _semdedup_centroids(n_clusters, dim)

    @pandas_udf("int")
    def assign(v):
        if not len(v):
            return pd.Series([], dtype="int32")
        x = np.stack([np.asarray(e, dtype=np.float64) for e in v])
        scores = np.round(x @ cn.T, 6)
        # first max == DuckDB list_position(scores, list_max(scores)) - 1
        return pd.Series(np.argmax(scores, axis=1).astype("int32"))

    id_t = dict(df.dtypes)[id_col]
    assigned = df.select(
        F.col(id_col), F.col(vec_col), assign(F.col(vec_col)).alias("cluster")
    )

    def dedupe(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > max_cluster_rows:
            raise ValueError(
                f"semdedup cluster {pdf['cluster'].iloc[0]} has "
                f"{len(pdf)} rows > max_cluster_rows={max_cluster_rows}; "
                "raise n_clusters (pairwise work is O(rows^2) per cluster) "
                "or max_cluster_rows if the O(c^2) GEMM fits executor memory"
            )
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        x = np.stack([np.asarray(e, dtype=np.float64) for e in pdf[vec_col]])
        nrm = np.linalg.norm(x, axis=1)
        sims = np.round((x @ x.T) / np.outer(nrm, nrm), 6)
        # dup[i] = any earlier (lower-id) row with sim >= threshold
        dup = np.tril(sims >= threshold, k=-1).any(axis=1)
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                "cluster": pdf["cluster"],
                "n_in_cluster": np.int64(len(pdf)),
                "is_dup": dup,
            }
        )

    return assigned.groupBy("cluster").applyInPandas(
        dedupe,
        f"{id_col} {id_t}, cluster int, n_in_cluster long, is_dup boolean",
    )


def semdedup_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    threshold: float = 0.99,
    dim: int = 64,
    source_sql: str | None = None,
) -> str:
    """DuckDB twin of :func:`semdedup`: the normalized centroid rows are
    embedded as a literal list-of-lists (float64 repr round-trips
    exactly), assignment is list_position(scores, list_max(scores)) - 1
    (first max — numpy argmax's tie rule), and the within-cluster pass is
    an equi-self-join on cluster with the repo's standard rounded-cosine
    predicate. ``source_sql`` overrides the input relation (it must yield
    ``{id_col}`` and a DOUBLE[] column ``v``)."""
    cn = _semdedup_centroids(n_clusters, dim)
    rows = ", ".join(
        "[" + ", ".join(repr(float(x)) for x in r) + "]" for r in cn
    )
    src = source_sql or (
        f"SELECT {id_col}, CAST({vec_col} AS DOUBLE[]) AS v FROM {table}"
    )
    return f"""
      WITH e AS ({src}),
      a AS (
        SELECT {id_col}, v,
               list_transform([{rows}],
                              c -> round(list_dot_product(v, c), 6)) AS scores
        FROM e),
      asg AS (
        SELECT {id_col}, v,
               CAST(list_position(scores, list_max(scores)) - 1
                    AS INTEGER) AS cluster
        FROM a),
      sizes AS (
        SELECT cluster, CAST(count(*) AS BIGINT) AS n_in_cluster
        FROM asg GROUP BY cluster),
      dups AS (
        SELECT DISTINCT b.{id_col} AS did
        FROM asg a JOIN asg b
          ON a.cluster = b.cluster AND a.{id_col} < b.{id_col}
        WHERE round(list_dot_product(a.v, b.v) /
                    (sqrt(list_dot_product(a.v, a.v)) *
                     sqrt(list_dot_product(b.v, b.v))), 6) >= {threshold})
      SELECT g.{id_col}, g.cluster, s.n_in_cluster,
             (d.did IS NOT NULL) AS is_dup
      FROM asg g
      JOIN sizes s USING (cluster)
      LEFT JOIN dups d ON g.{id_col} = d.did
    """


# ------------------------------------- source centroid similarity matrix ----
def centroid_similarity(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pairwise cosine similarity between per-group embedding centroids
    — the slice-level semantic-overlap map ("which sources say the same
    things?") that drives mixture design and near-dup source pruning.

    Builds on :func:`group_centroids` (decimal-exact, long-form), so the
    corpus is touched exactly once; everything after operates on the
    (#groups x dims) centroid table — dimension-sized, broadcast. The
    pair dot/norm sums are again decimal-cast before aggregation
    (products of round-6 centroid components are exact in
    ``decimal(38,12)``), so the matrix is bit-identical on any
    partitioning or engine; cosine is a final round-6 double division.

    Returns (group_a, group_b, n_a, n_b, cosine) for group_a < group_b.
    """
    cen = group_centroids(df, group_col=group_col, vec_col=vec_col)
    a = cen.select(
        F.col(group_col).alias("group_a"),
        "dim_i",
        F.col("n").alias("n_a"),
        F.col("centroid").alias("ca"),
    )
    b = cen.select(
        F.col(group_col).alias("group_b"),
        "dim_i",
        F.col("n").alias("n_b"),
        F.col("centroid").alias("cb"),
    )
    dec = "decimal(38,12)"
    pairs = a.join(F.broadcast(b), "dim_i").filter(
        F.col("group_a") < F.col("group_b")
    )
    agg = pairs.groupBy("group_a", "group_b").agg(
        F.first("n_a").alias("n_a"),
        F.first("n_b").alias("n_b"),
        F.sum((F.col("ca") * F.col("cb")).cast(dec)).alias("_dot"),
        F.sum((F.col("ca") * F.col("ca")).cast(dec)).alias("_na"),
        F.sum((F.col("cb") * F.col("cb")).cast(dec)).alias("_nb"),
    )
    return agg.select(
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        F.round(
            F.col("_dot").cast("double")
            / (
                F.sqrt(F.col("_na").cast("double"))
                * F.sqrt(F.col("_nb").cast("double"))
            ),
            6,
        ).alias("cosine"),
    )


def centroid_similarity_sql(
    table: str = "embeddings",
    group_col: str = "label",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`centroid_similarity` (same decimal-exact
    centroid and pair-sum construction)."""
    return f"""
      WITH e AS (
        SELECT {group_col} AS g,
               unnest(range(0, len({vec_col}))) AS dim_i,
               unnest({vec_col}) AS x
        FROM {table}
      ),
      cen AS (
        SELECT g, dim_i,
               CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(CAST(x AS DECIMAL(30,10))) AS DOUBLE)
                     / count(*), 6) AS c
        FROM e GROUP BY g, dim_i
      ),
      p AS (
        SELECT a.g AS group_a, b.g AS group_b,
               any_value(a.n) AS n_a, any_value(b.n) AS n_b,
               sum(CAST(a.c * b.c AS DECIMAL(38,12))) AS dot,
               sum(CAST(a.c * a.c AS DECIMAL(38,12))) AS na,
               sum(CAST(b.c * b.c AS DECIMAL(38,12))) AS nb
        FROM cen a JOIN cen b USING (dim_i)
        WHERE a.g < b.g
        GROUP BY a.g, b.g
      )
      SELECT group_a, group_b, n_a, n_b,
             round(CAST(dot AS DOUBLE)
                   / (sqrt(CAST(na AS DOUBLE))
                      * sqrt(CAST(nb AS DOUBLE))), 6) AS cosine
      FROM p
    """


# --------------------------------------------- int8 embedding quantize ----
def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization of an embedding column —
    the 4x memory cut that lets an ANN index hold 4x more vectors per
    executor: ``scale = max|x|``, ``q_i = round(x_i / scale * 127)``,
    with the per-vector max reconstruction error reported so the
    quantization is an AUDITED transform, not a leap of faith.

    Map-only (one codegen'd projection over array HOFs — no shuffle, no
    Python, embarrassingly parallel at any scale). All arithmetic is
    double with a fixed expression order, so engines agree bit-for-bit;
    zero vectors quantize to zeros with scale 0 by explicit guard.

    Returns (id, dim, scale, q, max_err): q serialized as the canonical
    comma-joined string (cross-engine array comparison), scale/max_err
    round-6."""
    v = F.col(vec_col)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    q = F.transform(
        v,
        lambda x: F.when(F.lit(0.0) == scale, F.lit(0)).otherwise(
            F.round(x.cast("double") / scale * 127.0, 0)
        ).cast("int"),
    )
    err = F.array_max(
        F.zip_with(
            v,
            q,
            lambda x, qq: F.abs(
                x.cast("double") - qq.cast("double") * scale / 127.0
            ),
        )
    )
    return df.select(
        F.col(id_col),
        F.size(v).cast("int").alias("dim"),
        F.round(scale, 6).alias("scale"),
        F.concat_ws(
            ",", F.transform(q, lambda x: x.cast("string"))
        ).alias("q"),
        F.round(err, 6).alias("max_err"),
    )


def quantize_embeddings_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`quantize_embeddings` (same expression
    order; DuckDB round(x) and Spark round HALF_UP agree — ties away
    from zero)."""
    return f"""
      WITH v AS (
        SELECT {id_col},
               list_transform({vec_col},
                              x -> CAST(x AS DOUBLE)) AS x
        FROM {table}
      ),
      s AS (
        SELECT {id_col}, x,
               list_max(list_transform(x, e -> abs(e))) AS scale
        FROM v
      ),
      q AS (
        SELECT {id_col}, x, scale,
               list_transform(
                 x,
                 e -> CAST(CASE WHEN scale = 0.0 THEN 0
                           ELSE round(e / scale * 127.0, 0) END
                      AS INTEGER)) AS qv
        FROM s
      )
      SELECT {id_col},
             CAST(len(x) AS INTEGER) AS dim,
             round(scale, 6) AS scale,
             array_to_string(qv, ',') AS q,
             round(list_max(list_transform(
               range(1, len(x) + 1),
               i -> abs(x[i] - CAST(qv[i] AS DOUBLE) * scale / 127.0))),
               6) AS max_err
      FROM q
    """


# ------------------------------------------------------------------- PQ --
# Product quantization (Jégou, Douze & Schmid, "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011): split the d-dim vector into m
# subspaces, quantize each subvector to one of n_codes centroids, and
# answer queries with asymmetric distance computation (ADC) — a per-query
# (m × n_codes) lookup table summed over the stored codes. The 100 TB
# story: the corpus index is m bytes/vector instead of 4d (64-dim float32
# → 8 bytes at m=8: 32×), the codebook is literal-sized and broadcast,
# scoring is a map-only table lookup, and the corpus never shuffles.
#
# Everything that RANKS is exact BIGINT: vectors are integer-quantized at
# 10^6 (the repo's cross-engine-exact discipline — float noise can never
# flip an argmin or a top-k order, so the DuckDB oracle reproduces codes
# and rankings verbatim), and the codebook is the bottom-n_codes md5(id)
# corpus sample (the bottomk_sample primitive; deterministic, mergeable,
# SQL-expressible — the stand-in for Lloyd iterations, which would train
# per-subspace k-means on this same sample at scale).


def _int_quantize_expr(vec_col: str, scale: int):
    """array<float> -> array<long>: round(x * scale) per component.

    HALF_UP on both engines (Spark `round`, DuckDB `round`) — ties are
    measure-zero for float32 inputs at scale 10^6 but the modes agree
    anyway."""
    return F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * F.lit(float(scale)), 0).cast(
            "long"
        ),
    )


def pq_sample_codebook(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_codes: int = 16,
    scale: int = 10**6,
) -> list:
    """The shared codebook sample: the ``n_codes`` corpus vectors with the
    smallest md5(id) (deterministic uniform sample without replacement —
    exactly ``bottomk_sample``'s rule), integer-quantized; centroid j of
    every subspace is row j's subvector. TakeOrderedAndProject (no global
    sort); the collect is n_codes × dim longs — literal-sized."""
    if n_codes > 4096:
        raise ValueError(f"codebook collect guard: n_codes={n_codes} > 4096")
    rows = (
        corpus.select(
            F.col(id_col).alias("_id"),
            _int_quantize_expr(vec_col, scale).alias("_iq"),
            F.md5(F.col(id_col).cast("string")).alias("_h"),
        )
        .orderBy("_h", "_id")
        .limit(int(n_codes))
        .collect()
    )
    return [list(r["_iq"]) for r in rows]


def pq_encode(
    corpus: DataFrame,
    codebook: list,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**6,
    keep: list[str] | None = None,
) -> DataFrame:
    """Encode each vector to m codes: (id, *keep, codes). Per subspace,
    the index of the nearest centroid (exact int64 squared L2; ties ->
    smallest index, numpy argmin's rule == the oracle's ORDER BY dist, j).
    Map-only: the codebook closes over the Arrow kernel (the numpy analog
    of F.broadcast), one pass, no shuffle. ``keep`` lists passthrough
    columns. Pure projection, so it applies verbatim to a stream
    (``streaming/pq.pq_gate``)."""
    import numpy as np

    C = np.asarray(codebook, dtype=np.int64)
    n_codes, dim = C.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    keep = list(keep or [])
    iq = corpus.select(
        id_col, *keep, _int_quantize_expr(vec_col, scale).alias("_iq")
    )

    def enc(batches):
        import pandas as pd

        for b in batches:
            if not len(b):
                continue
            X = np.stack([np.asarray(v, dtype=np.int64) for v in b["_iq"]])
            codes = np.empty((len(X), m), dtype=np.int32)
            for s in range(m):
                Xs = X[:, s * sub : (s + 1) * sub]
                Cs = C[:, s * sub : (s + 1) * sub]
                d = ((Xs[:, None, :] - Cs[None, :, :]) ** 2).sum(-1)
                codes[:, s] = d.argmin(1)
            yield b.drop(columns="_iq").assign(codes=list(codes))

    types = dict(iq.dtypes)
    schema = ", ".join(
        [f"{c} {types[c]}" for c in (id_col, *keep)] + ["codes array<int>"]
    )
    return iq.mapInPandas(enc, schema)


def l2_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    scale: int = 10**6,
) -> DataFrame:
    """Exact integer squared-L2 top-k — PQ's ground truth (PQ approximates
    L2, not cosine, so its recall is measured against THIS, not the cosine
    baseline). Same plan shape as cosine_topk: queries collected once,
    every partition emits its local top-k, corpus never shuffles; but the
    ranking key is exact BIGINT — no rounding anywhere."""
    import numpy as np

    qrows = queries.select(
        query_id_col, _int_quantize_expr(query_vec_col, scale).alias("_qi")
    ).collect()
    qids = [r[query_id_col] for r in qrows]
    Q = np.stack([np.asarray(r["_qi"], dtype=np.int64) for r in qrows])
    n_q = len(qids)

    iq = corpus.select(id_col, _int_quantize_expr(vec_col, scale).alias("_iq"))

    def score(batches):
        import pandas as pd

        for b in batches:
            if not len(b):
                continue
            ids = b[id_col].to_numpy()
            X = np.stack([np.asarray(v, dtype=np.int64) for v in b["_iq"]])
            take = min(k, len(ids))
            for qi in range(n_q):
                d = ((X - Q[qi][None, :]) ** 2).sum(1)
                idx = np.lexsort((ids, d))[:take]
                yield pd.DataFrame(
                    {
                        query_id_col: [qids[qi]] * take,
                        id_col: ids[idx],
                        "l2_sq": d[idx],
                    }
                )

    q_t = dict(queries.dtypes)[query_id_col]
    id_t = dict(corpus.dtypes)[id_col]
    local = iq.mapInPandas(
        score, f"{query_id_col} {q_t}, {id_col} {id_t}, l2_sq long"
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("l2_sq").asc(), F.col(id_col).asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "l2_sq")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    scale: int = 10**6,
) -> DataFrame:
    """ADC top-k over the PQ index: adist(x, q) = sum_s T[q][s][code_s(x)]
    where T is the per-query (m × n_codes) exact-int distance table built
    from the literal-sized codebook. The scan side touches only the m-byte
    codes — at 100 TB the index is 32× smaller than the vectors, the
    table is driver-built (m·n_codes ints per query), and scoring is one
    map-only Arrow pass emitting per-partition top-k survivors."""
    import numpy as np

    codebook = pq_sample_codebook(
        corpus, id_col=id_col, vec_col=vec_col, n_codes=n_codes, scale=scale
    )
    C = np.asarray(codebook, dtype=np.int64)
    dim = C.shape[1]
    sub = dim // m

    qrows = queries.select(
        query_id_col, _int_quantize_expr(query_vec_col, scale).alias("_qi")
    ).collect()
    qids = [r[query_id_col] for r in qrows]
    Q = np.stack([np.asarray(r["_qi"], dtype=np.int64) for r in qrows])
    n_q = len(qids)
    # exact-int ADC tables: T[qi, s, j] = ||q_s - c_{s,j}||^2
    T = np.empty((n_q, m, C.shape[0]), dtype=np.int64)
    for s in range(m):
        Qs = Q[:, s * sub : (s + 1) * sub]
        Cs = C[:, s * sub : (s + 1) * sub]
        T[:, s, :] = ((Qs[:, None, :] - Cs[None, :, :]) ** 2).sum(-1)

    enc = pq_encode(
        corpus, codebook, m=m, id_col=id_col, vec_col=vec_col, scale=scale
    )
    cols = np.arange(m)

    def score(batches):
        import pandas as pd

        for b in batches:
            if not len(b):
                continue
            ids = b[id_col].to_numpy()
            codes = np.stack(
                [np.asarray(c, dtype=np.int64) for c in b["codes"]]
            )
            take = min(k, len(ids))
            for qi in range(n_q):
                ad = T[qi][cols[None, :], codes].sum(1)
                idx = np.lexsort((ids, ad))[:take]
                yield pd.DataFrame(
                    {
                        query_id_col: [qids[qi]] * take,
                        id_col: ids[idx],
                        "adist": ad[idx],
                    }
                )

    q_t = dict(queries.dtypes)[query_id_col]
    id_t = dict(corpus.dtypes)[id_col]
    local = enc.mapInPandas(
        score, f"{query_id_col} {q_t}, {id_col} {id_t}, adist long"
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("adist").asc(), F.col(id_col).asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "adist")
    )


def l2_topk_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: str = "vec_id < 3",
    k: int = 5,
    dim: int = 64,
    scale: int = 10**6,
) -> str:
    """DuckDB twin of :func:`l2_topk` (exact BIGINT throughout)."""
    return f"""
      WITH iq AS (
        SELECT {id_col},
               list_transform({vec_col},
                 x -> CAST(round(CAST(x AS DOUBLE) * {scale}, 0) AS BIGINT)
               ) AS v
        FROM {table}),
      q AS (SELECT {id_col} AS query_id, v AS qv FROM iq WHERE {query_pred}),
      d AS (
        SELECT q.query_id, iq.{id_col},
               CAST(list_sum(list_transform(range(1, {dim} + 1),
                    i -> (iq.v[i] - q.qv[i]) * (iq.v[i] - q.qv[i])))
                    AS BIGINT) AS l2_sq
        FROM iq CROSS JOIN q)
      SELECT query_id,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY l2_sq, {id_col})
               AS INTEGER) AS rank,
             {id_col}, l2_sq
      FROM d QUALIFY rank <= {k}
    """


def pq_topk_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: str = "vec_id < 3",
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    scale: int = 10**6,
) -> str:
    """DuckDB twin of :func:`pq_topk`: recomputes the md5-bottom-k
    codebook, the per-subspace argmin codes, the per-query ADC tables,
    and the final (adist, id) ranking — all exact BIGINT, so the match
    is verbatim. The corpus × codes unnests are definitional oracle
    cost, not the engine's plan."""
    sub = dim // m
    return f"""
      WITH iq AS (
        SELECT {id_col},
               list_transform({vec_col},
                 x -> CAST(round(CAST(x AS DOUBLE) * {scale}, 0) AS BIGINT)
               ) AS v
        FROM {table}),
      cb AS (
        SELECT CAST(row_number() OVER (ORDER BY h, {id_col})
                    AS INTEGER) - 1 AS j, v
        FROM (SELECT {id_col}, v, md5(CAST({id_col} AS VARCHAR)) AS h
              FROM iq ORDER BY h, {id_col} LIMIT {n_codes})),
      subs AS (SELECT unnest(range(0, {m})) AS s),
      sd AS (
        SELECT iq.{id_col}, subs.s, cb.j,
               CAST(list_sum(list_transform(range(1, {sub} + 1),
                    t -> (iq.v[subs.s * {sub} + t] - cb.v[subs.s * {sub} + t])
                       * (iq.v[subs.s * {sub} + t] - cb.v[subs.s * {sub} + t])
                    )) AS BIGINT) AS dist
        FROM iq CROSS JOIN subs CROSS JOIN cb),
      codes AS (
        SELECT {id_col}, s, j FROM sd
        QUALIFY row_number() OVER (
          PARTITION BY {id_col}, s ORDER BY dist, j) = 1),
      q AS (SELECT {id_col} AS query_id, v AS qv FROM iq WHERE {query_pred}),
      qt AS (
        SELECT q.query_id, subs.s, cb.j,
               CAST(list_sum(list_transform(range(1, {sub} + 1),
                    t -> (q.qv[subs.s * {sub} + t] - cb.v[subs.s * {sub} + t])
                       * (q.qv[subs.s * {sub} + t] - cb.v[subs.s * {sub} + t])
                    )) AS BIGINT) AS dist
        FROM q CROSS JOIN subs CROSS JOIN cb),
      ad AS (
        SELECT qt.query_id, c.{id_col},
               CAST(sum(qt.dist) AS BIGINT) AS adist
        FROM codes c JOIN qt ON qt.s = c.s AND qt.j = c.j
        GROUP BY qt.query_id, c.{id_col})
      SELECT query_id,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY adist, {id_col})
               AS INTEGER) AS rank,
             {id_col}, adist
      FROM ad QUALIFY rank <= {k}
    """


def contrastive_topk(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    query_label_col: str = "query_label",
    scale: int = 10**6,
) -> DataFrame:
    """Contrastive pair mining for embedding-model training: per anchor,
    the k nearest corpus rows with a DIFFERENT label (hard negatives —
    the pairs that move a contrastive loss) and the k nearest with the
    SAME label excluding the anchor itself (hard positives), ranked by
    exact integer squared L2 (the repo's tie-proof discipline).

    One corpus pass: anchors collect once (they're batch-sized), every
    partition computes ALL anchor distances for its local rows and emits
    only per-(anchor, kind) local top-k — the corpus never shuffles, the
    final rank sorts ≤ anchors·2k·partitions survivors. Non-null labels
    are asserted (a NULL label row would silently vanish from both kinds
    under != / == semantics — fail loudly instead)."""
    import numpy as np

    qrows = anchors.select(
        query_id_col,
        query_label_col,
        _int_quantize_expr(query_vec_col, scale).alias("_qi"),
    ).collect()
    if any(r[query_label_col] is None for r in qrows):
        raise ValueError("contrastive_topk: NULL anchor label")
    qids = [r[query_id_col] for r in qrows]
    qlabels = [r[query_label_col] for r in qrows]
    Q = np.stack([np.asarray(r["_qi"], dtype=np.int64) for r in qrows])
    n_q = len(qids)

    iq = corpus.select(
        id_col, label_col, _int_quantize_expr(vec_col, scale).alias("_iq")
    )

    def score(batches):
        import pandas as pd

        for b in batches:
            if not len(b):
                continue
            if b[label_col].isna().any():
                raise ValueError("contrastive_topk: NULL corpus label")
            ids = b[id_col].to_numpy()
            labels = b[label_col].to_numpy()
            X = np.stack([np.asarray(v, dtype=np.int64) for v in b["_iq"]])
            for qi in range(n_q):
                d = ((X - Q[qi][None, :]) ** 2).sum(1)
                for kind, mask in (
                    ("neg", labels != qlabels[qi]),
                    ("pos", (labels == qlabels[qi]) & (ids != qids[qi])),
                ):
                    if not mask.any():
                        continue
                    di, ii, li = d[mask], ids[mask], labels[mask]
                    idx = np.lexsort((ii, di))[: min(k, len(ii))]
                    yield pd.DataFrame(
                        {
                            query_id_col: [qids[qi]] * len(idx),
                            "kind": [kind] * len(idx),
                            id_col: ii[idx],
                            label_col: li[idx],
                            "l2_sq": di[idx],
                        }
                    )

    q_t = dict(anchors.dtypes)[query_id_col]
    id_t = dict(corpus.dtypes)[id_col]
    lb_t = dict(corpus.dtypes)[label_col]
    local = iq.mapInPandas(
        score,
        f"{query_id_col} {q_t}, kind string, {id_col} {id_t}, "
        f"{label_col} {lb_t}, l2_sq long",
    )
    w = Window.partitionBy(query_id_col, "kind").orderBy(
        F.col("l2_sq").asc(), F.col(id_col).asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "kind", "rank", id_col, label_col, "l2_sq")
    )


def contrastive_topk_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    anchor_pred: str = "vec_id < 3",
    k: int = 5,
    dim: int = 64,
    scale: int = 10**6,
) -> str:
    """DuckDB twin of :func:`contrastive_topk` (exact BIGINT)."""
    return f"""
      WITH iq AS (
        SELECT {id_col}, {label_col},
               list_transform({vec_col},
                 x -> CAST(round(CAST(x AS DOUBLE) * {scale}, 0) AS BIGINT)
               ) AS v
        FROM {table}),
      q AS (SELECT {id_col} AS query_id, {label_col} AS qlabel, v AS qv
            FROM iq WHERE {anchor_pred}),
      d AS (
        SELECT q.query_id, q.qlabel, iq.{id_col}, iq.{label_col},
               CAST(list_sum(list_transform(range(1, {dim} + 1),
                    i -> (iq.v[i] - q.qv[i]) * (iq.v[i] - q.qv[i])))
                    AS BIGINT) AS l2_sq
        FROM iq CROSS JOIN q),
      neg AS (
        SELECT query_id, 'neg' AS kind,
               CAST(row_number() OVER (
                 PARTITION BY query_id ORDER BY l2_sq, {id_col})
                 AS INTEGER) AS rank,
               {id_col}, {label_col}, l2_sq
        FROM d WHERE {label_col} != qlabel QUALIFY rank <= {k}),
      pos AS (
        SELECT query_id, 'pos' AS kind,
               CAST(row_number() OVER (
                 PARTITION BY query_id ORDER BY l2_sq, {id_col})
                 AS INTEGER) AS rank,
               {id_col}, {label_col}, l2_sq
        FROM d WHERE {label_col} = qlabel AND {id_col} != query_id
        QUALIFY rank <= {k})
      SELECT query_id, kind, rank, {id_col}, {label_col}, l2_sq FROM neg
      UNION ALL
      SELECT query_id, kind, rank, {id_col}, {label_col}, l2_sq FROM pos
    """


def pq_distortion_sweep(
    corpus: DataFrame,
    m_list: tuple = (4, 8, 16),
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**6,
) -> DataFrame:
    """The PQ sizing artifact: total / max / mean reconstruction error
    (quantization distortion) for each candidate subspace count m, in
    ONE corpus pass — the number that decides the m / n_codes trade
    before committing a 100 TB re-encode (pack_capacity_sweep's role,
    for the PQ index). Distortion of a vector needs no codes:
    d(x, q(x)) = Σ_s min_j ‖x_s − c_{s,j}‖² — exact int64 per (vec, m),
    so the sweep is a map-only Arrow pass emitting |m_list| rows per
    vector and one grid-sized partial-agg shuffle. The mean is the only
    float: one exact-int division rounded to 6, identical cross-engine."""
    import numpy as np

    codebook = pq_sample_codebook(
        corpus, id_col=id_col, vec_col=vec_col, n_codes=n_codes, scale=scale
    )
    C = np.asarray(codebook, dtype=np.int64)
    dim = C.shape[1]
    ms = [int(m) for m in m_list]
    for m in ms:
        if dim % m:
            raise ValueError(f"dim {dim} not divisible by m={m}")

    iq = corpus.select(id_col, _int_quantize_expr(vec_col, scale).alias("_iq"))

    def dist(batches):
        import pandas as pd

        for b in batches:
            if not len(b):
                continue
            X = np.stack([np.asarray(v, dtype=np.int64) for v in b["_iq"]])
            out_m, out_d = [], []
            for m in ms:
                sub = dim // m
                d = np.zeros(len(X), dtype=np.int64)
                for s in range(m):
                    Xs = X[:, s * sub : (s + 1) * sub]
                    Cs = C[:, s * sub : (s + 1) * sub]
                    d += (
                        ((Xs[:, None, :] - Cs[None, :, :]) ** 2)
                        .sum(-1)
                        .min(1)
                    )
                out_m.append(np.full(len(X), m, dtype=np.int32))
                out_d.append(d)
            yield pd.DataFrame(
                {
                    "m": np.concatenate(out_m),
                    "distortion": np.concatenate(out_d),
                }
            )

    per_vec = iq.mapInPandas(dist, "m int, distortion long")
    return (
        per_vec.groupBy("m")
        .agg(
            F.count("*").cast("long").alias("n_vec"),
            F.sum("distortion").cast("long").alias("total_distortion"),
            F.max("distortion").cast("long").alias("max_distortion"),
            F.round(
                F.sum("distortion").cast("double") / F.count("*"), 6
            ).alias("mean_distortion"),
        )
    )


def pq_distortion_sweep_sql(
    table: str = "embeddings",
    m_list: tuple = (4, 8, 16),
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    scale: int = 10**6,
) -> str:
    """DuckDB twin of :func:`pq_distortion_sweep` (the corpus × m ×
    subspace × code unnest is definitional oracle cost)."""
    ms = ", ".join(str(int(m)) for m in m_list)
    return f"""
      WITH iq AS (
        SELECT {id_col},
               list_transform({vec_col},
                 x -> CAST(round(CAST(x AS DOUBLE) * {scale}, 0) AS BIGINT)
               ) AS v
        FROM {table}),
      cb AS (
        SELECT CAST(row_number() OVER (ORDER BY h, {id_col})
                    AS INTEGER) - 1 AS j, v
        FROM (SELECT {id_col}, v, md5(CAST({id_col} AS VARCHAR)) AS h
              FROM iq ORDER BY h, {id_col} LIMIT {n_codes})),
      grid AS (SELECT unnest([{ms}]) AS m),
      subs AS (SELECT grid.m, unnest(range(0, grid.m)) AS s FROM grid),
      sd AS (
        SELECT iq.{id_col}, subs.m, subs.s,
               min(CAST(list_sum(list_transform(
                    range(1, {dim} // subs.m + 1),
                    t -> (iq.v[subs.s * ({dim} // subs.m) + t]
                          - cb.v[subs.s * ({dim} // subs.m) + t])
                       * (iq.v[subs.s * ({dim} // subs.m) + t]
                          - cb.v[subs.s * ({dim} // subs.m) + t])
                    )) AS BIGINT)) AS mind
        FROM iq CROSS JOIN subs CROSS JOIN cb
        GROUP BY iq.{id_col}, subs.m, subs.s),
      pv AS (
        SELECT {id_col}, m, CAST(sum(mind) AS BIGINT) AS distortion
        FROM sd GROUP BY {id_col}, m)
      SELECT m,
             CAST(count(*) AS BIGINT) AS n_vec,
             CAST(sum(distortion) AS BIGINT) AS total_distortion,
             CAST(max(distortion) AS BIGINT) AS max_distortion,
             round(CAST(sum(distortion) AS DOUBLE) / count(*), 6)
               AS mean_distortion
      FROM pv GROUP BY m
    """


def centroid_shift(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    scale: int = 10**6,
) -> DataFrame:
    """Embedding-space drift between two corpus snapshots: per label,
    how far did the class centroid MOVE? The monitor an embedding
    pipeline runs when the encoder, the corpus, or the upstream filters
    change — length histograms (``drift.py``) see none of it.

    Exactness discipline: vectors integer-quantize at ``scale`` (the
    ANN family's rule), per-(label, dim) component sums are exact
    BIGINTs, and the squared centroid distance is kept as the exact
    INTEGER cross-multiplied form — ‖μ_old − μ_new‖² over dims d is
    Σ_d (s_old·n_new − s_new·n_old)² / (n_old·n_new·scale)² — whose
    numerator is summed in DECIMAL(38,0) (each term can reach ~10²¹,
    past BIGINT but far under decimal-38; addition stays exact and
    order-independent). ``shift2_num`` is that exact numerator;
    ``shift`` is the one float — √numerator ÷ (n_old·n_new·scale),
    rounded 9 (both engines convert the SAME integer to double, so the
    rounding is bit-identical). Labels present in only one snapshot get
    NULL shift (no centroid to compare).

    Scale: one posexplode → (label, dim)-keyed partial agg (grid =
    labels × dims, corpus never joins corpus), then a labels-sized
    projection. NULL labels raise via the same contract as
    contrastive_topk.
    """
    def side(df, tag):
        if df.filter(F.col(label_col).isNull()).limit(1).count():
            raise ValueError("centroid_shift: NULL label")
        return df.select(
            F.col(label_col).alias("lbl"),
            F.lit(tag).alias("t"),
            F.posexplode(_int_quantize_expr(vec_col, scale)).alias(
                "dim", "v"
            ),
        )

    u = side(old, 0).unionByName(side(new, 1))
    grid = u.groupBy("lbl", "dim").agg(
        F.sum(F.when(F.col("t") == 0, F.col("v"))).cast("long").alias(
            "s_old"
        ),
        F.sum(F.when(F.col("t") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_old"),
        F.sum(F.when(F.col("t") == 1, F.col("v"))).cast("long").alias(
            "s_new"
        ),
        F.sum(F.when(F.col("t") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
    )
    term = (
        F.col("s_old").cast("decimal(38,0)") * F.col("n_new")
        - F.col("s_new").cast("decimal(38,0)") * F.col("n_old")
    )
    per_label = grid.groupBy("lbl").agg(
        F.max("n_old").alias("n_old_v"),
        F.max("n_new").alias("n_new_v"),
        F.sum(term * term).alias("num"),
    )
    both = (F.col("n_old_v") > 0) & (F.col("n_new_v") > 0)
    denom = (
        F.col("n_old_v").cast("double")
        * F.col("n_new_v").cast("double")
        * F.lit(float(scale))
    )
    return per_label.select(
        F.col("lbl").alias(label_col),
        F.col("n_old_v").cast("long").alias("n_old"),
        F.col("n_new_v").cast("long").alias("n_new"),
        F.when(both, F.col("num").cast("decimal(38,0)")).alias(
            "shift2_num"
        ),
        F.when(
            both,
            F.round(F.sqrt(F.col("num").cast("double")) / denom, 9),
        ).alias("shift"),
    )


def centroid_shift_sql(
    old_table: str,
    new_table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    scale: int = 10**6,
) -> str:
    """DuckDB twin of :func:`centroid_shift` (unnest WITH ORDINALITY;
    the same round-then-cast quantization; DECIMAL(38,0) numerator)."""
    q = (
        f"CAST(round(CAST(t.{vec_col}[g.d] AS DOUBLE) * {float(scale)}, 0) "
        "AS BIGINT)"
    )

    def side(table, tag):
        return f"""
        SELECT {label_col} AS lbl, g.d - 1 AS dim,
               CAST(sum({q}) AS BIGINT) AS s_{tag},
               CAST(count(*) AS BIGINT) AS n_{tag}
        FROM ({table}) t,
             LATERAL (SELECT unnest(generate_series(
                        1, len(t.{vec_col}))) AS d) g
        GROUP BY 1, 2
        """

    return f"""
      WITH a AS ({side(old_table, 'old')}),
      b AS ({side(new_table, 'new')}),
      j AS (
        SELECT coalesce(a.lbl, b.lbl) AS lbl,
               coalesce(a.dim, b.dim) AS dim,
               a.s_old, a.n_old, b.s_new, b.n_new
        FROM a FULL OUTER JOIN b
          ON a.lbl = b.lbl AND a.dim = b.dim),
      per AS (
        SELECT lbl, max(n_old) AS n_old_v, max(n_new) AS n_new_v,
               sum((CAST(s_old AS DECIMAL(38,0)) * n_new
                    - CAST(s_new AS DECIMAL(38,0)) * n_old)
                   * (CAST(s_old AS DECIMAL(38,0)) * n_new
                      - CAST(s_new AS DECIMAL(38,0)) * n_old)) AS num
        FROM j GROUP BY lbl)
      SELECT lbl AS {label_col},
             CAST(coalesce(n_old_v, 0) AS BIGINT) AS n_old,
             CAST(coalesce(n_new_v, 0) AS BIGINT) AS n_new,
             CASE WHEN n_old_v IS NOT NULL AND n_new_v IS NOT NULL
                  THEN CAST(num AS DECIMAL(38,0)) END AS shift2_num,
             CASE WHEN n_old_v IS NOT NULL AND n_new_v IS NOT NULL
                  THEN round(sqrt(CAST(num AS DOUBLE))
                       / (CAST(n_old_v AS DOUBLE) * n_new_v
                          * {float(scale)}), 9) END AS shift
      FROM per
    """
