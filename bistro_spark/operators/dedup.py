"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup. North-rule training-pipeline extensions (the
reference has nothing comparable; its project column C4 is the closest —
distinct-key extraction).

Scale design:
- exact dedup = hash groupBy on a content fingerprint (md5) — one shuffle
  keyed by the hash, perfectly balanced (hash keys are uniform even when
  the data is skewed).
- MinHash+LSH = per-row signature (narrow, codegen'd) → explode to
  (band_id, band_hash) → self-join *within band buckets only*; at 100 TB
  the band join shuffles only (bands × docs) small rows and AQE splits hot
  buckets. Never a quadratic all-pairs compare.
- SimHash = per-row 16/32-bit sketch; near-dup candidates = equal sketch
  (or Hamming≤d via multi-probe over bit-flip neighborhoods).
- All hashes derive from md5 so the DuckDB oracle reproduces them exactly.

MinHash math: h_j(w) = (A_j * H(w) + B_j) mod P over word hashes
H(w) = int(md5(w)[:8], 16); signature_j = min over words. Standard
universal-hash MinHash (Broder 1997).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bistro_spark.session import local_frame

P = 2_147_483_647  # 2^31-1 (Mersenne prime)
A0, B0 = 2_654_435_761, 0x9E3779B9  # deterministic per-j coefficient bases


def hash_coeffs(k: int) -> list[tuple[int, int]]:
    """Deterministic (A_j, B_j) pairs, reproducible in SQL."""
    return [((A0 + 2 * j + 1) % P, (B0 * (j + 1)) % P) for j in range(k)]


def word_hash(word: Column) -> Column:
    """H(w) = first 8 md5 hex digits as int — engine-portable."""
    return F.conv(F.substring(F.md5(word), 1, 8), 16, 10).cast("long")


def word_hash_sql(word_expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({word_expr}), 1, 8)) AS BIGINT)"


# ------------------------------------------------------------ exact ------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id"):
    """Exact dedup: group by content hash, keep the smallest id.

    Returns (groups, survivors): groups = one row per distinct content with
    keep_id + dup count; survivors = input rows whose id is the keeper.
    """
    groups = df.groupBy(F.md5(F.col(text_col)).alias("fp")).agg(
        F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups")
    )
    survivors = df.join(
        groups.select("keep_id"),
        df[id_col] == groups["keep_id"],
        "left_semi",
    )
    return groups, survivors


# ----------------------------------------------------------- minhash -----


def _shuffle_partitions(df: DataFrame) -> int:
    """spark.sql.shuffle.partitions as an int, falling back to the
    context's default parallelism when the conf is non-numeric (e.g.
    'auto' on some platforms)."""
    try:
        return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return df.sparkSession.sparkContext.defaultParallelism


def minhash_signature(
    df: DataFrame, text_col: str = "text", k: int = 16, barrier: bool = True
) -> DataFrame:
    """Append ``sig`` array<long> of k MinHash values (native Catalyst:
    split → md5-hash per word → k affine min-reductions; no Python).

    With ``barrier=True`` (default) the word-hash array is materialized
    behind a repartition barrier: CollapseProject would otherwise inline it
    into every one of the k min-reductions and recompute the per-word md5 k
    times (measured 2.5x slower end-to-end). The exchange also restores
    parallelism on few-row-group inputs, and self-joining callers (LSH) get
    the whole signature computed once via ReusedExchange. Callers that need
    a narrow no-shuffle plan (and accept the recompute) pass
    ``barrier=False``."""
    words = F.split(F.col(text_col), " ")
    hashes = F.transform(words, lambda w: word_hash(w))
    base = df.withColumn("_hashes", hashes)
    if barrier:
        base = base.repartition(_shuffle_partitions(df))
    sig = F.array(
        *[
            F.array_min(
                F.transform(
                    F.col("_hashes"), lambda h: (h * F.lit(a) + F.lit(b)) % P
                )
            )
            for a, b in hash_coeffs(k)
        ]
    )
    return base.withColumn("sig", sig).drop("_hashes")


def minhash_sig_sql(text_expr: str, k: int = 16) -> str:
    """The identical signature as a DuckDB list expression."""
    h = word_hash_sql("w")
    mins = ", ".join(
        f"(SELECT min(({h} * {a} + {b}) % {P}) "
        f"FROM unnest(string_split({text_expr}, ' ')) AS t(w))"
        for a, b in hash_coeffs(k)
    )
    return f"[{mins}]"


def lsh_bands(
    sig_df: DataFrame, bands: int = 4, rows_per_band: int = 4
) -> DataFrame:
    """Explode signatures to (band_id, band_key): band_key = md5 of the
    band's minhash values — docs sharing any band_key are candidates."""
    cols = []
    for b in range(bands):
        vals = [
            F.col("sig").getItem(b * rows_per_band + r)
            for r in range(rows_per_band)
        ]
        key = F.md5(F.concat_ws(",", *[v.cast("string") for v in vals]))
        cols.append(F.struct(F.lit(b).alias("band_id"), key.alias("band_key")))
    return sig_df.withColumn("band", F.explode(F.array(*cols))).select(
        "*", F.col("band.band_id").alias("band_id"), F.col("band.band_key").alias("band_key")
    ).drop("band")


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
) -> DataFrame:
    """MinHash-LSH near-dup candidates: distinct (id_a < id_b) sharing ≥1
    band bucket. The join is bucket-local — the scale path.

    The banded-signature subtree is MATERIALIZED before the self-join:
    both join sides reference it, and an unpinned plan executes the
    Arrow MinHash kernel twice (measured ~2 s/side at sf0.1 — half the
    candidate-generation cost). The pin is scope-released by the caller's
    ``pin_scope`` like every other checkpoint."""
    from bistro_spark.caching import pin

    rows = k // bands
    banded, _ids = pin(
        lsh_bands(minhash_signature(df, text_col, k), bands, rows).select(
            F.col(id_col).alias("id"), "band_id", "band_key"
        )
    )
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    return pairs


def token_minhash(
    tokens: str | Column = "tokens",
    k: int = 4,
    shingle: int = 3,
    stride: int = 4,
) -> Column:
    """MinHash signature (array<long>, length k) over token-id shingles —
    the near-dup sketch for the tokens payload (no text needed).

    Shingle hash = polynomial over the shingle's token ids (element_at
    reads, no array copies — F.slice+xxhash64 per shingle was measured
    ~10x slower from per-shingle array allocation); ``stride`` samples
    every stride-th shingle (standard sketch downsampling). signature_j =
    min over sampled shingles of the affine rehash (A_j*h + B_j) mod P.
    All JVM-side: per-token compute, no Python, no shuffle — the per-row
    calc shape of the streaming dedup pipeline."""
    c = F.col(tokens) if isinstance(tokens, str) else tokens
    # polynomial shingle hash, values < P so the affine step can't overflow
    poly = [(A0 + 2 * j) % P for j in range(shingle)]

    def gram_hash(i: Column) -> Column:
        h = F.lit(0).cast("long")
        for j, cj in enumerate(poly):
            # try_element_at→0: rows shorter than the shingle width hash
            # their zero-padded prefix (arrays are never empty by schema)
            h = h + F.coalesce(
                F.try_element_at(c, i + F.lit(j)).cast("long"), F.lit(0)
            ) * F.lit(cj)
        return F.pmod(h, F.lit(P))

    grams = F.transform(
        F.sequence(
            F.lit(1), F.greatest(F.size(c) - (shingle - 1), F.lit(1)), F.lit(stride)
        ),
        gram_hash,
    )
    return F.array(
        *[
            F.array_min(
                F.transform(
                    grams,
                    # h < P < 2^31 and a < 2^31: product < 2^62, no overflow
                    lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(P)),
                )
            )
            for a, b in hash_coeffs(k)
        ]
    )


def _minhash_flat(flat, lengths, k, shingle, stride, chunk_tokens=16384):
    """Cache-blocked numpy MinHash kernel over row-concatenated tokens.

    Element-identical to ``token_minhash`` (asserted in tests). Chunks are
    sized to stay L2-resident with preallocated in-place buffers, so DRAM
    traffic ≈ one pass over the input — this is what lets the sketch scale
    with cores instead of with memory bandwidth. ``flat`` may be int32
    (Arrow token ids as stored): each chunk is widened to int64 while
    cache-hot, so the DRAM pass reads 4 bytes/token, not 8."""
    import numpy as np

    poly = [(A0 + 2 * j) % P for j in range(shingle)]
    coeffs = hash_coeffs(k)
    if len(lengths) and (lengths == 0).any():
        # zero-length rows would corrupt the reduceat offsets (duplicate /
        # out-of-range starts); normalize them to a single 0 token, which
        # is exactly the Catalyst twin's zero-padded-prefix semantics
        # (token_minhash: sequence(1, greatest(size-s+1, 1)) over
        # try_element_at→coalesce(…, 0)).
        lengths = np.asarray(lengths, dtype=np.int64)
        lengths2 = np.maximum(lengths, 1)
        off_old = np.concatenate(([0], np.cumsum(lengths)))
        off_new = np.concatenate(([0], np.cumsum(lengths2)))
        flat2 = np.zeros(int(off_new[-1]), dtype=np.int64)
        if len(flat):
            pos = np.repeat(off_new[:-1], lengths) + (
                np.arange(len(flat), dtype=np.int64)
                - np.repeat(off_old[:-1], lengths)
            )
            flat2[pos] = flat
        flat, lengths = flat2, lengths2
    offsets = np.concatenate(([0], np.cumsum(lengths)))
    n = len(lengths)
    out = np.empty((n, k), dtype=np.int64)
    # a chunk holds up to chunk_tokens-1 tokens plus one whole extra row, so
    # the scratch buffer must cover chunk_tokens + the longest row
    max_row = int(lengths.max()) if n else 0
    buf = np.empty(chunk_tokens + max_row, dtype=np.int64)
    r0 = 0
    while r0 < n:
        r1, tok = r0, 0
        while r1 < n and (tok < chunk_tokens or r1 == r0):
            tok += lengths[r1]
            r1 += 1
        s, e = offsets[r0], offsets[r1]
        f = flat[s:e]
        if f.dtype != np.int64:
            f = f.astype(np.int64)  # chunk-local widen, L2-resident
        L = lengths[r0:r1]
        starts = offsets[r0:r1] - s
        m = len(f)
        rep_L = np.repeat(L, L)
        rel = np.arange(m, dtype=np.int64)
        rel -= np.repeat(starts, L)
        h = f * poly[0]
        for j in range(1, shingle):
            sh = np.empty_like(f)
            sh[:-j] = f[j:]
            sh[-j:] = 0
            np.putmask(sh, (rel + j) >= rep_L, 0)
            h += sh * poly[j]
        h %= P
        lim = np.repeat(np.maximum(L - shingle, 0), L)
        ok = rel <= lim
        if stride != 1:
            ok &= (rel % stride) == 0
        hv = h[ok]
        cnt = np.zeros(r1 - r0 + 1, dtype=np.int64)
        np.cumsum(np.add.reduceat(ok.astype(np.int64), starts), out=cnt[1:])
        idx = cnt[:-1]
        v = buf[: len(hv)]
        for jk, (a, b) in enumerate(coeffs):
            np.multiply(hv, a, out=v)
            v += b
            v %= P
            out[r0:r1, jk] = np.minimum.reduceat(v, idx)
        r0 = r1
    return out


def sketch_calc_arrow(
    df: DataFrame,
    tokens_col: str = "tokens",
    k: int = 16,
    shingle: int = 3,
    stride: int = 1,
    sig_col: str = "tok_sig",
    fp_col: str = "fingerprint",
    n_col: str = "n_tok_calc",
) -> DataFrame:
    """Fused sketch calc stage over Arrow record batches (``mapInArrow``).

    The streaming pipeline's token-heavy calcs — n_tok recompute, content
    fingerprint, MinHash signature — fused into ONE pass over the Arrow
    list buffers: lengths come free from the list offsets, the signature
    runs the cache-blocked kernel on the int32 values buffer directly, and
    the fingerprint is a polynomial fold of the k signature values (an
    order-insensitive-collision-free-enough content id: two documents
    collide only when all k stride-1 MinHashes agree, i.e. near-identical
    shingle sets — the right identity notion for dedup statistics).

    Crucially the ``tokens`` column is DROPPED inside the same node, so the
    JVM materializes the arrays exactly once (parquet scan → Arrow); no
    downstream projection, join, or shuffle ever copies them again. At
    fixed memory bandwidth this is what keeps the calc stage scaling with
    cores — UnsafeRow re-materialization of a 1-2 KB array per operator is
    pure DRAM traffic.
    """
    import numpy as np
    import pyarrow as pa

    out_fields = [f for f in df.schema.fields if f.name != tokens_col]
    out_schema_ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in out_fields
    ) + f", {n_col} int, {fp_col} long, {sig_col} array<long>"
    keep_names = [f.name for f in out_fields]

    def run(batches):
        for b in batches:
            idx = b.schema.get_field_index(tokens_col)
            lo = b.column(idx)
            n = len(lo)
            offsets = lo.offsets.to_numpy().astype(np.int64)
            lengths = np.diff(offsets)
            flat = lo.values.to_numpy()[offsets[0] : offsets[-1]]
            if n:
                sig = _minhash_flat(flat, lengths, k, shingle, stride)
                # polynomial fold of the signature rows → one int64 id
                fp = sig[:, 0].astype(np.uint64).copy()
                for j in range(1, k):
                    fp *= np.uint64(1_099_511_628_211)  # FNV prime
                    fp += sig[:, j].astype(np.uint64)
                fp = fp.view(np.int64)
                sig_arr = pa.ListArray.from_arrays(
                    np.arange(0, (n + 1) * k, k, dtype=np.int32),
                    pa.array(sig.ravel()),
                )
            else:
                fp = np.empty(0, dtype=np.int64)
                sig_arr = pa.array([], type=pa.list_(pa.int64()))
            cols = [b.column(b.schema.get_field_index(c)) for c in keep_names]
            cols += [
                pa.array(lengths.astype(np.int32)),
                pa.array(fp),
                sig_arr,
            ]
            yield pa.RecordBatch.from_arrays(
                cols, names=keep_names + [n_col, fp_col, sig_col]
            )

    return df.mapInArrow(run, out_schema_ddl)


def token_minhash_sql(
    tokens_expr: str, k: int = 4, shingle: int = 3, stride: int = 4
) -> str:
    """The identical token-shingle MinHash signature as DuckDB SQL."""
    poly = [(A0 + 2 * j) % P for j in range(shingle)]
    gram = " + ".join(
        f"coalesce(tk[i+{j}], 0)::BIGINT * {cj}" for j, cj in enumerate(poly)
    )
    mins = ", ".join(
        f"""(SELECT min(((h % {P}) * {a} + {b}) % {P})
             FROM (SELECT ({gram}) % {P} AS h
                   FROM unnest(range(1, greatest(len(tk) - {shingle - 1}, 1) + 1,
                               {stride})) AS s(i)))"""
        for a, b in hash_coeffs(k)
    )
    return f"(SELECT [{mins}] FROM (SELECT {tokens_expr} AS tk))"


# ----------------------------------------------------------- simhash -----


def simhash(
    df: DataFrame, text_col: str = "text", bits: int = 16, barrier: bool = True
) -> DataFrame:
    """SimHash sketch: bit b set iff sum over words of ±1 (sign of bit b of
    H(w)) is positive. Near-dups have close sketches (Charikar 2002).
    Word hashes materialized behind a repartition barrier — same reason as
    minhash_signature (each of the `bits` folds would recompute them);
    ``barrier=False`` keeps a narrow plan instead."""
    words = F.split(F.col(text_col), " ")
    hashes = F.transform(words, lambda w: word_hash(w))
    base = df.withColumn("_hashes", hashes)
    if barrier:
        base = base.repartition(_shuffle_partitions(df))
    bit_cols = []
    for b in range(bits):
        contrib = F.aggregate(
            F.col("_hashes"),
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        bit_cols.append(F.when(contrib > 0, F.lit(1 << b)).otherwise(F.lit(0)))
    return base.withColumn(
        "simhash", sum(bit_cols, start=F.lit(0)).cast("long")
    ).drop("_hashes")


def _flip_masks(bits: int, flips: int) -> list[int]:
    """All XOR masks flipping ≤ ``flips`` of ``bits`` bits (incl. 0 = the
    identity probe): sum_{i≤flips} C(bits, i) masks."""
    from itertools import combinations

    masks = [0]
    for d in range(1, flips + 1):
        for combo in combinations(range(bits), d):
            masks.append(sum(1 << b for b in combo))
    return masks


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    max_hamming: int = 2,
) -> DataFrame:
    """SimHash near-dup candidate pairs within Hamming distance ≤ d —
    multi-probe bit-flip search (the candidate generation the sketch alone
    doesn't give you).

    Split-probe (meet-in-the-middle): BOTH sides explode their
    ≤⌈d/2⌉-bit-flip neighborhoods and equi-join on the probed key.  Two
    sketches at Hamming distance h ≤ d always meet at a midpoint — flip
    ⌈h/2⌉ of the differing bits on one side, the rest on the other — so
    the equi join finds every qualifying pair, never an all-pairs
    compare; for odd d the meet covers h = d+1 too, which the final
    ``hamming ≤ d`` filter (computed anyway) trims back.  Probe
    multiplicity at bits=16, d=2 is **17 per side** vs 137 for the naive
    one-sided C(bits, ≤d) explode — an 8× smaller exploded stream, the
    term that dominates at 100 TB (the explode multiplies only the
    narrow (id, sketch) pairs, not documents, but 8× of narrow is still
    8×). Output: (id_a, id_b, hamming) with id_a < id_b.
    """
    sk = simhash(df, text_col, bits).select(
        F.col(id_col).alias("id"), "simhash"
    )
    masks = _flip_masks(bits, (max_hamming + 1) // 2)
    probes = F.explode(
        F.array(*[F.col("simhash").bitwiseXOR(F.lit(m)) for m in masks])
    ).alias("probe")
    probed_a = sk.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), probes
    )
    probed_b = sk.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), probes
    )
    return (
        probed_a.join(probed_b, "probe")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(
                F.col("sh_a").bitwiseXOR(F.col("sh_b"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_sql(text_expr: str, bits: int = 16) -> str:
    h = word_hash_sql("w")
    terms = []
    for b in range(bits):
        terms.append(
            f"(CASE WHEN (SELECT sum(CASE WHEN (({h}) // {1 << b}) % 2 = 1 "
            f"THEN 1 ELSE -1 END) "
            f"FROM unnest(string_split({text_expr}, ' ')) AS t(w)) > 0 "
            f"THEN {1 << b} ELSE 0 END)"
        )
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


# ------------------------------------------------------ n-gram jaccard ----


def ngram_set(text: Column, n: int = 3) -> Column:
    """Distinct hashed word n-grams (sorted, so set ops are portable).

    Grams are built by zip_with-folding ``n`` shifted slices of ONE
    split: an index-lambda (``transform(sequence(...), i ->
    slice(words, i, n))``) embeds the split inside the lambda body and
    re-evaluates it per element — O(words²·len) per document; the slice
    chain evaluates it once per slice (measured 4×, gram sets
    bit-identical). A document with fewer than ``n`` words contains no
    n-gram: the set is empty (the ``when`` also guards slice's negative
    length for short docs)."""
    words = F.split(text, " ")
    m = F.size(words) - (n - 1)
    g = F.slice(words, 1, m)
    for k in range(1, n):
        g = F.zip_with(
            g,
            F.slice(words, k + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    grams = F.when(F.size(words) >= n, F.transform(g, word_hash)).otherwise(
        F.expr("CAST(array() AS array<bigint>)")
    )
    return F.array_sort(F.array_distinct(grams))


def ngram_jaccard(a: Column, b: Column) -> Column:
    """Jaccard over two ngram-set columns: |∩| / |∪| (null-safe, 0 if both
    empty). Inputs are SETS (ngram_set dedups), so |∪| = |a| + |b| - |∩|
    exactly — integer arithmetic instead of materializing a second merged
    array per pair (the verification stream carries millions of pairs,
    each dropping one whole-array construction)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union == 0, 0.0).otherwise(inter / union)


def ngram_set_sql(text_expr: str, n: int = 3) -> str:
    """The identical ngram_set as DuckDB SQL (distinct sorted hashed word
    n-grams)."""
    gram_hash = (
        "CAST(concat('0x', substr(md5(array_to_string("
        f"wrd[i:i+{n - 1}], ' ')), 1, 8)) AS BIGINT)"
    )
    return f"""(
      SELECT list_sort(list_distinct(list_transform(
               range(1, len(wrd) - {n - 1} + 1),
               i -> {gram_hash})))
      FROM (SELECT string_split({text_expr}, ' ') AS wrd)
    )"""


def ngram_jaccard_sql(a_expr: str, b_expr: str) -> str:
    """Jaccard over two ngram-set list expressions (DuckDB)."""
    return f"""(
      CASE WHEN len(list_distinct(list_concat({a_expr}, {b_expr}))) = 0
           THEN 0.0
           ELSE CAST(len(list_intersect({a_expr}, {b_expr})) AS DOUBLE)
                / len(list_distinct(list_concat({a_expr}, {b_expr})))
      END
    )"""


# ------------------------------------------------- dedup clustering (CC) --


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    node_col: str = "id",
    max_iter: int = 30,
    on_nonconvergence: str = "raise",
    _stats: dict | None = None,
) -> DataFrame:
    """Connected components over near-dup pair edges → (id, component),
    component = the smallest node id reachable. The clustering step of a
    dedup pipeline: candidate pairs (LSH / Hamming / Jaccard-verified)
    become clusters, and keep-one-per-cluster follows.

    Alternating large-star/small-star schedule (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond"): the edge set is
    rewired each round —

      * large-star: every node u computes m = min(N(u) ∪ {u}) and each
        STRICTLY LARGER neighbor v > u is re-pointed at m;
      * small-star: edges oriented child>parent; every child u re-points
        itself and all its parents at min(N(u)).

    Both rounds are one groupBy-min plus one equi-join — pure shuffle
    shapes with map-side combine, no driver-side graph state — and the
    edge set contracts toward per-component stars in O(log n) rounds
    REGARDLESS of component diameter (min-label propagation, the previous
    implementation here, needed rounds ∝ diameter — fatal for long crawl
    mirror chains). Each round localCheckpoints to truncate lineage; the
    previous round's blocks are released as soon as the next round is
    materialized, so at most two rounds are pinned at any time. The FINAL
    round stays pinned (the returned labels read it) — run the consumer
    inside :func:`bistro_spark.caching.pin_scope` to free it.

    Convergence is the edge set reaching a fixpoint; if ``max_iter``
    rounds pass without one, this RAISES (``on_nonconvergence='raise'``,
    default) rather than silently returning partial labels — set
    ``on_nonconvergence='warn'`` to log and return best-effort labels.
    Isolated nodes keep their own id.  Pass ``_stats={}`` to receive
    ``{'rounds': k}`` for convergence-rate tests."""
    if on_nonconvergence not in ("raise", "warn"):
        raise ValueError("on_nonconvergence must be 'raise' or 'warn'")
    from bistro_spark.caching import pin, release

    # materialize the edge list FIRST: the pair-generation plan upstream
    # (LSH probes, sketches) is expensive and would otherwise execute once
    # per direction of the symmetrize union
    e, e_ids = pin(
        edges.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    spark = e.sparkSession
    n_edges = e.count()
    converged = n_edges == 0
    rounds = 0
    while not converged and rounds < max_iter:
        # --- large-star: symmetric neighborhoods, larger neighbors → min
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # --- small-star: orient child>parent, child + parents → min parent
        oriented = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        pmins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        small, small_ids = pin(
            oriented.join(pmins, "u")
            .select(
                F.explode(F.array(F.col("u"), F.col("v"))).alias("u"),
                F.col("m").alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        new_count = small.count()
        # fixpoint check: same edge set ⇔ same count and no new-only edge
        converged = (
            new_count == n_edges and small.exceptAll(e).limit(1).count() == 0
        )
        # previous round's checkpoint has no consumers left — free its
        # executor-storage blocks now, so the loop holds at most two
        # rounds pinned instead of all of them (round-3 leak fix)
        release(spark, e_ids)
        e, e_ids, n_edges = small, small_ids, new_count
        rounds += 1
    if _stats is not None:
        _stats["rounds"] = rounds
    if not converged:
        msg = (
            f"connected_components did not converge within max_iter="
            f"{max_iter} rounds ({n_edges} star edges remain in flux); "
            f"labels would be incorrect"
        )
        if on_nonconvergence == "raise":
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning)
    # at fixpoint e is a star forest: (member, root) with root = component
    # min; isolated nodes (no edge) label themselves
    labels = nodes.select(F.col(node_col).alias("id")).join(
        e.select(F.col("u").alias("id"), F.col("v").alias("component")),
        "id",
        "left",
    )
    return labels.select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )


def dedup_clusters(
    df: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
):
    """Full dedup clustering: pair edges → connected components → keep the
    smallest id per cluster. Returns (assignments, survivors): assignments
    = (id, component) for every input row; survivors = rows whose id IS
    its component (one representative per cluster, isolated rows survive
    as their own cluster)."""
    assignments = connected_components(
        edges, df.select(F.col(id_col).alias("id")), id_a, id_b,
        max_iter=max_iter,
    )
    survivors = df.join(
        assignments.filter(F.col("id") == F.col("component")).select("id"),
        df[id_col] == F.col("id"),
        "left_semi",
    )
    return assignments, survivors


# --------------------------------------------- embedding cosine near-dup --


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float> columns — JVM-side zip_with +
    left-to-right aggregate in double (bit-reproducible order)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    dot = F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.transform(b, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return dot / (na * nb)


def _weyl_hyperplanes(bits: int, dim: int):
    """The deterministic pseudo-hyperplane matrix of _sign_bucket as a
    numpy (bits, dim) array — identical double arithmetic."""
    import numpy as np

    j = np.arange(bits, dtype=np.float64)[:, None]
    i = np.arange(dim, dtype=np.float64)[None, :]
    return ((j * 10007.0 + i) * 0.6180339887) % 1.0 - 0.5


def _sign_bucket_np(vec_col: str, bits: int, dim_hint: int | None = None) -> Column:
    """_sign_bucket as an Arrow-vectorized pandas UDF: one GEMM against the
    Weyl hyperplane matrix per batch instead of interpreted per-element
    folds (~50x less overhead at wide embeddings)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def bucket(s):
        import pandas as pd

        if not len(s):
            return pd.Series([], dtype="int32")
        m = np.stack([np.asarray(v, dtype=np.float64) for v in s])
        h = _weyl_hyperplanes(bits, m.shape[1])
        bitvals = (m @ h.T > 0) @ (1 << np.arange(bits, dtype=np.int64))
        return pd.Series(bitvals.astype("int32"))

    return bucket(F.col(vec_col))


def _banded_sign_buckets_np(vec_col: str, n_tables: int, bits: int) -> Column:
    """One bucket id per LSH table (array<int>, length n_tables) in a single
    GEMM against n_tables*bits Weyl hyperplanes — table t uses planes
    [t*bits, (t+1)*bits). The banded analog of _sign_bucket_np."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def buckets(s):
        import pandas as pd

        if not len(s):
            return pd.Series([], dtype=object)
        m = np.stack([np.asarray(v, dtype=np.float64) for v in s])
        h = _weyl_hyperplanes(n_tables * bits, m.shape[1])
        signs = (m @ h.T > 0).reshape(len(s), n_tables, bits)
        vals = signs @ (1 << np.arange(bits, dtype=np.int64))
        return pd.Series(list(vals.astype(np.int32)))

    return buckets(F.col(vec_col))


def _pair_cosine_np(a_col: str, b_col: str) -> Column:
    """Row-wise cosine of two embedding columns via numpy (float64)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def pc(a, b):
        import pandas as pd

        if not len(a):
            return pd.Series([], dtype="float64")
        ma = np.stack([np.asarray(v, dtype=np.float64) for v in a])
        mb = np.stack([np.asarray(v, dtype=np.float64) for v in b])
        num = (ma * mb).sum(axis=1)
        den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
        return pd.Series(num / den)

    return pc(F.col(a_col), F.col(b_col))


def embedding_neardup_pairs(
    emb_df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 4,
    bits_per_table: int = 8,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs at scale: banded multi-table hyperplane LSH.

    Each vector gets one sign-bucket per LSH table (n_tables independent
    bands of bits_per_table deterministic Weyl hyperplanes, one GEMM);
    candidates are id pairs sharing a bucket in ≥1 table (OR-of-ANDs, the
    same banding that lsh_candidate_pairs uses for MinHash). Exact cosine
    (Arrow GEMM) is computed once per DISTINCT candidate pair, then the
    ≥ threshold filter.

    Scale shape: the bucket join is bucket-local — expected pairs per table
    ≈ n²/2^bits_per_table, and the multiplicity is n_tables, never n².
    Recall: identical vectors collide in EVERY table; a vector pair with
    hyperplane-agreement p collides in ≥1 table w.p. 1-(1-p^bits)^tables.
    ``max_bucket`` caps hot buckets: any (table, bucket) with more members
    is excluded from candidacy (standard LSH overflow policy — trades
    recall inside degenerate buckets for a hard bound on join fan-out; the
    dropped-bucket count is observable via the `bucket` plan, and capped
    data paths should log it).
    """
    bucketed = emb_df.select(
        F.col(id_col), F.col(vec_col),
        F.posexplode(
            _banded_sign_buckets_np(vec_col, n_tables, bits_per_table)
        ).alias("table_id", "bucket"),
    )
    if max_bucket is not None:
        sizes = bucketed.groupBy("table_id", "bucket").count()
        keep = sizes.filter(F.col("count") <= max_bucket).select(
            "table_id", "bucket"
        )
        bucketed = bucketed.join(F.broadcast(keep), ["table_id", "bucket"])
    ids = bucketed.select(F.col(id_col).alias("id"), "table_id", "bucket")
    l, r = ids.alias("l"), ids.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.table_id") == F.col("r.table_id"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    va = emb_df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    )
    vb = emb_df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
    )
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos_sim", F.round(_pair_cosine_np("va", "vb"), 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def _sign_bucket(vec: Column, bits: int) -> Column:
    """Deterministic random-hyperplane LSH bucket: bit j = sign of
    dot(vec, h_j) with pseudo-hyperplane h_j[i] = frac((j*10007 + i) *
    0.6180339887) - 0.5 (Weyl sequence — no RNG state, same in any
    engine)."""
    terms = []
    for j in range(bits):
        dot = F.aggregate(
            F.zip_with(
                vec,
                F.sequence(F.lit(0), F.size(vec) - 1),
                lambda x, i: x.cast("double")
                * (
                    ((F.lit(j * 10007).cast("double") + i) * 0.6180339887) % 1.0
                    - 0.5
                ),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        terms.append(F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0)))
    return sum(terms, start=F.lit(0))


# ------------------------------------------ cross-snapshot span dedup -----


def incremental_span_dedup(
    new_df,
    old_df,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 8,
    threshold: float = 0.5,
    bloom_bits: int | None = 1 << 20,
):
    """Cross-snapshot near-dup check — the production incremental-crawl
    flow: score each NEW document by the fraction of its ``size``-word
    spans already present anywhere in the OLD corpus, and flag it a
    duplicate when the fraction reaches ``threshold``.

    Returns (id, n_spans, n_matched, is_dup). The old side reduces to
    DISTINCT span hashes — corpus-scale, so the probe is a shuffle
    equi-join on the hash (per-span, map-side combinable counts). When
    ``bloom_bits`` is set (default 2^20; None disables), a bloom filter
    over the old span hashes (``operators.bloom`` — one map-only pass,
    driver ORs #partitions bitsets) pre-filters the NEW side first:
    definite-miss spans take the ``_hit = 0`` branch without ever
    shuffling, and only maybe-hits pay the equi-join. No false negatives
    ⇒ output is IDENTICAL to the unpruned path (parity pytest-pinned);
    the dominant shuffle shrinks by the miss fraction — at 100 TB of
    mostly-novel crawl, most of it.
    The threshold compare is integer arithmetic (matched * denom >=
    threshold_num * n_spans via a rational cut) — no float boundary.
    """
    from fractions import Fraction

    from bistro_spark.operators.curation import chunk_spans

    frac = Fraction(threshold).limit_denominator(10**6)
    new_spans = chunk_spans(
        new_df, id_col=id_col, text_col=text_col, size=size, overlap=0
    ).select(id_col, F.md5(F.col("chunk_text")).alias("_h"))
    old_spans_raw = chunk_spans(
        old_df, id_col=id_col, text_col=text_col, size=size, overlap=0
    ).select(F.md5(F.col("chunk_text")).alias("_h"))
    old_spans = old_spans_raw.distinct().withColumn("_hit", F.lit(1))
    if bloom_bits is not None:
        from bistro_spark.operators.bloom import build_bloom, might_contain

        bloom = build_bloom(old_spans_raw, "_h", m_bits=bloom_bits)
        flagged = new_spans.withColumn(
            "_mc", might_contain(new_spans, "_h", bloom)
        )
        maybe = flagged.filter(F.col("_mc")).join(old_spans, "_h", "left")
        miss = flagged.filter(~F.col("_mc")).withColumn(
            "_hit", F.lit(None).cast("int")
        )
        probed = maybe.select(id_col, "_h", "_hit").unionByName(
            miss.select(id_col, "_h", "_hit")
        )
    else:
        probed = new_spans.join(old_spans, "_h", "left")
    return probed.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_spans"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias(
            "n_matched"
        ),
    ).withColumn(
        "is_dup",
        (
            F.col("n_matched") * frac.denominator
            >= F.col("n_spans") * frac.numerator
        ).cast("int"),
    )


def incremental_span_dedup_sql(
    table: str = "documents",
    new_pred: str = "doc_id % 2 = 1",
    old_pred: str = "doc_id % 2 = 0",
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 8,
    threshold: float = 0.5,
) -> str:
    """DuckDB twin over one table split by two predicates."""
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(10**6)
    return f"""
      WITH w AS (
        SELECT {id_col}, string_split({text_col}, ' ') AS wrd,
               CASE WHEN {new_pred} THEN 1
                    WHEN {old_pred} THEN 0 END AS side
        FROM {table} WHERE ({new_pred}) OR ({old_pred})
      ),
      c AS (
        SELECT {id_col}, side, wrd, len(wrd) AS n,
               unnest(range(0, 1 + CAST(ceil(greatest(len(wrd) - {size}, 0)
                                             / {size}.0) AS INTEGER)))
                 AS chunk_id
        FROM w
      ),
      s AS (
        SELECT {id_col}, side,
               array_to_string(
                 wrd[chunk_id * {size} + 1
                     : least(chunk_id * {size} + {size}, n)], ' ') AS t
        FROM c
      ),
      olds AS (SELECT DISTINCT t FROM s WHERE side = 0)
      SELECT s.{id_col} AS {id_col},
             CAST(count(*) AS BIGINT) AS n_spans,
             CAST(sum(CASE WHEN o.t IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_matched,
             CAST(sum(CASE WHEN o.t IS NOT NULL THEN 1 ELSE 0 END)
                  * {frac.denominator} >= count(*) * {frac.numerator}
                  AS INTEGER) AS is_dup
      FROM s LEFT JOIN olds o USING (t)
      WHERE side = 1
      GROUP BY s.{id_col}
    """


# ------------------------------------- repeated-substring detection -------


def repeated_substrings(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 8,
):
    """Arbitrary-boundary repeated-substring detection (the detection
    half of Lee et al.'s exact substring dedup, window-approximated):
    slide a ``size``-word window with stride 1 over every document; any
    ``size``-word substring occurring >= 2 times corpus-wide marks its
    window repeated; per document, overlapping/adjacent repeated windows
    merge into maximal repeated regions.

    Returns (id, start_word, end_word, n_windows) — 1-based inclusive
    word spans of each merged region. Unlike the fixed-grid
    ``curation.dedup_spans`` (which can also REMOVE, since its spans
    tile), stride-1 windows catch repeats at any alignment — this is the
    audit/measurement pass; removal policy (which occurrence survives)
    is a separate decision.

    Scale shape: the stride-1 explode is size x corpus tokens — the op's
    honest cost (Lee et al. pay the same via suffix arrays). Occurrence
    counting is a partial-aggregatable count on the window hash
    (boilerplate windows collapse map-side), the join back an equi-join
    (AQE-skew-splittable); interval merging is per-document windowing,
    bounded by document length.
    """
    from pyspark.sql import Window

    words = F.split(F.col(text_col), " ")
    n = F.size(words)
    wins = (
        df.select(F.col(id_col), words.alias("_w"), n.alias("_n"))
        .filter(F.col("_n") >= size)  # sequence() must never descend
        .select(
            id_col,
            F.explode(
                F.sequence(F.lit(1), F.col("_n") - (size - 1))
            ).alias("start_word"),
            "_w",
        )
        .select(
            id_col,
            "start_word",
            (F.col("start_word") + (size - 1)).alias("end_word"),
            F.md5(
                F.concat_ws(" ", F.slice(F.col("_w"), F.col("start_word"), size))
            ).alias("_h"),
        )
    )
    occ = wins.groupBy("_h").agg(F.count("*").alias("_occ"))
    rep = (
        wins.join(occ, "_h")
        .filter(F.col("_occ") >= 2)
        .select(id_col, "start_word", "end_word")
    )
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("start_word")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = Window.partitionBy(id_col).orderBy("start_word")
    grouped = rep.withColumn(
        "_new",
        (
            F.col("start_word")
            > F.coalesce(F.max("end_word").over(w_prev), F.lit(-1)) + 1
        ).cast("int"),
    ).withColumn("_grp", F.sum("_new").over(w_run))
    return grouped.groupBy(id_col, "_grp").agg(
        F.min("start_word").cast("int").alias("start_word"),
        F.max("end_word").cast("int").alias("end_word"),
        F.count("*").cast("long").alias("n_windows"),
    ).drop("_grp")


def repeated_substrings_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 8,
) -> str:
    """DuckDB twin of :func:`repeated_substrings` (counts occurrences of
    the window text itself where Spark counts its md5)."""
    return f"""
      WITH w AS (
        SELECT {id_col}, string_split({text_col}, ' ') AS wrd,
               len(string_split({text_col}, ' ')) AS n
        FROM {table}
      ),
      wins AS (
        SELECT {id_col},
               unnest(range(1, n - {size} + 2)) AS start_word,
               wrd
        FROM w WHERE n >= {size}
      ),
      keyed AS (
        SELECT {id_col}, start_word,
               start_word + {size} - 1 AS end_word,
               array_to_string(
                 wrd[start_word : start_word + {size} - 1], ' ') AS t
        FROM wins
      ),
      occ AS (SELECT t, count(*) AS c FROM keyed GROUP BY t),
      rep AS (
        SELECT k.{id_col}, k.start_word, k.end_word
        FROM keyed k JOIN occ USING (t) WHERE occ.c >= 2
      ),
      grouped AS (
        SELECT *,
               CAST(start_word > coalesce(max(end_word) OVER (
                 PARTITION BY {id_col} ORDER BY start_word
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
                 AS INTEGER) AS new_grp
        FROM rep
      ),
      numbered AS (
        SELECT *, sum(new_grp) OVER (
          PARTITION BY {id_col} ORDER BY start_word
          ROWS UNBOUNDED PRECEDING) AS grp
        FROM grouped
      )
      SELECT {id_col},
             CAST(min(start_word) AS INTEGER) AS start_word,
             CAST(max(end_word) AS INTEGER) AS end_word,
             CAST(count(*) AS BIGINT) AS n_windows
      FROM numbered GROUP BY {id_col}, grp
    """


def strip_repeated_substrings(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 8,
):
    """Removal companion to :func:`repeated_substrings` under the
    drop-all-occurrences policy (the conservative variant used when any
    boilerplate repeat is unwanted, e.g. headers/footers — contrast with
    ``curation.dedup_spans``, which keeps the first occurrence on its
    fixed grid): delete every word covered by a merged repeated region
    and rebuild each document's text.

    Returns (id, n_words, n_removed, text_stripped) for EVERY input doc
    (docs with no repeats pass through, n_removed = 0). Word-level
    anti-coverage is an equi-join on the doc id plus a range predicate
    against that doc's own regions — regions per doc are few, so the
    join fan-out is bounded by region count, and the rebuild re-agg is
    document-bounded.
    """
    regions = repeated_substrings(
        df, id_col=id_col, text_col=text_col, size=size
    ).select(id_col, "start_word", "end_word")
    words = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("_pos0", "_word"),
    ).withColumn("_pos", F.col("_pos0") + 1)
    covered = (
        words.join(regions, id_col)
        .filter(F.col("_pos").between(F.col("start_word"), F.col("end_word")))
        .select(id_col, "_pos")
        .distinct()
        .withColumn("_cut", F.lit(1))
    )
    marked = words.join(covered, [id_col, "_pos"], "left")
    return marked.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum(F.coalesce(F.col("_cut"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_cut").isNull(),
                            F.struct(F.col("_pos"), F.col("_word")),
                        )
                    )
                ),
                lambda x: x["_word"],
            ),
        ).alias("text_stripped"),
    )


def strip_repeated_substrings_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 8,
) -> str:
    """DuckDB twin of :func:`strip_repeated_substrings`."""
    regions = repeated_substrings_sql(
        table, id_col=id_col, text_col=text_col, size=size
    )
    return f"""
      WITH regions AS ({regions}),
      words AS (
        SELECT {id_col},
               unnest(string_split({text_col}, ' ')) AS word,
               unnest(range(1, len(string_split({text_col}, ' ')) + 1))
                 AS pos
        FROM {table}
      ),
      covered AS (
        SELECT DISTINCT w.{id_col}, w.pos
        FROM words w JOIN regions r
          ON w.{id_col} = r.{id_col}
         AND w.pos BETWEEN r.start_word AND r.end_word
      )
      SELECT w.{id_col} AS {id_col},
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(CASE WHEN c.pos IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_removed,
             coalesce(string_agg(CASE WHEN c.pos IS NULL THEN w.word END,
                                 ' ' ORDER BY w.pos), '') AS text_stripped
      FROM words w
      LEFT JOIN covered c ON w.{id_col} = c.{id_col} AND w.pos = c.pos
      GROUP BY w.{id_col}
    """


# ------------------------------------------- corpus-overlap audit matrix --


def source_overlap(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    n: int = 3,
    max_groups: int = 32,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard overlap between every pair of corpus
    groups (sources), without ever joining data to data.

    The trick that makes this a 100 TB operator: each distinct gram only
    needs to know *which* groups contain it, and with G <= 32 groups that
    fact is one long. So the whole computation is

      1. explode per-doc distinct gram hashes tagged with the group's bit
         (``1 << bit(group)``) — map-only;
      2. ``groupBy(gram).agg(bit_or(mask))`` — the ONE data-sized shuffle,
         and bit_or is associative/commutative so Spark partial-aggregates
         it map-side (duplicate grams within a partition collapse before
         the exchange);
      3. ``groupBy(mask).count()`` — the input is one row per distinct
         gram, but the OUTPUT is bounded by 2^G rows *independent of
         corpus size* (and in practice by the number of group combinations
         that actually co-occur);
      4. a broadcast join of the G*(G-1)/2 pair list against that bounded
         histogram: ``inter = sum(cnt where both bits set)``,
         ``union = sum(cnt where either bit set)``.

    No all-pairs document join, no gram-keyed self-join (the classic
    formulation joins the distinct (group, gram) relation to itself — a
    shuffle whose output can be G x larger than its input). Pairs with
    zero overlap are retained (left join from the pair frame).

    Reference parity: this is the audit companion to `exact_dedup` /
    `ngram_jaccard` — set semantics are identical to ngram_set (distinct
    hashed word n-grams, short docs contribute the empty set).

    Returns (source_a, source_b, inter_grams, union_grams, jaccard) with
    source_a < source_b, jaccard rounded to 6 (report column, never a key).
    """
    groups, bit_of, mask_expr = _group_bits(
        df, group_col, max_groups, "source_overlap"
    )
    gram_masks = (
        df.select(mask_expr.alias("mask"), F.explode(ngram_set(F.col(text_col), n)).alias("gram"))
        .groupBy("gram")
        .agg(F.bit_or("mask").alias("mask"))
    )
    return _pairwise_mask_overlap(
        df.sparkSession, gram_masks, groups, bit_of, "inter_grams", "union_grams"
    )


def _group_bits(df: DataFrame, group_col: str, max_groups: int, op: str):
    """Assign one bit per distinct group value (the mask-histogram
    precondition); the collect is G rows — dimension-sized by contract."""
    groups = sorted(
        r[0] for r in df.select(group_col).distinct().collect() if r[0] is not None
    )
    if len(groups) > max_groups:
        raise ValueError(
            f"{op}: {len(groups)} groups > max_groups={max_groups}; "
            "the mask-histogram design needs one bit per group — bump "
            "max_groups (<= 62) or pre-bucket the group column"
        )
    bit_of = {g: i for i, g in enumerate(groups)}
    mask_expr = F.lit(0)
    for g, i in bit_of.items():
        mask_expr = F.when(F.col(group_col) == g, F.lit(1 << i)).otherwise(mask_expr)
    return groups, bit_of, mask_expr


def _pairwise_mask_overlap(
    spark, keyed_masks: DataFrame, groups, bit_of, inter_name: str, union_name: str
) -> DataFrame:
    """Pairwise |A∩B| / |A∪B| over a (key -> group-bit mask) relation,
    without any key-keyed self-join: histogram the masks (output bounded
    by 2^G rows independent of corpus size), then broadcast the
    G*(G-1)/2 pair list against the histogram."""
    hist = keyed_masks.groupBy("mask").agg(F.count(F.lit(1)).alias("cnt"))

    pairs = local_frame(
        spark,
        [
            (a, b, bit_of[a], bit_of[b])
            for ai, a in enumerate(groups)
            for b in groups[ai + 1 :]
        ],
        "source_a string, source_b string, bit_a int, bit_b int",
    )
    both = F.expr("((mask >> bit_a) & 1) = 1 AND ((mask >> bit_b) & 1) = 1")
    either = F.expr("((mask >> bit_a) & 1) = 1 OR ((mask >> bit_b) & 1) = 1")
    per_pair = (
        hist.join(F.broadcast(pairs), either, "inner")
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(F.when(both, F.col("cnt")).otherwise(F.lit(0))).alias(inter_name),
            F.sum("cnt").alias(union_name),
        )
    )
    return (
        pairs.select("source_a", "source_b")
        # broadcast the RIGHT side: a left-outer join can only broadcast
        # the build (right) side, and per_pair is <= G*(G-1)/2 rows
        .join(F.broadcast(per_pair), ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            F.coalesce(inter_name, F.lit(0)).cast("bigint").alias(inter_name),
            F.coalesce(union_name, F.lit(0)).cast("bigint").alias(union_name),
            F.round(
                F.when(F.coalesce(union_name, F.lit(0)) == 0, F.lit(0.0)).otherwise(
                    F.coalesce(inter_name, F.lit(0))
                    / F.coalesce(union_name, F.lit(0))
                ),
                6,
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


def source_overlap_sql(
    table: str, text_col: str = "text", group_col: str = "source", n: int = 3
) -> str:
    """DuckDB oracle for source_overlap: the textbook formulation — distinct
    (group, gram) relation, per-group sizes, gram-keyed self-join for
    intersections, |A u B| = |A| + |B| - |A n B| — over the identical
    ngram_set hash."""
    grams = ngram_set_sql(text_col, n)
    return f"""
      WITH dg AS (
        SELECT DISTINCT {group_col} AS grp, unnest({grams}) AS gram
        FROM {table}
        WHERE {group_col} IS NOT NULL
      ),
      srcs AS (SELECT DISTINCT {group_col} AS grp FROM {table}
               WHERE {group_col} IS NOT NULL),
      sz AS (SELECT grp, count(*) AS c FROM dg GROUP BY grp),
      pairs AS (
        SELECT a.grp AS sa, b.grp AS sb
        FROM srcs a JOIN srcs b ON a.grp < b.grp
      ),
      inter AS (
        SELECT x.grp AS sa, y.grp AS sb, count(*) AS i
        FROM dg x JOIN dg y ON x.gram = y.gram AND x.grp < y.grp
        GROUP BY 1, 2
      )
      SELECT p.sa AS source_a, p.sb AS source_b,
             CAST(coalesce(i.i, 0) AS BIGINT) AS inter_grams,
             CAST(coalesce(za.c, 0) + coalesce(zb.c, 0) - coalesce(i.i, 0)
                  AS BIGINT) AS union_grams,
             round(CASE WHEN coalesce(za.c,0) + coalesce(zb.c,0)
                             - coalesce(i.i,0) = 0 THEN 0.0
                        ELSE CAST(coalesce(i.i, 0) AS DOUBLE)
                             / (coalesce(za.c,0) + coalesce(zb.c,0)
                                - coalesce(i.i,0))
                   END, 6) AS jaccard
      FROM pairs p
      LEFT JOIN sz za ON za.grp = p.sa
      LEFT JOIN sz zb ON zb.grp = p.sb
      LEFT JOIN inter i ON i.sa = p.sa AND i.sb = p.sb
      ORDER BY source_a, source_b
    """


# ------------------------------------- cross-source exact-dup matrix ----
def dup_matrix(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    max_groups: int = 32,
) -> DataFrame:
    """Cross-source EXACT-duplicate matrix: for every pair of corpus
    groups, how many distinct document contents appear in both — the
    whole-document companion to :func:`source_overlap` (which measures
    fuzzy n-gram overlap). Reads as "source A republishes source B":
    a high shared_contents with low n-gram jaccard means verbatim
    mirroring of a subset, the case fuzzy overlap dilutes away.

    Same 100 TB shape as source_overlap, on a cheaper key: one map-only
    fingerprint projection (md5 of the content — no explode at all),
    ONE partial-aggregated bit_or shuffle on the fingerprint, then the
    2^G-bounded mask histogram joined to the broadcast pair list. No
    content-keyed self-join, no document pairs ever materialized.

    Returns (source_a, source_b, shared_contents, union_contents,
    jaccard) with source_a < source_b; jaccard rounded to 6 (report
    column, never a key)."""
    groups, bit_of, mask_expr = _group_bits(df, group_col, max_groups, "dup_matrix")
    fp_masks = (
        df.select(mask_expr.alias("mask"), F.md5(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.bit_or("mask").alias("mask"))
    )
    return _pairwise_mask_overlap(
        df.sparkSession, fp_masks, groups, bit_of, "shared_contents", "union_contents"
    )


def dup_matrix_sql(table: str, text_col: str = "text", group_col: str = "source") -> str:
    """DuckDB oracle for dup_matrix: the textbook formulation — distinct
    (group, content-fingerprint) relation, per-group sizes, fp-keyed
    self-join for intersections, |A∪B| = |A| + |B| - |A∩B|."""
    return f"""
      WITH dg AS (
        SELECT DISTINCT {group_col} AS grp, md5({text_col}) AS fp
        FROM {table}
        WHERE {group_col} IS NOT NULL
      ),
      srcs AS (SELECT DISTINCT {group_col} AS grp FROM {table}
               WHERE {group_col} IS NOT NULL),
      sz AS (SELECT grp, count(*) AS c FROM dg GROUP BY grp),
      pairs AS (
        SELECT a.grp AS sa, b.grp AS sb
        FROM srcs a JOIN srcs b ON a.grp < b.grp
      ),
      inter AS (
        SELECT x.grp AS sa, y.grp AS sb, count(*) AS i
        FROM dg x JOIN dg y ON x.fp = y.fp AND x.grp < y.grp
        GROUP BY 1, 2
      )
      SELECT p.sa AS source_a, p.sb AS source_b,
             CAST(coalesce(i.i, 0) AS BIGINT) AS shared_contents,
             CAST(coalesce(za.c, 0) + coalesce(zb.c, 0) - coalesce(i.i, 0)
                  AS BIGINT) AS union_contents,
             round(CASE WHEN coalesce(za.c,0) + coalesce(zb.c,0)
                             - coalesce(i.i,0) = 0 THEN 0.0
                        ELSE CAST(coalesce(i.i, 0) AS DOUBLE)
                             / (coalesce(za.c,0) + coalesce(zb.c,0)
                                - coalesce(i.i,0))
                   END, 6) AS jaccard
      FROM pairs p
      LEFT JOIN sz za ON za.grp = p.sa
      LEFT JOIN sz zb ON zb.grp = p.sb
      LEFT JOIN inter i ON i.sa = p.sa AND i.sb = p.sb
      ORDER BY source_a, source_b
    """


# --------------------------------------------- cluster size histogram ----
def cluster_size_histogram(assignments: DataFrame) -> DataFrame:
    """Dedup-audit histogram over a cluster assignment (`(id, component)`
    rows from :func:`connected_components`): how many clusters of each
    size, and how many documents they hold. The first thing to read after
    a dedup run — a fat tail of giant clusters means boilerplate/template
    content; all-singletons means the banding missed. Two
    partial-aggregatable groupBys, both over already-reduced relations
    (components, then sizes) — output bounded by the largest cluster
    size, never corpus-sized."""
    sizes = assignments.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("cluster_size")).cast("long").alias("n_docs"),
    )


def minhash_calibration(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 2,
) -> DataFrame:
    """Sketch-quality audit: for every LSH candidate pair, compare the
    MinHash ESTIMATE of Jaccard (matching signature components / k)
    against the EXACT Jaccard of the same sets the sketch hashes — the
    distinct word (1-gram) sets — aggregated into the ≤k+1-row
    calibration curve a dedup operator's threshold is tuned on. This is
    the measurement that justifies a banding choice with data instead of
    the textbook formula; estimator and ground truth MUST range over the
    same shingle space or the curve means nothing.

    Cost shape is the verified-pairs flow's: candidates come from the
    banded bucket join (never all pairs), signatures and n-gram sets are
    computed only for candidate members (semi-join), per-pair work is
    O(k + |ngrams|). Float discipline: the per-pair exact Jaccard is one
    double expression over exact set sizes, rounded to 9 and summed as
    decimal per bucket (order-independent); the estimate column is an
    exact integer ratio rounded once.

    Returns (est_matches, n_pairs, est_jaccard, mean_exact, min_exact,
    max_exact) sorted by the caller if needed."""
    from bistro_spark.caching import pin

    # candidate pairs and member features are candidate-bounded (tiny vs
    # the corpus) but feed MULTIPLE consumers (members, the a/b sides of
    # the pair join): pin each once so the signature/shingle subtree is
    # computed exactly once, not re-derived per join side (scope-released
    # by the caller's pin_scope). Catalyst's size estimates for
    # checkpoint/UDF subtrees are too pessimistic to pick broadcasts on
    # its own (plan audit: 4 SortMergeJoins on candidate-bounded sides),
    # so gate on the ACTUAL member count — cheap, pairs is pinned — and
    # broadcast the id list into the semi-join (the corpus never
    # shuffles) and the feature table into both pair joins (the pair
    # stream never shuffles). Past the bound the plain joins let AQE
    # decide — the honest at-scale plan. Same treatment as the
    # dedup_verified_pairs contract query.
    pairs, _ = pin(lsh_candidate_pairs(df, text_col, id_col, k=k, bands=bands))
    members = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    small = members.count() <= 200_000
    if small:
        members = F.broadcast(members)
    feat, _ = pin(
        minhash_signature(
            df.join(members, id_col, "left_semi"), text_col, k
        ).select(
            F.col(id_col).alias("_id"),
            F.col("sig"),
            ngram_set(F.col(text_col), n=1).alias("_ng"),
        )
    )
    a = feat.select(
        F.col("_id").alias("id_a"),
        F.col("sig").alias("_sig_a"),
        F.col("_ng").alias("_ng_a"),
    )
    b = feat.select(
        F.col("_id").alias("id_b"),
        F.col("sig").alias("_sig_b"),
        F.col("_ng").alias("_ng_b"),
    )
    if small:
        a, b = F.broadcast(a), F.broadcast(b)
    est = F.size(
        F.filter(
            F.zip_with("_sig_a", "_sig_b", lambda x, y: x == y),
            lambda v: v,
        )
    ).cast("long")
    jx = F.round(
        ngram_jaccard(F.col("_ng_a"), F.col("_ng_b")), 9
    ).cast("decimal(38,9)")
    scored = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(est.alias("est_matches"), jx.alias("_j"))
    )
    g = scored.groupBy("est_matches").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("_j").alias("_sj"),
        F.min("_j").alias("_mn"),
        F.max("_j").alias("_mx"),
    )
    return g.select(
        "est_matches",
        "n_pairs",
        F.round(F.col("est_matches") / F.lit(float(k)), 6).alias(
            "est_jaccard"
        ),
        F.round(F.col("_sj").cast("double") / F.col("n_pairs"), 6).alias(
            "mean_exact"
        ),
        F.round(F.col("_mn").cast("double"), 6).alias("min_exact"),
        F.round(F.col("_mx").cast("double"), 6).alias("max_exact"),
    )
