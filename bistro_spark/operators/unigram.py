"""Unigram-LM subword tokenizer (train + encode), Spark-first.

BPE's sibling (``operators/bpe.py``): the OTHER learned-subword family
production pipelines deploy — Kudo 2018's unigram language model (the
SentencePiece default). Where BPE greedily grows a merge list, unigram
starts from a large seed vocabulary and EM-prunes it down; encoding is a
Viterbi best segmentation instead of a merge fixpoint.

Spark/driver split, mirroring the BPE design:

- **Corpus-scale stage (once)**: ONE distributed word-frequency
  aggregation (reused from ``bpe.word_frequencies``). Everything after
  operates on the word-TYPE table (vocabulary-sized, Zipf-capped), never
  the corpus — the same reason industrial trainers run on word counts.

- **E-step (distributed, one shuffle per EM round)**: expected piece
  counts are independent per word type, so each round parallelizes the
  word-freq table, runs the forward-backward lattice sums in an
  Arrow-batched stage, explodes to (piece, expected_count) and
  partial+final sums by piece. The result is vocabulary-sized. At 100 TB
  the word-type table is tens of millions of rows — genuinely worth
  distributing; the per-round shuffle moves |vocab| rows, not |corpus|.

- **M-step + pruning (driver)**: renormalize probabilities, then shrink
  the vocabulary toward ``vocab_size`` by dropping the lowest
  expected-count pieces (ties: piece ASC — same corpus → same vocab on
  any cluster shape / retry). Single-character pieces and the
  word-boundary marker are never pruned, so every string stays
  segmentable.

- **Encode**: Viterbi DP per word (:func:`viterbi_segment`) in the
  memoized Arrow stage the three tokenizers share
  (``operators/subword.py``). Map-only: the vocabulary ships via
  closure, no shuffle, no per-row Python UDF.

Cross-engine exactness: float log-probabilities sum in different orders
on different engines, so the hash-checked contract twin runs on an
INTEGER-scored fixed vocabulary (:data:`FIXED_UNIGRAM_VOCAB`) — integer
sums are order-independent, making Spark's Viterbi and the DuckDB
enumeration oracle byte-comparable. Ties on total score break by the
lexicographically smallest piece list; the DP tie-break is sound because
two tied prefixes covering the same span always differ at some element
(a list-prefix tie would mean they cover different spans), so appending
a common suffix preserves their order. Trained (float) vocabularies stay
pytest-pinned: EM-likelihood monotonicity, brute-force Viterbi parity,
round-trip losslessness, cluster-shape invariance.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bistro_spark.operators import subword
from bistro_spark.operators.bpe import word_frequencies
from bistro_spark.session import local_frame

BOW = "▁"  # SentencePiece-style word-boundary marker ("▁")
UNK_SCORE = -10_000_000  # integer fallback score for an out-of-vocab char
UNK_LOGPROB = -1e4  # float twin of UNK_SCORE for trained vocabs


# ------------------------------------------------------------- encoding --


def viterbi_segment(
    word: str, scores: dict[str, float], max_len: int
) -> tuple[list[str], float]:
    """Best segmentation of ``word`` (already BOW-prefixed) under
    ``scores``: maximize total score; ties prefer the lexicographically
    smallest piece list. Out-of-vocab single characters fall back to
    score ``UNK_SCORE`` (int vocab) / ``UNK_LOGPROB`` (float vocab) so
    every string is segmentable."""
    unk = UNK_SCORE if all(isinstance(s, int) for s in scores.values()) else UNK_LOGPROB
    n = len(word)
    # dp[i] = (neg_total_score, piece_list) best for word[:i]; tuple
    # comparison gives (score max, list lex-min) in one min().
    dp: list[tuple[float, list[str]] | None] = [None] * (n + 1)
    dp[0] = (0.0, [])
    for i in range(1, n + 1):
        best = None
        for j in range(max(0, i - max_len), i):
            if dp[j] is None:
                continue
            piece = word[j:i]
            s = scores.get(piece)
            if s is None:
                if i - j != 1:
                    continue
                s = unk
            cand = (dp[j][0] - s, dp[j][1] + [piece])
            if best is None or cand < best:
                best = cand
        dp[i] = best
    assert dp[n] is not None  # single-char fallback guarantees a path
    return dp[n][1], -dp[n][0]


def unigram_encode(
    df: DataFrame,
    vocab: list[tuple[str, float]] | dict[str, float],
    id_col: str = "doc_id",
    text_col: str = "text",
    keep: list[str] | None = None,
) -> DataFrame:
    """Encode each document into unigram pieces: (id, n_pieces, pieces,
    score, *keep) with ``pieces`` the space-joined piece sequence (each
    word BOW-prefixed — lossless round-trip via
    :func:`unigram_decode_pieces`) and ``score`` the exact total
    segmentation score (BIGINT for integer vocabs, else rounded to 6
    places). The memoized Arrow stage is ``subword.encode_stage``."""
    scores = dict(vocab)
    integer = all(isinstance(s, int) for s in scores.values())
    enc = subword.encode_stage(df, _word_rule(scores), id_col, text_col, keep)
    score = F.col("score").cast("long") if integer else F.round("score", 6)
    return enc.withColumn("score", score)


def _word_rule(scores: dict[str, float]):
    max_len = max((len(p) for p in scores), default=1)
    return lambda w: viterbi_segment(BOW + w, scores, max_len)


def unigram_decode_pieces(pieces: str) -> str:
    """Inverse of the piece serialization: concatenate, then the BOW
    markers delimit words (lossless for inputs without the marker)."""
    joined = "".join(pieces.split(" "))
    return " ".join(w for w in joined.split(BOW) if w != "")


# ------------------------------------------------------------- training --


def _forward_backward(
    word: str, probs: dict[str, float], max_len: int
) -> tuple[dict[str, float], float]:
    """Expected piece counts for one word's segmentation lattice under
    the unigram LM, plus the word's marginal likelihood. Pure-Python
    float64 (words are short; probabilities stay far above underflow)."""
    n = len(word)
    alpha = [0.0] * (n + 1)
    alpha[0] = 1.0
    for i in range(1, n + 1):
        a = 0.0
        for j in range(max(0, i - max_len), i):
            p = probs.get(word[j:i])
            if p:
                a += alpha[j] * p
        alpha[i] = a
    beta = [0.0] * (n + 1)
    beta[n] = 1.0
    for j in range(n - 1, -1, -1):
        b = 0.0
        for i in range(j + 1, min(n, j + max_len) + 1):
            p = probs.get(word[j:i])
            if p:
                b += p * beta[i]
        beta[j] = b
    z = alpha[n]
    exp: dict[str, float] = {}
    if z <= 0.0:
        return exp, 0.0
    for j in range(n):
        for i in range(j + 1, min(n, j + max_len) + 1):
            p = probs.get(word[j:i])
            if p:
                piece = word[j:i]
                exp[piece] = exp.get(piece, 0.0) + alpha[j] * p * beta[i] / z
    return exp, z


def _expected_counts(
    spark: SparkSession,
    wf: list[tuple[str, int]],
    probs: dict[str, float],
    max_len: int,
    n_parts: int,
) -> tuple[dict[str, float], float]:
    """One distributed E-step: per-word forward-backward over the
    parallelized word-type table, partial+final sum by piece. Returns
    (expected counts, corpus log-likelihood). The shuffle moves
    O(|vocab|) rows per partition — vocabulary-sized, never corpus-sized.

    Determinism across cluster shapes: per-WORD expected counts are
    exact (float ops inside one word's lattice are order-fixed), but a
    float sum ACROSS words depends on partition order — so each word's
    contribution is quantized to integer micro-units before any
    cross-word summation and the shuffle sums BIGINTs, which are
    order-independent. Headroom: 1e12 total words × 1e6 scale = 1e18 <
    2^63; the ~1e-6 relative quantization is far below EM's own
    tolerance but makes training bit-reproducible on any shape."""
    import pandas as pd

    scale = 1_000_000
    b_probs = spark.sparkContext.broadcast(probs)

    def estep(batches):
        pr = b_probs.value
        for pdf in batches:
            acc: dict[str, int] = {}
            ll = 0
            for w, n in zip(pdf["w"], pdf["n"]):
                exp, z = _forward_backward(BOW + w, pr, max_len)
                if z > 0.0:
                    ll += int(round(float(n) * math.log(z) * scale))
                for piece, e in exp.items():
                    q = int(round(float(n) * e * scale))
                    if q:
                        acc[piece] = acc.get(piece, 0) + q
            yield pd.DataFrame(
                {
                    "piece": list(acc.keys()) + ["\0ll"],
                    "e": list(acc.values()) + [ll],
                }
            )

    wf_df = local_frame(spark, wf, "w string, n long").repartition(n_parts)
    rows = (
        wf_df.mapInPandas(estep, "piece string, e long")
        .groupBy("piece")
        .agg(F.sum("e").alias("e"))
        .collect()
    )
    counts = {r["piece"]: r["e"] / scale for r in rows}
    ll = counts.pop("\0ll", 0.0)
    return counts, ll


def unigram_train(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 400,
    seed_size: int = 2000,
    max_piece_len: int = 6,
    max_words: int = 50_000,
    em_rounds_per_prune: int = 2,
    shrink: float = 0.75,
    n_parts: int = 8,
) -> list[tuple[str, float]]:
    """Learn a unigram-LM vocabulary (Kudo 2018): seed with the most
    frequent substrings, alternate distributed-E/driver-M EM with
    deterministic pruning until ``vocab_size``. Returns
    [(piece, logprob)] sorted (logprob DESC, piece ASC).

    Pruning drops the pieces with the lowest expected counts (ties:
    piece ASC) — the standard usage-based approximation of Kudo's exact
    leave-one-out loss; single characters and the BOW marker are
    protected so coverage never breaks. Every step is deterministic, so
    the same corpus yields the same vocabulary on any cluster shape."""
    spark = df.sparkSession
    wf = word_frequencies(df, text_col=text_col, max_words=max_words)

    # ---- seed: substring counts of BOW-prefixed word types (driver-side
    # over the vocab-sized table), capped to seed_size by (count, piece).
    sub: dict[str, float] = {}
    chars: set[str] = set()
    for w, n in wf:
        s = BOW + w
        chars.update(s)
        for j in range(len(s)):
            for i in range(j + 1, min(len(s), j + max_piece_len) + 1):
                piece = s[j:i]
                sub[piece] = sub.get(piece, 0.0) + n
    required = sorted(chars)
    multi = sorted(
        (p for p in sub if len(p) > 1), key=lambda p: (-sub[p], p)
    )[: max(0, seed_size - len(required))]
    vocab = {p: sub.get(p, 1.0) for p in required} | {p: sub[p] for p in multi}
    total = sum(vocab.values())
    probs = {p: c / total for p, c in vocab.items()}

    while True:
        for _ in range(em_rounds_per_prune):
            counts, _ll = _expected_counts(spark, wf, probs, max_piece_len, n_parts)
            # sorted-key sums: collect order varies with partitioning and
            # float addition is not associative — fix the order instead.
            total = sum(counts[p] for p in sorted(counts))
            # smooth: a piece with zero expectation keeps epsilon mass so
            # required chars never vanish from the model mid-training.
            probs = {
                p: max(counts.get(p, 0.0), 1e-12) / total for p in probs
            }
        if len(probs) <= vocab_size:
            break
        target = max(vocab_size, int(len(probs) * shrink))
        prunable = sorted(
            (p for p in probs if len(p) > 1),
            key=lambda p: (counts.get(p, 0.0), p),
        )
        n_drop = len(probs) - target
        dropped = set(prunable[:n_drop])
        probs = {p: v for p, v in probs.items() if p not in dropped}
        s = sum(probs[p] for p in sorted(probs))
        probs = {p: v / s for p, v in probs.items()}
    out = [(p, math.log(v)) for p, v in probs.items()]
    out.sort(key=lambda kv: (-kv[1], kv[0]))
    return out


def quantize_scores(
    vocab: list[tuple[str, float]], scale: int = 1_000_000
) -> list[tuple[str, int]]:
    """Integer-quantize a trained vocabulary (logprob × scale, rounded
    half-away-from-zero) so encode results are exactly reproducible
    across engines and float-summation orders."""
    return [
        (p, int(math.floor(lp * scale + 0.5)) if lp >= 0 else -int(math.floor(-lp * scale + 0.5)))
        for p, lp in vocab
    ]


# ------------------------------------------ fixed-vocab encode (oracle) --

# Hand-written integer-scored vocabulary over [a-z] + BOW: all single
# characters (coverage), plus multi-char pieces whose scores beat the sum
# of their parts so the Viterbi choice is non-trivial. Scores are
# "micro-logprobs" (≈ log p × 1e6); exact integers make the Spark/DuckDB
# comparison order-independent.
FIXED_UNIGRAM_VOCAB: list[tuple[str, int]] = [
    (BOW, -2_000_000),
    *[(c, -3_500_000 - 7_000 * (ord(c) - ord("a"))) for c in "abcdefghijklmnopqrstuvwxyz"],
    (BOW + "th", -4_600_000),
    (BOW + "the", -4_800_000),
    (BOW + "a", -4_200_000),
    (BOW + "s", -4_400_000),
    (BOW + "c", -4_500_000),
    (BOW + "f", -4_450_000),
    (BOW + "ro", -5_200_000),
    (BOW + "row", -5_100_000),
    (BOW + "val", -5_300_000),
    (BOW + "value", -5_500_000),
    (BOW + "tab", -5_350_000),
    (BOW + "table", -5_450_000),
    ("th", -5_000_000),
    ("he", -5_050_000),
    ("an", -5_100_000),
    ("in", -5_150_000),
    ("er", -5_200_000),
    ("on", -5_250_000),
    ("at", -5_300_000),
    ("en", -5_350_000),
    ("le", -5_400_000),
    ("st", -5_450_000),
    ("ar", -5_500_000),
    ("as", -5_550_000),
    ("ow", -5_600_000),
    ("lu", -5_650_000),
    ("ue", -5_700_000),
    ("ab", -5_750_000),
    ("ble", -6_900_000),
    ("alue", -7_800_000),
    ("able", -7_900_000),
    ("ash", -7_000_000),
    ("ort", -7_100_000),
    ("can", -7_200_000),
    ("art", -7_300_000),
    ("ast", -7_400_000),
    ("erge", -8_000_000),
    ("atch", -8_100_000),
    ("indow", -9_500_000),
]


def unigram_encode_fixed_sql(
    table: str = "documents",
    vocab: list[tuple[str, int]] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`unigram_encode` under a FIXED integer
    vocabulary — makes the encode half of the unigram tokenizer
    hash-checkable, exactly as ``bpe_encode_fixed_sql`` does for BPE
    (training stays pytest-pinned: its vocabulary depends on the data,
    which a static oracle string cannot see).

    The per-word rule is *definitional*, sharing nothing with the Spark
    plan: enumerate EVERY segmentation of every DISTINCT word type via a
    recursive CTE (one extension per matching vocab piece per step) and
    keep the argmax by (score DESC, piece-list ASC); the per-document
    tail is ``subword.doc_pieces_sql``. Enumeration is exponential in
    word length, fine for an oracle over the distinct-word table at
    verification scale (sf0.01: 31 word types, max 8 chars). The fixed
    vocabulary covers [a-z], so the out-of-vocab fallback never fires
    here (pytest pins it against a brute-force reference).

    Integer scores make the two engines' sums identical; DuckDB's binary
    UTF-8 string ordering matches Python's code-point ordering for the
    piece-list tie-break."""
    vocab = FIXED_UNIGRAM_VOCAB if vocab is None else vocab
    pieces = "[" + ", ".join("'" + p.replace("'", "''") + "'" for p, _ in vocab) + "]"
    scores = "[" + ", ".join(str(s) for _, s in vocab) + "]"
    perword = f"""
      vocab AS (
        SELECT unnest({pieces}) AS vp, unnest({scores}) AS vs
      ),
      words AS (SELECT DISTINCT w, '{BOW}' || w AS bw FROM docwords),
      seg AS (
        SELECT w, bw, 0 AS pos, CAST(0 AS BIGINT) AS score,
               CAST([] AS VARCHAR[]) AS pieces
        FROM words
        UNION ALL
        SELECT s.w, s.bw, s.pos + length(v.vp) AS pos,
               s.score + v.vs AS score,
               list_append(s.pieces, v.vp) AS pieces
        FROM seg s JOIN vocab v
          ON substr(s.bw, s.pos + 1, length(v.vp)) = v.vp
        WHERE s.pos < length(s.bw)
      ),
      best AS (
        SELECT w, score, pieces,
               row_number() OVER (PARTITION BY w
                                  ORDER BY score DESC, pieces ASC) AS rn
        FROM seg WHERE pos = length(bw)
      ),
      perword AS (SELECT w, pieces, score FROM best WHERE rn = 1)"""
    return subword.doc_pieces_sql(table, id_col, text_col, perword)


def unigram_fertility_sql(
    table: str = "documents",
    vocab: list[tuple[str, int]] | None = None,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`unigram_fertility`."""
    enc = unigram_encode_fixed_sql(table, vocab, id_col, text_col)
    return subword.fertility_sql(table, enc, group_col, id_col, text_col)


def unigram_fertility(
    df: DataFrame,
    vocab: list[tuple[str, int]] | None = None,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``subword.fertility`` of the unigram tokenizer — the bake-off
    twin of ``bpe.fertility_stats``."""
    vocab = FIXED_UNIGRAM_VOCAB if vocab is None else vocab
    return subword.fertility(df, _word_rule(dict(vocab)), group_col, id_col, text_col)
