"""Byte-pair-encoding subword tokenizer (train + encode), Spark-first.

The tokens-axis gap between word-level ops (``ranking.build_vocab``) and
real training pipelines: a learned SUBWORD vocabulary (Sennrich et al.
2016, the BPE used by GPT/Llama-family tokenizers). Two halves:

- :func:`bpe_train` — the 100 TB-shaped training split: the corpus-scale
  part is ONE distributed word-frequency aggregation (explode → groupBy →
  partial+final count), whose result is Zipf-capped to the top
  ``max_words`` word types (a word-frequency TABLE is vocabulary-sized,
  not corpus-sized — this is why industrial BPE trainers all run on word
  counts, not raw text). The iterative merge loop then runs driver-side
  on that dict — it is inherently sequential (merge k+1 depends on the
  counts AFTER merge k), so distributing it would serialize anyway; at
  50k word types × 200 merges it is sub-second numpy-free Python.
  Determinism: ties on pair count break lexicographically, so the same
  corpus yields the same merge list on any cluster shape / retry.

- :func:`bpe_encode` — apply the learned merges per document, word by
  word (:func:`encode_word`), in the memoized Arrow stage the three
  tokenizers share (``operators/subword.py``). Map-only: no shuffle,
  the merge table ships via closure (vocab-sized).

Cross-engine note: BPE encoding is iterative-fixpoint per word (apply
the highest-priority merge until none applies) — genuinely not
expressible in set-oriented SQL, so the contract query is rows-only and
correctness is pinned by pytest instead: parity with an independent
reference implementation, the published worked example, round-trip
losslessness, and cluster-shape invariance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bistro_spark.operators import subword

END = "</w>"  # end-of-word marker (Sennrich-style)


def word_frequencies(
    df: DataFrame, text_col: str = "text", max_words: int = 50_000
) -> list[tuple[str, int]]:
    """Distributed word-frequency table, Zipf-capped to the top
    ``max_words`` types (count DESC, word ASC — deterministic cut).
    The only corpus-scale stage of BPE training."""
    wf = (
        df.select(F.explode(subword.word_array(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("w").asc())
        .limit(max_words)
    )
    return [(r["w"], r["n"]) for r in wf.collect()]


def _pair_counts(vocab: dict[tuple[str, ...], int]) -> dict:
    counts: dict[tuple[str, str], int] = {}
    for sym, n in vocab.items():
        for i in range(len(sym) - 1):
            p = (sym[i], sym[i + 1])
            counts[p] = counts.get(p, 0) + n
    return counts


def _merge_word(
    sym: tuple[str, ...], pair: tuple[str, str], joined: str
) -> tuple[str, ...]:
    """Replace every adjacent ``pair`` in ``sym`` by ``joined``, left to
    right (WordPiece joins without its ``##`` prefix, BPE by plain
    concatenation)."""
    out, i = [], 0
    while i < len(sym):
        if i < len(sym) - 1 and sym[i] == pair[0] and sym[i + 1] == pair[1]:
            out.append(joined)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return tuple(out)


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 200,
    max_words: int = 50_000,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus (see module
    docstring for the distributed/driver split). Returns the ordered
    merge list — rank = priority — to pass to :func:`bpe_encode`."""
    wf = word_frequencies(df, text_col=text_col, max_words=max_words)
    vocab = {tuple(w) + (END,): n for w, n in wf}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts = _pair_counts(vocab)
        if not counts:
            break
        # deterministic argmax: count DESC, pair lexicographic ASC
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if counts[best] < 2:
            break  # every remaining pair is unique — no compression left
        merges.append(best)
        joined = best[0] + best[1]
        vocab = {_merge_word(s, best, joined): n for s, n in vocab.items()}
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Reference single-word encoder: repeatedly apply the best-ranked
    applicable merge until none applies (the BPE fixpoint)."""
    sym = tuple(word) + (END,)
    while len(sym) > 1:
        best, best_rank = None, None
        for i in range(len(sym) - 1):
            r = ranks.get((sym[i], sym[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = (sym[i], sym[i + 1]), r
        if best is None:
            break
        sym = _merge_word(sym, best, best[0] + best[1])
    return list(sym)


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    keep: list[str] | None = None,
) -> DataFrame:
    """Encode each document into BPE pieces under ``merges``:
    (id, n_pieces, pieces, *keep) with ``pieces`` the space-joined
    subword sequence (``</w>`` marking word ends — lossless round-trip).
    The memoized Arrow stage is ``subword.encode_stage``."""
    return subword.encode_stage(
        df, _word_rule(merges), id_col, text_col, keep
    ).drop("score")


def _word_rule(merges: list[tuple[str, str]]):
    ranks = {p: i for i, p in enumerate(merges)}
    return lambda w: (encode_word(w, ranks), 0.0)


def bpe_decode_pieces(pieces: str) -> str:
    """Inverse of the piece serialization (for round-trip tests):
    ``</w>`` closes a word, everything between markers concatenates."""
    words, cur = [], []
    for p in pieces.split(" "):
        if p.endswith(END):
            cur.append(p[: -len(END)])
            words.append("".join(cur))
            cur = []
        elif p:
            cur.append(p)
    if cur:
        words.append("".join(cur))
    return " ".join(w for w in words if w != "")


# ----------------------------------------- fixed-merge encode (oracle-able) --

# A hand-ordered merge table obeying BPE's structural invariant: every
# composite symbol is CREATED (by an earlier merge) before any later merge
# USES it as a component. Trained merge lists have this property by
# construction; it is what makes the SQL oracle below exact (see note).
FIXED_MERGES: list[tuple[str, str]] = [
    ("e", "</w>"), ("t", "h"), ("th", "e</w>"), ("s", "</w>"), ("d", "</w>"),
    ("i", "n"), ("a", "n"), ("o", "n"), ("e", "r"), ("er", "</w>"),
    ("o", "r"), ("t", "</w>"), ("a", "t"), ("in", "g"), ("ing", "</w>"),
    ("o", "u"), ("r", "e"), ("an", "d</w>"), ("y", "</w>"), ("l", "l"),
    ("o", "</w>"), ("t", "o</w>"), ("c", "h"), ("s", "t"),
]


def bpe_encode_fixed_sql(
    table: str = "documents",
    merges: list[tuple[str, str]] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`bpe_encode` under a FIXED merge table — the
    recursive-CTE replay that makes the encode half of BPE hash-checkable
    (training stays pytest-pinned: its merges depend on the data, which a
    static oracle string cannot see).

    Each recursive step merges the LEFTMOST occurrence of the
    BEST-RANKED applicable pair; :func:`encode_word` merges ALL
    occurrences of the best pair per step. The two are equivalent
    whenever the merge list has the creation-order property above: the
    symbol joined by merge P can only participate in merges ranked AFTER
    P, so after merging one occurrence of P the best rank is still P
    until its occurrences are exhausted — the interleaving collapses to
    the same fixpoint. (Leftmost-repeat == one left-to-right pass for a
    fixed pair; overlapping runs like 'a a a' resolve identically.)

    DuckDB notes: ``list_position`` returns 0 (not NULL) on a miss —
    ``nullif`` converts it; ``w[j]``/``length`` are character-based, so
    multi-byte text splits exactly like Python ``tuple(word)``; the pair
    key separator is a space, which no symbol can contain (words are
    whitespace-split on both engines)."""
    merges = FIXED_MERGES if merges is None else merges
    mk = "[" + ", ".join("'" + (a + " " + b).replace("'", "''") + "'" for a, b in merges) + "]"
    rk = (
        f"list_transform(range(1, len(sym)), i -> "
        f"nullif(list_position({mk}, sym[i] || ' ' || sym[i+1]), 0))"
    )
    return f"""
      WITH RECURSIVE
      base AS (
        SELECT {id_col}, i AS word_idx,
               list_append(list_transform(range(1, length(w) + 1),
                                           j -> w[j]), '</w>') AS sym
        FROM ({subword.doc_words_sql(table, id_col, text_col)})
      ),
      enc AS (
        SELECT {id_col}, word_idx, sym FROM base
        UNION ALL
        SELECT {id_col}, word_idx,
               list_concat(list_concat(sym[1:bi-1], [sym[bi] || sym[bi+1]]),
                           sym[bi+2:]) AS sym
        FROM (
          SELECT {id_col}, word_idx, sym,
                 {rk} AS rk,
                 list_min(list_filter(rk, x -> x IS NOT NULL)) AS br,
                 list_position(rk, br) AS bi
          FROM enc
        ) WHERE br IS NOT NULL
      ),
      fix AS (
        SELECT {id_col}, word_idx, sym FROM enc
        WHERE list_min(list_filter({rk}, x -> x IS NOT NULL)) IS NULL
      ),
      agg AS (
        SELECT {id_col}, CAST(sum(len(sym)) AS INT) AS n_pieces,
               string_agg(array_to_string(sym, ' '), ' '
                          ORDER BY word_idx) AS pieces
        FROM fix GROUP BY {id_col}
      )
      SELECT d.{id_col}, coalesce(a.n_pieces, 0) AS n_pieces,
             coalesce(a.pieces, '') AS pieces
      FROM {table} d
      LEFT JOIN agg a USING ({id_col})
    """


# ------------------------------------------------ tokenizer fertility ----
def fertility_stats(
    df: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``subword.fertility`` of the BPE tokenizer."""
    merges = FIXED_MERGES if merges is None else merges
    return subword.fertility(df, _word_rule(merges), group_col, id_col, text_col)


def fertility_stats_sql(
    table: str = "documents",
    merges: list[tuple[str, str]] | None = None,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`fertility_stats`."""
    enc = bpe_encode_fixed_sql(table, merges, id_col, text_col)
    return subword.fertility_sql(table, enc, group_col, id_col, text_col)
