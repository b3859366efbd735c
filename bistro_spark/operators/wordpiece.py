"""WordPiece subword tokenizer (train + encode), Spark-first.

The third learned-subword family production pipelines deploy, next to
BPE (``operators/bpe.py``) and unigram-LM (``operators/unigram.py``):
Schuster & Nakajima 2012 / Wu et al. 2016's WordPiece, the BERT-family
tokenizer. Two structural differences from its siblings drive the
design:

- **Training** is a BPE-shaped greedy merge loop, but the pair score is
  *likelihood gain* ``count(ab) / (count(a) * count(b))`` instead of raw
  pair frequency. Same Spark/driver split as BPE: the corpus-scale part
  is ONE distributed word-frequency aggregation (``bpe.word_frequencies``
  — the word-TYPE table is vocabulary-sized, never corpus-sized), then
  the inherently-sequential merge loop runs driver-side over that dict.
  Determinism on any cluster shape: scores are FRACTIONS of exact BIGINT
  counts, compared by integer cross-multiplication — no float division
  anywhere in the argmax — with ties broken by pair lexicographic ASC.

- **Encoding** is greedy longest-match-first (NOT a merge replay and NOT
  a Viterbi DP): per word, repeatedly take the longest vocabulary piece
  matching at the cursor — word-initial pieces match bare, word-internal
  pieces carry the ``##`` continuation prefix — and if NO piece matches
  at some cursor (or the word exceeds ``max_chars``), the WHOLE word
  becomes ``[UNK]``. The per-word rule runs in the memoized Arrow stage
  the three tokenizers share (``operators/subword.py``); the vocabulary
  ships via closure.

Cross-engine exactness: greedy longest-match is DETERMINISTIC (two
distinct vocab pieces matching the same cursor position are different
strings, hence different lengths — the longest is unique), so unlike
BPE's iterative fixpoint the whole encode is hash-checkable against a
set-oriented SQL twin: :func:`wordpiece_encode_fixed_sql` replays the
cursor walk as a recursive CTE that keeps exactly ONE row per word per
step, selecting the longest match via a NOT EXISTS guard (no window
functions inside the recursive term). Trained vocabularies stay
pytest-pinned (reference-implementation parity, UNK semantics,
round-trip losslessness, cluster-shape invariance), mirroring the
bpe_encode / bpe_encode_fixed split.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bistro_spark.operators import subword
from bistro_spark.operators.bpe import _merge_word, _pair_counts, word_frequencies

CONT = "##"  # continuation prefix for word-internal pieces (BERT-style)
UNK = "[UNK]"  # whole-word fallback when no piece matches at a cursor
MAX_WORD_CHARS = 100  # HF default: longer words become [UNK] outright


# ------------------------------------------------------------- encoding --


def _vocab_maps(vocab: list[str]) -> tuple[set[str], set[str], int]:
    """Split a WordPiece vocabulary into (word-initial bodies,
    continuation bodies, max body length). ``[UNK]`` is control, not a
    matchable piece."""
    initial = {p for p in vocab if not p.startswith(CONT) and p != UNK}
    cont = {p[len(CONT):] for p in vocab if p.startswith(CONT) and len(p) > len(CONT)}
    max_len = max((len(p) for p in initial | cont), default=1)
    return initial, cont, max_len


def encode_word(
    word: str,
    initial: set[str],
    cont: set[str],
    max_len: int,
    max_chars: int = MAX_WORD_CHARS,
) -> list[str]:
    """Reference single-word encoder: greedy longest-match-first with
    whole-word ``[UNK]`` fallback (HF ``WordpieceTokenizer`` semantics)."""
    n = len(word)
    if n == 0:
        return []
    if n > max_chars:
        return [UNK]
    out: list[str] = []
    pos = 0
    while pos < n:
        table = initial if pos == 0 else cont
        end = min(n, pos + max_len)
        while end > pos and word[pos:end] not in table:
            end -= 1
        if end == pos:
            return [UNK]
        out.append(word[pos:end] if pos == 0 else CONT + word[pos:end])
        pos = end
    return out


def wordpiece_encode(
    df: DataFrame,
    vocab: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    keep: list[str] | None = None,
    max_chars: int = MAX_WORD_CHARS,
) -> DataFrame:
    """Encode each document into WordPiece pieces under ``vocab``:
    (id, n_pieces, pieces, *keep) with ``pieces`` the space-joined piece
    sequence (``##`` marking continuations — lossless round-trip via
    :func:`wordpiece_decode_pieces` for fully-covered words). The
    memoized Arrow stage is ``subword.encode_stage``."""
    return subword.encode_stage(
        df, _word_rule(vocab, max_chars), id_col, text_col, keep
    ).drop("score")


def _word_rule(vocab: list[str], max_chars: int = MAX_WORD_CHARS):
    initial, cont, max_len = _vocab_maps(vocab)
    return lambda w: (encode_word(w, initial, cont, max_len, max_chars), 0.0)


def wordpiece_decode_pieces(pieces: str) -> str:
    """Inverse of the piece serialization for fully-covered words: a
    piece without the ``##`` prefix opens a new word, ``##`` pieces
    extend it. ``[UNK]`` decodes to itself (the original is lost by
    definition)."""
    words: list[str] = []
    for p in pieces.split(" "):
        if not p:
            continue
        if p.startswith(CONT) and words:
            words[-1] += p[len(CONT):]
        else:
            words.append(p)
    return " ".join(words)


# ------------------------------------------------------------- training --


def wordpiece_train(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 200,
    max_words: int = 50_000,
) -> list[str]:
    """Learn a WordPiece vocabulary: seed with the corpus alphabet
    (word-initial chars bare, word-internal chars ``##``-prefixed), then
    greedily merge the adjacent pair with the highest likelihood gain
    ``count(ab) / (count(a) * count(b))`` until ``vocab_size`` pieces
    (or no pair repeats). Returns the vocabulary for
    :func:`wordpiece_encode`: ``[UNK]`` + alphabet (sorted) + merged
    pieces in creation order.

    See the module docstring for the distributed/driver split. The
    argmax compares exact count fractions by integer cross-
    multiplication (``Fraction``), never float division, and breaks ties
    by pair lexicographic ASC — same corpus, same vocabulary, on any
    cluster shape / retry."""
    wf = word_frequencies(df, text_col=text_col, max_words=max_words)
    vocab_words: dict[tuple[str, ...], int] = {}
    for w, n in wf:
        sym = tuple([w[0]] + [CONT + c for c in w[1:]]) if w else ()
        if sym:
            vocab_words[sym] = vocab_words.get(sym, 0) + n
    alphabet = sorted({s for sym in vocab_words for s in sym})
    vocab: list[str] = [UNK] + alphabet

    while len(vocab) < vocab_size:
        sym_counts: dict[str, int] = {}
        for sym, n in vocab_words.items():
            for s in sym:
                sym_counts[s] = sym_counts.get(s, 0) + n
        repeated = {p: c for p, c in _pair_counts(vocab_words).items() if c >= 2}
        if not repeated:
            break
        best = min(
            repeated.items(),
            key=lambda kv: (
                -Fraction(kv[1], sym_counts[kv[0][0]] * sym_counts[kv[0][1]]),
                kv[0],
            ),
        )[0]
        joined = best[0] + best[1][len(CONT):]
        vocab.append(joined)
        vocab_words = {
            _merge_word(sym, best, joined): n for sym, n in vocab_words.items()
        }
    return vocab


# ------------------------------------------ fixed-vocab encode (oracle) --

# Hand-written vocabulary over [a-z]: every letter is present both
# word-initially and as a ##-continuation (so the corpus tables never hit
# [UNK] — the UNK branch is pinned by pytest on adversarial inputs), plus
# multi-char pieces at both positions so the longest-match choice is
# non-trivial at cursor 0 AND mid-word.
FIXED_WORDPIECE_VOCAB: list[str] = [
    UNK,
    *list("abcdefghijklmnopqrstuvwxyz"),
    *[CONT + c for c in "abcdefghijklmnopqrstuvwxyz"],
    # word-initial multi-char pieces
    "th", "the", "ha", "hash", "ro", "row", "tab", "val", "wind",
    "str", "scan", "qu", "gr", "col", "cust", "so", "sor", "ba",
    # continuation multi-char pieces
    "##le", "##ue", "##ow", "##sh", "##ble", "##alue", "##ash", "##er",
    "##dow", "##eam", "##ery", "##umn", "##omer", "##in", "##ta", "##rt",
    "##ch", "##an", "##all", "##ine", "##oup", "##art", "##ig",
    "##ast", "##up", "##ey", "##ata", "##rge", "##ter", "##der", "##oin",
]


def wordpiece_encode_fixed_sql(
    table: str = "documents",
    vocab: list[str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_chars: int = MAX_WORD_CHARS,
) -> str:
    """DuckDB twin of :func:`wordpiece_encode` under a FIXED vocabulary —
    the greedy cursor walk replayed as a recursive CTE over the DISTINCT
    word types, then joined back to per-document word positions.

    Exactness argument (why one row per word per step): at a given
    cursor the longest matching piece is UNIQUE — two distinct pieces of
    equal length matching the same substring would be equal strings —
    so the LEFT JOIN + NOT-EXISTS(longer match) filter yields exactly
    one successor row (the no-match row carries ``[UNK]`` and jumps the
    cursor to the end, terminating that word). No window functions or
    aggregates appear in the recursive term, which DuckDB restricts;
    the argmax is the NOT EXISTS guard against the non-recursive vocab
    relation. ``substr``/``length`` are character-based in DuckDB,
    matching Python slicing on multi-byte text."""
    vocab = FIXED_WORDPIECE_VOCAB if vocab is None else vocab
    q = lambda t: "'" + t.replace("'", "''") + "'"  # noqa: E731
    vocab_values = ", ".join(
        f"({q(p.removeprefix(CONT))}, {q(p)}, {p.startswith(CONT)})"
        for p in dict.fromkeys(vocab) if p != UNK
    )
    perword = f"""
      vocab(body, tok, is_cont) AS (VALUES {vocab_values}),
      words AS (SELECT DISTINCT w FROM docwords),
      seg AS (
        SELECT w, 0 AS pos, CAST([] AS VARCHAR[]) AS pieces
        FROM words WHERE length(w) <= {max_chars}
        UNION ALL
        SELECT s.w,
               CASE WHEN v.tok IS NULL THEN length(s.w)
                    ELSE s.pos + length(v.body) END AS pos,
               CASE WHEN v.tok IS NULL THEN ['{UNK}']
                    ELSE list_append(s.pieces, v.tok) END AS pieces
        FROM seg s LEFT JOIN vocab v
          ON v.is_cont = (s.pos > 0)
         AND substr(s.w, s.pos + 1, length(v.body)) = v.body
        WHERE s.pos < length(s.w)
          AND (v.tok IS NULL OR NOT EXISTS (
                SELECT 1 FROM vocab v2
                WHERE v2.is_cont = (s.pos > 0)
                  AND substr(s.w, s.pos + 1, length(v2.body)) = v2.body
                  AND length(v2.body) > length(v.body)))
      ),
      perword AS (
        SELECT w, pieces, 0 AS score FROM seg WHERE pos = length(w)
        UNION ALL
        SELECT w, ['{UNK}'] AS pieces, 0 AS score
        FROM words WHERE length(w) > {max_chars}
      )"""
    enc = subword.doc_pieces_sql(table, id_col, text_col, perword)
    return f"SELECT {id_col}, n_pieces, pieces FROM ({enc})"


def wordpiece_fertility(
    df: DataFrame,
    vocab: list[str] | None = None,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``subword.fertility`` of the WordPiece tokenizer."""
    vocab = FIXED_WORDPIECE_VOCAB if vocab is None else vocab
    return subword.fertility(df, _word_rule(vocab), group_col, id_col, text_col)


def wordpiece_fertility_sql(
    table: str = "documents",
    vocab: list[str] | None = None,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`wordpiece_fertility`."""
    enc = wordpiece_encode_fixed_sql(table, vocab, id_col, text_col)
    return subword.fertility_sql(table, enc, group_col, id_col, text_col)
