"""The subword-tokenizer stage shared by BPE, WordPiece and unigram-LM.

Each tokenizer is one per-word rule, ``word -> (pieces, score)``
(``bpe.encode_word``, ``wordpiece.encode_word``,
``unigram.viterbi_segment``); everything around the rule lives here:

- :data:`WORD_SEP`, the one word-split rule: an explicit class of
  exactly the ``str.isspace()`` characters, read the same by Java regex
  (Spark), RE2 (DuckDB) and Python ``re``. ``\\s`` means three different
  sets on those engines.
- :func:`encode_stage`, the memoized Arrow encode: one map-only pandas
  UDF stage that runs the rule once per distinct word of each batch
  (natural text repeats word types, Zipf). The rule ships by closure.
- :func:`fertility` / :func:`fertility_sql`, the per-group fertility
  report and its DuckDB twin.
- :func:`doc_pieces_sql`, the per-word -> per-document tail of the
  fixed-vocabulary SQL twins.
"""

from __future__ import annotations

import re
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The str.isspace() code points (U+3000 is the highest). ASCII ones are
# written as \xhh escapes, the rest as literal characters: \xhh means the
# same code point in all three regex dialects, \uhhhh (Java, Python) and
# \x{hhhh} (RE2, Java) do not.
_SPACES = [c for c in range(0x3001) if chr(c).isspace()]
WORD_SEP = (
    "[" + "".join(f"\\x{c:02x}" if c < 0x80 else chr(c) for c in _SPACES) + "]+"
)
_SEP = re.compile(WORD_SEP)

WordRule = Callable[[str], "tuple[list[str], float]"]


def split_words(text: str | None) -> list[str]:
    """The non-empty words of ``text`` under :data:`WORD_SEP`."""
    return [w for w in _SEP.split(text or "") if w]


def word_array(text: Column) -> Column:
    """Spark twin of :func:`split_words`: ``array<string>`` of words."""
    return F.filter(F.split(text, WORD_SEP), lambda w: w != "")


def split_sql(text_expr: str) -> str:
    """DuckDB twin of the split (empty strings not yet removed)."""
    return f"string_split_regex({text_expr}, '{WORD_SEP}')"


# ------------------------------------------------------- encode stage --


def encode_stage(
    df: DataFrame,
    rule: WordRule,
    id_col: str,
    text_col: str,
    keep: list[str] | None,
) -> DataFrame:
    """Encode each document word by word under ``rule``: (id, n_pieces,
    pieces, score, *keep), ``pieces`` space-joined, ``score`` the double
    sum over words. ``keep`` passes input columns through, so per-group
    stats ride the same map stage instead of re-joining on the id."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<pieces: array<string>, score: double>")
    def encode(texts):
        memo: dict[str, tuple[list[str], float]] = {}
        pieces, scores = [], []
        for t in texts:
            out: list[str] = []
            total = 0.0
            for w in split_words(t):
                got = memo.get(w)
                if got is None:
                    got = memo[w] = rule(w)
                out.extend(got[0])
                total += got[1]
            pieces.append(out)
            scores.append(total)
        return pd.DataFrame({"pieces": pieces, "score": scores})

    keep = list(keep or [])
    enc = df.select(F.col(id_col), encode(F.col(text_col)).alias("_e"), *keep)
    return enc.select(
        id_col,
        F.size("_e.pieces").cast("int").alias("n_pieces"),
        F.concat_ws(" ", "_e.pieces").alias("pieces"),
        F.col("_e.score").alias("score"),
        *keep,
    )


# ------------------------------------------------------------ fertility --


def fertility(
    df: DataFrame,
    rule: WordRule,
    group_col: str,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Per-group tokenizer fertility: pieces spent per word and per
    character in each corpus slice. A slice with twice the fertility of
    the rest (unseen script, heavy code, wrong vocab) silently doubles
    its token cost in every token-budgeted mixture decision.

    ONE map-only encode stage (per-doc word/char counts ride it via
    ``keep``) into ONE partial-aggregated groupBy. Sums are exact BIGINT,
    ratios round-6 report columns. Returns (group, n_docs, n_words,
    n_chars, n_pieces, fertility, chars_per_piece, pieces_per_doc)."""
    pre = df.select(
        id_col,
        text_col,
        F.col(group_col),
        F.length(text_col).cast("long").alias("_chars"),
        F.size(word_array(F.col(text_col))).cast("long").alias("_words"),
    )
    enc = encode_stage(pre, rule, id_col, text_col, [group_col, "_chars", "_words"])
    agg = enc.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_words").cast("long").alias("n_words"),
        F.sum("_chars").cast("long").alias("n_chars"),
        F.sum("n_pieces").cast("long").alias("n_pieces"),
    )

    def ratio(num: str, den: str) -> Column:
        return F.when(F.col(den) == 0, F.lit(0.0)).otherwise(F.col(num) / F.col(den))

    return agg.select(
        group_col,
        "n_docs",
        "n_words",
        "n_chars",
        "n_pieces",
        F.round(ratio("n_pieces", "n_words"), 6).alias("fertility"),
        F.round(ratio("n_chars", "n_pieces"), 6).alias("chars_per_piece"),
        F.round(F.col("n_pieces") / F.col("n_docs"), 6).alias("pieces_per_doc"),
    )


def fertility_sql(
    table: str,
    encode_sql: str,
    group_col: str,
    id_col: str,
    text_col: str,
) -> str:
    """DuckDB twin of :func:`fertility` over a fixed-vocabulary encode
    query (``encode_sql`` yields per-doc ``n_pieces``). The twin joins
    the encode back to the base table for word/char counts, an id join
    the Spark side avoids via ``keep``."""
    return f"""
      WITH enc AS ({encode_sql}),
      perdoc AS (
        SELECT d.{group_col} AS grp,
               len(list_filter({split_sql(f"d.{text_col}")},
                               w -> w <> '')) AS words,
               length(d.{text_col}) AS chars,
               e.n_pieces
        FROM {table} d JOIN enc e USING ({id_col})
      ),
      agg AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(words) AS BIGINT) AS n_words,
               CAST(sum(chars) AS BIGINT) AS n_chars,
               CAST(sum(n_pieces) AS BIGINT) AS n_pieces
        FROM perdoc GROUP BY grp
      )
      SELECT grp AS {group_col}, n_docs, n_words, n_chars, n_pieces,
             round(CASE WHEN n_words = 0 THEN 0.0
                        ELSE CAST(n_pieces AS DOUBLE) / n_words END,
                   6) AS fertility,
             round(CASE WHEN n_pieces = 0 THEN 0.0
                        ELSE CAST(n_chars AS DOUBLE) / n_pieces END,
                   6) AS chars_per_piece,
             round(CAST(n_pieces AS DOUBLE) / n_docs, 6) AS pieces_per_doc
      FROM agg
    """


# ------------------------------------------------------- SQL twin tail --


def doc_words_sql(table: str, id_col: str, text_col: str) -> str:
    """DuckDB: one row per non-empty word, ({id_col}, w, i) with ``i``
    the word's 1-based position in the split."""
    return f"""
        SELECT {id_col}, w, i
        FROM (SELECT {id_col}, unnest(ws) AS w,
                     unnest(range(1, len(ws) + 1)) AS i
              FROM (SELECT {id_col}, {split_sql(text_col)} AS ws
                    FROM {table}))
        WHERE w <> ''"""


def doc_pieces_sql(table: str, id_col: str, text_col: str, perword: str) -> str:
    """Complete a fixed-vocabulary DuckDB encode from its per-word rule.

    ``perword`` is a list of CTEs that may read ``docwords({id_col}, w,
    i)`` and must define ``perword(w, pieces, score)``: each distinct
    word's piece list and integer score. The tail joins the pieces back
    to the word positions, aggregates them per document in word order
    and keeps empty documents through a LEFT JOIN. Yields
    ({id_col}, n_pieces, pieces, score)."""
    return f"""
      WITH RECURSIVE
      docwords AS ({doc_words_sql(table, id_col, text_col)}),
      {perword},
      agg AS (
        SELECT d.{id_col},
               CAST(sum(len(p.pieces)) AS INT) AS n_pieces,
               string_agg(array_to_string(p.pieces, ' '), ' ' ORDER BY d.i)
                 AS pieces,
               CAST(sum(p.score) AS BIGINT) AS score
        FROM docwords d JOIN perword p USING (w)
        GROUP BY d.{id_col}
      )
      SELECT t.{id_col}, coalesce(a.n_pieces, 0) AS n_pieces,
             coalesce(a.pieces, '') AS pieces,
             coalesce(a.score, 0) AS score
      FROM {table} t LEFT JOIN agg a USING ({id_col})
    """
