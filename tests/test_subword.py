"""The shared subword-tokenizer stage (operators/subword.py).

BPE, WordPiece and unigram-LM keep only their per-word rule; the word
split, the memoized Arrow encode, the fertility report and the SQL
twins' per-document tail are written once. These tests pin the one
word-split rule on Python, Spark and DuckDB, run each tokenizer's Spark
encode and fertility against its DuckDB twin on text with Unicode
whitespace, and guard by AST that the shared pieces (and the batch
kernels the streaming twins reuse) stay shared."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bistro_spark.operators import bpe, subword
from bistro_spark.operators import unigram as U
from bistro_spark.operators import wordpiece as W

PKG = Path(__file__).resolve().parent.parent / "bistro_spark"

# every str.isspace() character, and look-alikes that are not whitespace
SPACES = [chr(c) for c in range(0x110000) if chr(c).isspace()]
NOT_SPACES = ["\u200b", "\u180e", "\ufeff", "\xad", "\u2060", "_"]


# ------------------------------------------------------- word split ----


def test_word_sep_is_exactly_str_isspace():
    matched = [chr(c) for c in range(0x110000) if re.fullmatch(subword.WORD_SEP, chr(c))]
    assert matched == SPACES


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=st.sampled_from(SPACES + NOT_SPACES + list("ab")), max_size=30))
def test_split_words_is_str_split(text):
    assert subword.split_words(text) == text.split()


def test_word_split_reads_the_same_on_three_engines(spark):
    """Java regex (Spark), RE2 (DuckDB) and Python re split one text that
    holds every whitespace character and the look-alikes identically."""
    text = "x".join(SPACES) + "y" + "z".join(NOT_SPACES) + " end "
    want = text.split()
    df = spark.createDataFrame([(text,)], "text string")
    [got_spark] = df.select(subword.word_array(df.text).alias("w")).first()
    [got_duck] = duckdb.execute(
        f"SELECT list_filter({subword.split_sql('$1')}, w -> w <> '')", [text]
    ).fetchone()
    assert subword.split_words(text) == want
    assert got_spark == want
    assert got_duck == want


# ------------------------------------- tokenizers on Unicode whitespace ----

ROWS = [
    (0, "the\xa0table row\x0bvalue\u3000scan\tcolumn", "s1"),
    (1, "\u3000 hash\xa0\xa0join\x0b", "s1"),
    (2, "\xa0\x0b\u3000\t", "s2"),
    (3, "", "s2"),
    (4, "stream the window", "s2"),
]

# (Spark encode, DuckDB encode twin, Spark fertility, DuckDB fertility
# twin, "this piece starts a word")
TOKENIZERS = {
    "bpe": (
        lambda df: bpe.bpe_encode(df, bpe.FIXED_MERGES),
        bpe.bpe_encode_fixed_sql,
        bpe.fertility_stats,
        bpe.fertility_stats_sql,
        lambda p: p.endswith(bpe.END),
    ),
    "wordpiece": (
        lambda df: W.wordpiece_encode(df, W.FIXED_WORDPIECE_VOCAB),
        W.wordpiece_encode_fixed_sql,
        W.wordpiece_fertility,
        W.wordpiece_fertility_sql,
        lambda p: not p.startswith(W.CONT),
    ),
    "unigram": (
        lambda df: U.unigram_encode(df, U.FIXED_UNIGRAM_VOCAB),
        U.unigram_encode_fixed_sql,
        U.unigram_fertility,
        U.unigram_fertility_sql,
        lambda p: p.startswith(U.BOW),
    ),
}


@pytest.mark.parametrize("name", sorted(TOKENIZERS))
def test_encode_and_fertility_match_sql_twin_on_unicode_whitespace(spark, name):
    encode, encode_sql, fert, fert_sql, opens_word = TOKENIZERS[name]
    df = spark.createDataFrame(ROWS, "doc_id long, text string, source string")
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR, source VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", ROWS)

    enc = sorted(tuple(r) for r in encode(df).collect())
    assert enc == sorted(con.sql(encode_sql("documents")).fetchall())
    fer = sorted(tuple(r) for r in fert(df).collect())
    assert fer == sorted(con.sql(fert_sql("documents")).fetchall())

    # fertility divides pieces by the words the encoder segmented
    source = {i: s for i, _, s in ROWS}
    enc_words: dict[str, int] = {}
    for r in enc:
        n = sum(opens_word(p) for p in r[2].split(" ") if p)
        enc_words[source[r[0]]] = enc_words.get(source[r[0]], 0) + n
    assert {r[0]: r[2] for r in fer} == enc_words == {"s1": 8, "s2": 3}


# ------------------------------------------------------------- guard ----

TOKENIZER_MODULES = ["operators/bpe.py", "operators/wordpiece.py", "operators/unigram.py"]


def _functions(module):
    tree = ast.parse((PKG / module).read_text())
    return [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]


def _names(node):
    """Every called name and referenced attribute/name under ``node``."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Name):
            out.add(n.id)
    return out


def test_encode_and_fertility_live_in_the_shared_stage():
    """No module but subword.py defines a pandas_udf/mapInPandas encode
    or a fertility groupBy; each tokenizer's encode and fertility
    bindings call the shared stage."""
    offenders = []
    for module in sorted(p.relative_to(PKG).as_posix() for p in PKG.rglob("*.py")):
        if module == "operators/subword.py":
            continue
        for fn in _functions(module):
            names = _names(fn)
            if "encode" in fn.name and names & {"pandas_udf", "mapInPandas"}:
                if module != "operators/similarity.py":  # PQ codes, not text
                    offenders.append(f"{module}:{fn.name}")
            if "fertility" in fn.name and "groupBy" in names:
                offenders.append(f"{module}:{fn.name}")
    assert offenders == []
    for module in TOKENIZER_MODULES:
        for fn in _functions(module):
            if not fn.name.startswith("_") and (
                "_encode" in fn.name or "fertility" in fn.name
            ):
                assert "subword" in _names(fn), f"{module}:{fn.name}"


def _windows(path, width=8):
    lines = [ln.strip() for ln in path.read_text().splitlines()]
    trivial = re.compile(r"[\s()\[\]{},:\"']*")
    return {
        tuple(lines[i : i + width])
        for i in range(len(lines) - width + 1)
        if sum(not trivial.fullmatch(s) for s in lines[i : i + width]) >= 7
    }


def test_no_eight_line_window_shared_between_tokenizer_modules():
    wins = {m: _windows(PKG / m) for m in TOKENIZER_MODULES}
    for i, a in enumerate(TOKENIZER_MODULES):
        for b in TOKENIZER_MODULES[i + 1 :]:
            assert not wins[a] & wins[b], (a, b)


def _lookup(module, dotted):
    node = ast.parse((PKG / module).read_text())
    for name in dotted.split("."):
        node = next(
            n for n in node.body
            if isinstance(n, (ast.FunctionDef, ast.ClassDef)) and n.name == name
        )
    return node


STREAM_TWINS = {
    ("streaming/pq.py", "pq_gate"): {"pq_encode"},
    ("streaming/heavy.py", "StreamingHeavyHitters"): {"mg_summaries", "mg_cap"},
}


@pytest.mark.parametrize("site", sorted(STREAM_TWINS), ids=lambda s: s[1])
def test_streaming_twins_call_the_batch_kernels(site):
    """The twins call the batch kernel and keep no copy of it: no Arrow
    map stage, window or n-gram zip of their own."""
    names = _names(_lookup(*site))
    assert STREAM_TWINS[site] <= names
    assert not names & {"mapInPandas", "pandas_udf", "Window", "arrays_zip"}


def test_one_ngram_extractor():
    """arrays_zip appears only in curation.word_ngrams."""
    for path in sorted(PKG.rglob("*.py")):
        module = str(path.relative_to(PKG))
        for fn in _functions(module):
            if "arrays_zip" in _names(fn):
                assert (module, fn.name) == ("operators/curation.py", "word_ngrams")
