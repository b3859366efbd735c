"""Text-analysis operators for training-data pipelines: language-ID
heuristic, quality scoring, token counting, document fingerprinting.

Not in the reference (Bistro has no scalar function library at all —
SURVEY.md §2.5); these are the north-rule training-pipeline extensions.
Everything is native Catalyst (whole-stage codegen, zero Python) and each
formula is chosen to be *bit-reproducible in ANSI SQL* so the DuckDB
oracles can verify exact equality:

- counts use the length-minus-replace trick (no regex dialect drift),
- word split is on a single literal space,
- the only hash is md5 (identical across engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# marker substrings per language for the n-gram-ish language-ID heuristic;
# spaces included so they match whole words mid-sentence.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " et ", " la "],
    "es": [" el ", " y ", " los "],
}

STOPWORDS = [" the ", " a ", " of ", " and ", " to "]


def substr_count(text: Column | str, marker: str) -> Column:
    """Occurrences of ``marker`` in ``text`` via length/replace — exact and
    engine-portable (SQL: (length(t)-length(replace(t,m,'')))/length(m))."""
    t = F.col(text) if isinstance(text, str) else text
    return (
        (F.length(t) - F.length(F.replace(t, F.lit(marker), F.lit(""))))
        / len(marker)
    ).cast("int")


def word_count(text: Column | str) -> Column:
    """Whitespace token count (single-space split, portable)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.size(F.split(t, " "))


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Marker-hit counts per candidate language."""
    return {
        lang: sum(
            (substr_count(text, m) for m in markers), start=F.lit(0)
        ).alias(f"score_{lang}")
        for lang, markers in LANG_MARKERS.items()
    }


def lang_pred(text: Column | str) -> Column:
    """argmax language with deterministic tie-break (declaration order) —
    expressible as a CASE chain in SQL."""
    scores = lang_scores(text)
    langs = list(scores)
    pred: Column = F.lit(langs[-1])
    # build CASE from last to first so earlier langs win ties
    for lang in reversed(langs[:-1]):
        others = [scores[o] for o in langs if o != lang]
        cond = None
        for o in others:
            c = scores[lang] >= o
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return pred


def stopword_count(text: Column | str) -> Column:
    return sum((substr_count(text, s) for s in STOPWORDS), start=F.lit(0))


def quality_score(text: Column | str) -> Column:
    """Deterministic quality heuristic: stopword density + mean word length
    band. All-integer inputs, double output — portable bit-for-bit."""
    t = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(t)
    n_words = word_count(t)
    stop = stopword_count(t)
    mean_wlen = (n_chars - (n_words - 1)) / n_words  # exact: ints → double
    return (
        (stop / n_words) * F.lit(2.0)
        + F.when((mean_wlen >= 3.0) & (mean_wlen <= 8.0), 1.0).otherwise(0.0)
    ).alias("quality")


def fingerprint(text: Column | str) -> Column:
    """Exact-content fingerprint: md5 (identical in every engine)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.md5(t)


def winnow_fingerprint(
    text: Column | str, gram_n: int = 3, window: int = 4
) -> Column:
    """Winnowing document fingerprint (Schleimer et al., SIGMOD 2003 — the
    MOSS scheme): hash every word ``gram_n``-gram as it rolls over the
    document, keep the minimum hash of each sliding window of ``window``
    consecutive gram hashes, return the distinct mins sorted
    (array<long>). Guarantees any shared run of ~window+gram_n-1 words
    between two documents shares a fingerprint element — the rolling-hash
    dedup/overlap primitive. Native Catalyst; md5 word-hash keeps it
    bit-identical in the DuckDB oracle."""
    from bistro_spark.operators.dedup import word_hash

    t = F.col(text) if isinstance(text, str) else text
    words = F.split(t, " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(words) - (gram_n - 1), F.lit(1))),
        lambda i: word_hash(F.concat_ws(" ", F.slice(words, i, gram_n))),
    )
    mins = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(grams) - (window - 1), F.lit(1))),
        lambda i: F.array_min(F.slice(grams, i, window)),
    )
    return F.array_sort(F.array_distinct(mins))


def winnow_fingerprint_sql(
    text_expr: str = "text", gram_n: int = 3, window: int = 4
) -> str:
    """The identical winnowing fingerprint as DuckDB SQL."""
    gram_hash = (
        "CAST(concat('0x', substr(md5(array_to_string("
        f"wrd[i:i+{gram_n - 1}], ' ')), 1, 8)) AS BIGINT)"
    )
    return f"""(
      SELECT list_sort(list_distinct(list_transform(
               range(1, greatest(len(grm) - {window - 1}, 1) + 1),
               i -> list_min(grm[i:i+{window - 1}]))))
      FROM (
        SELECT list_transform(
                 range(1, greatest(len(wrd) - {gram_n - 1}, 1) + 1),
                 i -> {gram_hash}) AS grm
        FROM (SELECT string_split({text_expr}, ' ') AS wrd)
      )
    )"""


def add_text_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """All features in one pass (single projection, codegen'd)."""
    return df.select(
        "*",
        word_count(text_col).alias("n_words"),
        stopword_count(text_col).alias("n_stop"),
        quality_score(text_col).alias("quality"),
        lang_pred(text_col).alias("lang_pred"),
        fingerprint(text_col).alias("fp_md5"),
    )


def lang_pred_sql(text_expr: str = "text") -> str:
    """The identical lang_pred as ANSI SQL (oracle side)."""

    def cnt(m: str) -> str:
        return (
            f"CAST((length({text_expr}) - length(replace({text_expr}, '{m}', '')))"
            f" / {len(m)} AS INTEGER)"
        )

    score = {
        lang: " + ".join(cnt(m) for m in ms) for lang, ms in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    case = f"'{langs[-1]}'"
    for lang in reversed(langs[:-1]):
        conds = " AND ".join(
            f"({score[lang]}) >= ({score[o]})" for o in langs if o != lang
        )
        case = f"CASE WHEN {conds} THEN '{lang}' ELSE {case} END"
    return case


def substr_count_sql(text_expr: str, marker: str) -> str:
    return (
        f"CAST((length({text_expr}) - length(replace({text_expr}, '{marker}', '')))"
        f" / {len(marker)} AS INTEGER)"
    )


def stopword_count_sql(text_expr: str = "text") -> str:
    return " + ".join(substr_count_sql(text_expr, s) for s in STOPWORDS)


def quality_score_sql(text_expr: str = "text") -> str:
    n_words = f"len(string_split({text_expr}, ' '))"
    mean_wlen = f"(length({text_expr}) - ({n_words} - 1)) / {n_words}"
    return (
        f"(({stopword_count_sql(text_expr)}) / {n_words}) * 2.0 + "
        f"CASE WHEN ({mean_wlen}) >= 3.0 AND ({mean_wlen}) <= 8.0 "
        f"THEN 1.0 ELSE 0.0 END"
    )


# ------------------------------------------------ repetition signals ----
# Gopher-style (Rae et al. 2021, §A1.1) repetition/boilerplate measures:
# heavily repetitive documents are low-value training data. Both measures
# are engine-portable (array ops over the single-space word split, no
# regex, no hash drift).


def repetition_signals(
    df: DataFrame, text_col: str = "text", via: str = "hof"
) -> DataFrame:
    """Per-document repetition report: word counts, duplicate-word
    fraction (1 - distinct/total), and the coverage of the most frequent
    word bigram.

    ``via='hof'`` computes the top-bigram count with higher-order array
    functions in one codegen projection — O(distinct x total) per doc,
    ideal for web-scale corpora of bounded-length documents (truncate
    pathological docs first). ``via='explode'`` is the unbounded-doc
    variant: explode bigrams, two aggregations, linear work per doc at
    the price of a shuffle on (id, gram). Identical output
    (parity-tested); the contract pins 'hof'.
    """
    t = F.col(text_col)
    words = F.split(t, " ")
    n_words = F.size(words)
    n_distinct = F.size(F.array_distinct(words))
    base = df.select(
        "*",
        n_words.alias("n_words"),
        n_distinct.alias("n_distinct_words"),
        F.round(
            F.lit(1.0) - n_distinct / n_words, 6
        ).alias("dup_word_fraction"),
    )
    # zip_with over two slices of ONE split (an index-lambda re-splits
    # the text per element — O(words²·len) per doc; see dedup.ngram_set)
    bigrams = F.when(
        F.size(words) >= 2,
        F.zip_with(
            F.slice(words, 1, F.size(words) - 1),
            F.slice(words, 2, F.size(words) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    if via == "hof":
        g = bigrams
        top = F.coalesce(
            F.array_max(
                F.transform(
                    F.array_distinct(g),
                    lambda x: F.size(F.filter(g, lambda y: y == x)),
                )
            ),
            F.lit(0),
        )
        return base.withColumn("top_bigram_count", top).withColumn(
            "top_bigram_fraction",
            F.round(
                F.when(F.size(bigrams) > 0,
                       F.col("top_bigram_count") / F.size(bigrams))
                .otherwise(0.0),
                6,
            ),
        )
    if via != "explode":
        raise ValueError(f"via must be 'hof' or 'explode', got {via!r}")
    # explode variant: count per (row, gram), then max per row. The row key
    # is the full base projection (doc ids are unique in practice; using
    # all columns keeps the op generic without requiring an id column).
    gram_rows = base.select("*", F.explode(bigrams).alias("_gram"))
    per_gram = gram_rows.groupBy(*base.columns, "_gram").agg(
        F.count("*").alias("_cnt")
    )
    agg = per_gram.groupBy(*base.columns).agg(
        F.max("_cnt").cast("int").alias("top_bigram_count")
    )
    out = base.join(agg, on=base.columns, how="left").withColumn(
        "top_bigram_count", F.coalesce("top_bigram_count", F.lit(0))
    )
    return out.withColumn(
        "top_bigram_fraction",
        F.round(
            F.when(F.col("n_words") >= 2,
                   F.col("top_bigram_count") / (F.col("n_words") - 1))
            .otherwise(0.0),
            6,
        ),
    )


def repetition_signals_sql(
    table: str = "documents", text_expr: str = "text"
) -> str:
    """DuckDB twin of repetition_signals (the 'hof' shape)."""
    return f"""
      WITH w AS (
        SELECT *, string_split({text_expr}, ' ') AS wrd FROM {table}
      ),
      g AS (
        SELECT *,
               CASE WHEN len(wrd) >= 2
                    THEN list_transform(range(1, len(wrd)),
                                        i -> array_to_string(wrd[i:i+1], ' '))
                    ELSE [] END AS grm
        FROM w
      )
      SELECT * EXCLUDE (wrd, grm),
             CAST(len(wrd) AS INTEGER) AS n_words,
             CAST(len(list_distinct(wrd)) AS INTEGER) AS n_distinct_words,
             round(1.0 - CAST(len(list_distinct(wrd)) AS DOUBLE)
                       / len(wrd), 6) AS dup_word_fraction,
             CAST(coalesce(list_max(list_transform(list_distinct(grm),
                    x -> len(list_filter(grm, y -> y = x)))), 0)
                  AS INTEGER) AS top_bigram_count,
             round(CASE WHEN len(grm) > 0
                        THEN CAST(coalesce(list_max(list_transform(
                               list_distinct(grm),
                               x -> len(list_filter(grm, y -> y = x)))), 0)
                             AS DOUBLE) / len(grm)
                        ELSE 0.0 END, 6) AS top_bigram_fraction
      FROM g
    """


# ------------------------------------------------------ PII redaction ----
# Regex subset chosen to behave identically under Java regex (Spark) and
# RE2 (DuckDB): character classes, bounded repetition, no backreferences
# or lookaround.

PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"(?:\+?[0-9]{1,3}[-. ])?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    kinds: list[str] | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Replace email / phone / IPv4 literals with ``[KIND]`` tokens and
    count the redactions per kind — pure ``regexp_replace`` chain, fully
    codegen (no Python in the hot path at any scale).

    Adds ``n_redact_<kind>`` count columns and writes the scrubbed text to
    ``out_col`` (default: overwrite ``text_col``).
    """
    kinds = kinds or list(PII_PATTERNS)
    out_col = out_col or text_col
    scrubbed = F.col(text_col)
    counts = []
    for kind in kinds:
        pat = PII_PATTERNS[kind]
        token = f"[{kind.upper()}]"
        counts.append(
            F.coalesce(
                F.size(F.split(scrubbed, pat)) - 1, F.lit(0)
            ).alias(f"n_redact_{kind}")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    return df.select(
        *[c for c in df.columns if c != out_col],
        *counts,
        scrubbed.alias(out_col),
    )


# --------------------------------------- hashed linear quality classifier ----


def classifier_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """fastText-style hashed linear quality classifier: features are word
    unigrams + adjacent bigrams (single-space split, the repo's portable
    tokenizer convention), each feature's weight is a deterministic
    md5-derived INTEGER in [-1000, 1000] (dedup.word_hash % 2001 - 1000 —
    standing in for trained weights so the whole model is reproducible on
    any engine with no artifact to ship), the logit is
    sum(w) / (1000 * sqrt(n_feats)) and the score is the sigmoid.

    Scale shape: zero shuffle and zero Python — one Catalyst map stage per
    row (aggregate() HOF over the feature array; md5 dominates, all
    JVM-side). The weight SUM is kept integer so it is exact and
    order-independent — the only float ops are one division, one sqrt and
    one exp at the very end, then round(…, 6) — the repo's standard
    cross-engine float discipline. A real trained model swaps the hash
    weight for a broadcast lookup; everything else is unchanged.
    """
    words = F.split(F.col(text_col), " ")
    n = F.size(words)
    # zip_with over two slices of ONE split — an index-lambda would
    # re-split the text per element, O(words²·len) per document (the
    # n > 1 guard also dodges sequence(1, 0) descending, a Spark quirk)
    bigrams = F.when(
        n > 1,
        F.zip_with(
            F.slice(words, 1, n - 1),
            F.slice(words, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = F.concat(words, bigrams)
    w_sum = F.expr(
        "aggregate(_feats, 0L, (acc, t) -> acc + ("
        "CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) % 2001"
        " - 1000))"
    )
    out = (
        df.select(F.col(id_col), feats.alias("_feats"))
        .withColumn("n_feats", F.size("_feats").cast("int"))
        .withColumn("w_sum", w_sum)
        .withColumn(
            "score",
            F.round(
                F.lit(1.0)
                / (
                    F.lit(1.0)
                    + F.exp(
                        -(
                            F.col("w_sum")
                            / (F.lit(1000.0) * F.sqrt(F.col("n_feats")))
                        )
                    )
                ),
                6,
            ),
        )
        .withColumn("keep", F.col("score") >= F.lit(threshold))
    )
    return out.select(id_col, "n_feats", "w_sum", "score", "keep")


def classifier_score_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> str:
    """DuckDB twin of :func:`classifier_score` (1-based list indexing;
    range(1, 1) is empty so the single-word guard is implicit)."""
    return f"""
      WITH f AS (
        SELECT {id_col}, string_split({text_col}, ' ') AS w
        FROM {table}),
      g AS (
        SELECT {id_col},
               list_concat(
                 w,
                 list_transform(range(1, len(w)),
                                i -> w[i] || ' ' || w[i + 1])) AS feats
        FROM f),
      s AS (
        SELECT {id_col},
               CAST(len(feats) AS INTEGER) AS n_feats,
               CAST(list_sum(list_transform(feats,
                 t -> CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
                      % 2001 - 1000)) AS BIGINT) AS w_sum
        FROM g)
      SELECT {id_col}, n_feats, w_sum,
             round(1.0 / (1.0 + exp(-(w_sum / (1000.0 * sqrt(n_feats))))),
                   6) AS score,
             (round(1.0 / (1.0 + exp(-(w_sum / (1000.0 * sqrt(n_feats))))),
                    6) >= {threshold}) AS keep
      FROM s
    """


# ----------------------------------------------- heavy hitters (Misra-Gries) ----


def heavy_hitters(
    df: DataFrame,
    text_col: str = "text",
    k: int = 50,
) -> DataFrame:
    """All words with frequency > N/(k+1) of the corpus word count, EXACTLY
    — without ever shuffling the full vocabulary.

    Two phases (the sketch-then-exact-verify pattern the LSH dedup family
    uses):

    1. Per-partition Misra-Gries summaries with k counters via
       ``mapInPandas`` (the iterator spans the whole partition, so the
       summary is per-partition, not per-batch). MG guarantee: any word
       with partition-local frequency > N_p/(k+1) survives; a word with
       global frequency > N/(k+1) must exceed that rate in at least one
       partition (else summing the per-partition bounds caps it at
       N/(k+1)), so the UNION of partition candidate sets has NO false
       negatives. Candidate volume is <= k * n_partitions — broadcast-size
       by construction, never vocabulary-size.
    2. Exact recount of candidate words only (broadcast semi-join into the
       term stream, partial-agg count) and the threshold filter in exact
       integer arithmetic: cnt * (k+1) > N. False positives die here, so
       the output is exact — the oracle is a plain GROUP BY ... HAVING.

    At 100 TB a naive groupBy(word) shuffles every distinct word (~10^9+
    keys); here the only wide ops are the candidate-set distinct (bounded
    by k * partitions) and a count over the broadcast-filtered stream.
    """
    terms = df.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
    candidates = mg_summaries(terms, k).select("word").distinct()

    total = terms.select(F.count("*").alias("_n_total"))
    return (
        terms.join(F.broadcast(candidates), "word")
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * (k + 1) > F.col("_n_total"))
        .select("word", "cnt")
    )


def mg_cap(counters, k: int):
    """The Misra-Gries merge rule on a word -> count pandas Series: keep
    at most k counters by subtracting the (k+1)-th largest count from
    all and dropping the non-positive remainder. The total subtraction
    is bounded by N/(k+1), so nothing with frequency > N/(k+1) can be
    evicted (mergeable summaries, Agarwal et al. 2012)."""
    if len(counters) > k:
        counters = counters - counters.nlargest(k + 1).iloc[-1]
        counters = counters[counters > 0]
    return counters


def mg_summaries(terms: DataFrame, k: int) -> DataFrame:
    """Per-partition Misra-Gries summaries of a ``word`` column: at most
    k rows (word, est) per partition. Vectorized: per Arrow batch,
    value_counts at C speed, add into the running summary, then
    :func:`mg_cap`. The iterator spans the whole partition, so the
    summary is per-partition, not per-batch."""
    import pandas as pd

    def mg_partition(batches):
        counters = pd.Series(dtype="int64")
        for b in batches:
            if len(b):
                counters = mg_cap(counters.add(b["word"].value_counts(), fill_value=0), k)
        if len(counters):
            yield pd.DataFrame(
                {"word": counters.index.astype(str), "est": counters.to_numpy("int64")}
            )

    return terms.mapInPandas(mg_partition, "word string, est long")


def heavy_hitters_sql(
    table: str = "documents",
    text_col: str = "text",
    k: int = 50,
) -> str:
    """DuckDB twin of :func:`heavy_hitters` — the sketch phase has no
    observable effect (no false negatives by the MG bound, false positives
    removed by the exact recount), so the oracle is the definition itself."""
    return f"""
      WITH t AS (
        SELECT unnest(string_split({text_col}, ' ')) AS word
        FROM {table}),
      n AS (SELECT count(*) AS n_total FROM t)
      SELECT word, CAST(count(*) AS BIGINT) AS cnt
      FROM t, n
      GROUP BY word, n_total
      HAVING count(*) * ({k} + 1) > n_total
    """


# --------------------------------------------------- unicode cleanup ----
# The standard UTF-8 sanitation pass (CCNet/Gopher-style preprocessing):
# compose combining sequences to NFC so "e"+U+0301 and "é" stop being
# distinct tokens/hashes, then collapse whitespace runs. NFC needs a real
# Unicode database, which Catalyst has no builtin for — this is one of the
# few legitimately-Python kernels in the engine, so it is an Arrow-batched
# pandas UDF (one map-only stage fused around Catalyst trim/regexp), never
# row-at-a-time. The DuckDB oracle uses the engine-native nfc_normalize().


def nfc_normalize_udf():
    """Arrow-batched NFC normalizer (unicodedata is the Python stdlib's
    Unicode database; applied per string of each Arrow batch)."""
    import pandas as pd  # noqa: F401  (pandas ships with the runtime)
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s):
        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    return _nfc


def normalize_text(
    df: DataFrame, text_col: str = "text", out_col: str = "text_norm"
) -> DataFrame:
    """NFC-compose + whitespace sanitation: one Arrow stage for the
    Unicode composition, then Catalyst-side collapse of [ \\t\\r\\n]+ runs
    to single spaces and end-trim (the explicit char class is identical in
    Java regex and RE2 — no \\s dialect drift). Map-only at any scale."""
    nfc = nfc_normalize_udf()
    cleaned = F.trim(
        F.regexp_replace(nfc(F.col(text_col)), "[ \t\r\n]+", " ")
    )
    return df.withColumn(out_col, cleaned)


def normalize_text_sql(text_expr: str = "text") -> str:
    """The identical sanitation as DuckDB SQL (nfc_normalize is DuckDB's
    native NFC)."""
    return (
        f"trim(regexp_replace(nfc_normalize({text_expr}), "
        f"'[ \\t\\r\\n]+', ' ', 'g'))"
    )


def messy_text(text: Column | str) -> Column:
    """Deterministic de-normalizer for the oracle corpus (which is pure
    ASCII): decompose every 'e' into 'e'+U+0301 (combining acute) and
    inject tab+double-space noise around ' the '. Same expression on both
    engines, so the contract exercises real NFC composition + whitespace
    repair, not an identity map."""
    t = F.col(text) if isinstance(text, str) else text
    # NB: Spark's chr() is mod-256 ASCII — the combining acute (U+0301)
    # must be an embedded string literal on both engines.
    return F.replace(
        F.replace(t, F.lit("e"), F.lit("e\u0301")),
        F.lit(" th"),
        F.lit(" \t  th"),
    )


def messy_text_sql(text_expr: str = "text") -> str:
    return (
        f"replace(replace({text_expr}, 'e', 'e' || chr(769)), "
        f"' th', ' ' || chr(9) || '  th')"
    )


# ---------------------------------------------------------- BM25 ----
# Query-relevance selection (Robertson/Spärck Jones; idf in the Lucene
# form ln(1 + (N-df+0.5)/(df+0.5)), which is always positive, so
# "document matches" is the integer condition sum(tf) > 0 — floats never
# gate a row). The corpus statistics a score needs (N, total length, per
# -term df) reduce to ONE partial-aggregated row that rides a broadcast
# into the per-document map stage: one scan, one single-row exchange,
# zero data-sized shuffles at any corpus size.

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_scores(
    df: DataFrame,
    queries: dict[int, list[str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-(query, document) BM25 relevance over whitespace terms.

    Output: (query_id, doc_id, n_hits, score) for documents with at
    least one query-term occurrence. ``score`` is a report column
    (round 6) — never a sort key (cross-engine float discipline); rank
    downstream by (n_hits, integer keys) or consume the score as a
    feature."""
    terms = sorted({t for ts in queries.values() for t in ts})
    stats = bm25_stats(df, terms, text_col)
    return bm25_apply(df, queries, stats, text_col, id_col)


def bm25_stats(df: DataFrame, terms: list[str], text_col: str = "text") -> DataFrame:
    """BM25's sufficient statistics as ONE corpus pass -> one row:
    (N, total token count, df per term) — all partial-aggregatable AND
    additive across corpus splits, which is what makes the exact
    streaming twin (`streaming.bm25`) possible with O(#terms) state."""
    words = F.split(F.col(text_col), " ")
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("_n_docs"),
        F.sum(F.size(words)).cast("long").alias("_sum_dl"),
        *[
            F.sum(F.array_contains(words, t).cast("long"))
            .cast("long")
            .alias(f"_df_{i}")
            for i, t in enumerate(terms)
        ],
    )


def bm25_apply(
    df: DataFrame,
    queries: dict[int, list[str]],
    stats: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score ``df`` against a pre-computed one-row stats relation
    (broadcast crossJoin — the stats row is the only non-map input)."""
    words = F.split(F.col(text_col), " ")
    terms = sorted({t for ts in queries.values() for t in ts})
    dfi = {t: F.col(f"_df_{i}") for i, t in enumerate(terms)}
    n = F.col("_n_docs")
    avgdl = F.col("_sum_dl") / n
    dl = F.size(words)

    def tf(t: str):
        return F.size(F.filter(words, lambda w: w == F.lit(t))).cast("long")

    def idf(t: str):
        return F.log(
            F.lit(1.0) + (n - dfi[t] + F.lit(0.5)) / (dfi[t] + F.lit(0.5))
        )

    def contrib(t: str):
        tfe = tf(t)
        denom = tfe + F.lit(BM25_K1) * (
            F.lit(1 - BM25_B) + F.lit(BM25_B) * dl / avgdl
        )
        return idf(t) * tfe * F.lit(BM25_K1 + 1) / denom

    # one struct per query, inlined — ONE score scan regardless of how
    # many queries ride it (the naive per-query union re-scans the corpus
    # per query set)
    per_query = [
        F.struct(
            F.lit(qid).cast("int").alias("query_id"),
            sum((tf(t) for t in ts), start=F.lit(0).cast("long")).alias(
                "n_hits"
            ),
            F.round(
                sum((contrib(t) for t in ts), start=F.lit(0.0)), 6
            ).alias("score"),
        )
        for qid, ts in sorted(queries.items())
    ]
    return (
        df.crossJoin(F.broadcast(stats))
        .select(F.col(id_col), F.inline(F.array(*per_query)))
        .filter(F.col("n_hits") > 0)
        .select("query_id", id_col, "n_hits", "score")
    )


def bm25_scores_sql(
    table: str,
    queries: dict[int, list[str]],
    text_expr: str = "text",
    id_expr: str = "doc_id",
) -> str:
    """The identical BM25 as DuckDB SQL (stats CTE + per-query selects)."""
    terms = sorted({t for ts in queries.values() for t in ts})
    words = f"string_split({text_expr}, ' ')"
    df_cols = ", ".join(
        f"sum(CASE WHEN list_contains({words}, '{t}') THEN 1 ELSE 0 END)"
        f" AS df_{i}"
        for i, t in enumerate(terms)
    )
    stats = (
        f"SELECT count(*) AS n_docs, sum(len({words})) AS sum_dl, {df_cols} "
        f"FROM {table}"
    )
    idx = {t: i for i, t in enumerate(terms)}

    def tf(t: str) -> str:
        return f"len(list_filter({words}, w -> w = '{t}'))"

    def idf(t: str) -> str:
        i = idx[t]
        return f"ln(1.0 + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5))"

    def contrib(t: str) -> str:
        return (
            f"({idf(t)}) * ({tf(t)}) * {BM25_K1 + 1} / "
            f"(({tf(t)}) + {BM25_K1} * ({1 - BM25_B} + {BM25_B} * "
            f"len({words}) / (sum_dl / n_docs)))"
        )

    selects = []
    for qid, ts in sorted(queries.items()):
        hits = " + ".join(tf(t) for t in ts)
        score = " + ".join(f"({contrib(t)})" for t in ts)
        selects.append(
            f"SELECT {qid} AS query_id, {id_expr} AS doc_id, "
            f"CAST({hits} AS BIGINT) AS n_hits, "
            f"round({score}, 6) AS score "
            f"FROM {table}, stats WHERE ({hits}) > 0"
        )
    union = " UNION ALL ".join(selects)
    return f"WITH stats AS ({stats}) {union}"


# ------------------------------------------------- collocation mining ----
def collocations_pmi(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 20,
    min_count: int = 5,
) -> DataFrame:
    """Top-k adjacent-word collocations by PMI (pointwise mutual
    information): pairs that co-occur far more than their unigram
    frequencies predict — multi-word expressions, boilerplate phrases,
    template artifacts. The lexical companion to the Gopher repetition
    signals: repetition finds WITHIN-doc loops, PMI finds CORPUS-level
    glue phrases.

    Shape at 100 TB: one explode into adjacent pairs (size-1 per doc,
    linear — never the within-doc n² co-occurrence matrix), two
    partial-aggregated groupBys (pair counts, unigram counts), unigram
    totals broadcast back onto the vocabulary-sized pair table, and the
    top-k via ``orderBy(...).limit(k)`` — Spark compiles that to
    TakeOrderedAndProject (per-partition heaps + driver merge of k rows),
    NOT a single-reducer global sort. Ranking keys are (count DESC,
    pair ASC): exact integers/strings, never the float PMI; the PMI is a
    round-6 report column assembled in ONE double expression from exact
    BIGINT counts (both engines see identical inputs and association, so
    they round identically).

    Returns top_k rows (term_a, term_b, n_pair, pmi), count-ranked."""
    words = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    pairs = (
        df.select(words.alias("_w"))
        .filter(F.size("_w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(_w) - 1),"
                    " i -> struct(_w[i-1] AS a, _w[i] AS b))"
                )
            ).alias("_p")
        )
        .select(F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
    )
    pair_counts = (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
    )
    uni = (
        df.select(F.explode(words).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = uni.agg(
        F.sum("c").cast("long").alias("_n"),
    )
    m = pairs.agg(F.count(F.lit(1)).cast("long").alias("_m"))
    scored = (
        pair_counts.join(
            F.broadcast(uni.select(F.col("t").alias("a"), F.col("c").alias("_ca"))),
            "a",
        )
        .join(
            F.broadcast(uni.select(F.col("t").alias("b"), F.col("c").alias("_cb"))),
            "b",
        )
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(m))
    )
    pmi = F.log(
        (F.col("n_pair").cast("double") * F.col("_n") * F.col("_n"))
        / (F.col("_m").cast("double") * F.col("_ca") * F.col("_cb"))
    )
    return (
        scored.select(
            F.col("a").alias("term_a"),
            F.col("b").alias("term_b"),
            "n_pair",
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy(F.col("n_pair").desc(), "term_a", "term_b")
        .limit(top_k)
    )


def collocations_pmi_sql(
    table: str = "documents",
    text_col: str = "text",
    top_k: int = 20,
    min_count: int = 5,
) -> str:
    """DuckDB twin of :func:`collocations_pmi` (same single-expression
    PMI assembly and (count, pair) ranking)."""
    return f"""
      WITH w AS (
        SELECT list_filter(string_split({text_col}, ' '), x -> x <> '') AS w
        FROM {table}
      ),
      pairs AS (
        SELECT w[i] AS a, w[i + 1] AS b
        FROM w, unnest(range(1, len(w))) AS t(i)
        WHERE len(w) >= 2
      ),
      pc AS (
        SELECT a, b, CAST(count(*) AS BIGINT) AS n_pair
        FROM pairs GROUP BY a, b
        HAVING count(*) >= {min_count}
      ),
      uni AS (
        SELECT t, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(w) AS t FROM w) GROUP BY t
      ),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
      m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs)
      SELECT pc.a AS term_a, pc.b AS term_b, n_pair,
             round(ln((CAST(n_pair AS DOUBLE) * n * n)
                      / (CAST(m AS DOUBLE) * ua.c * ub.c)), 6) AS pmi
      FROM pc
      JOIN uni ua ON pc.a = ua.t
      JOIN uni ub ON pc.b = ub.t
      CROSS JOIN tot CROSS JOIN m
      ORDER BY n_pair DESC, term_a, term_b
      LIMIT {top_k}
    """


def synth_pii(doc_id: Column | str, text: Column | str) -> Column:
    """Deterministic PII injection from an integer id (the corpus has no
    real PII, so — like ``web.synth_url`` — the gate synthesizes it with
    the SAME expression on both engines): ids ≡0 mod 3 gain an email,
    ≡0 mod 4 a phone, ≡0 mod 5 an IPv4, all value-derived from the id.
    """
    k = F.col(doc_id) if isinstance(doc_id, str) else doc_id
    t = F.col(text) if isinstance(text, str) else text
    email = F.when(
        k % 3 == 0,
        F.concat(
            F.lit("user"), (k % 50).cast("string"),
            F.lit("@ex"), (k % 7).cast("string"), F.lit(".com "),
        ),
    ).otherwise(F.lit(""))
    phone = F.when(
        k % 4 == 0,
        F.concat(
            F.lit("+1-555-"),
            F.lpad((k % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((k % 10000).cast("string"), 4, "0"),
            F.lit(" "),
        ),
    ).otherwise(F.lit(""))
    ip = F.when(
        k % 5 == 0,
        F.concat(
            F.lit("10."), (k % 256).cast("string"),
            F.lit("."), (k % 200).cast("string"),
            F.lit("."), (k % 7).cast("string"), F.lit(" "),
        ),
    ).otherwise(F.lit(""))
    return F.concat(email, phone, ip, t)


def synth_pii_sql(id_expr: str = "doc_id", text_expr: str = "text") -> str:
    """The identical deterministic PII injection as DuckDB SQL."""
    k = f"({id_expr})"
    return f"""(
      (CASE WHEN {k} % 3 = 0 THEN
         'user' || CAST({k} % 50 AS VARCHAR)
         || '@ex' || CAST({k} % 7 AS VARCHAR) || '.com ' ELSE '' END)
      || (CASE WHEN {k} % 4 = 0 THEN
         '+1-555-' || lpad(CAST({k} % 1000 AS VARCHAR), 3, '0')
         || '-' || lpad(CAST({k} % 10000 AS VARCHAR), 4, '0') || ' '
         ELSE '' END)
      || (CASE WHEN {k} % 5 = 0 THEN
         '10.' || CAST({k} % 256 AS VARCHAR)
         || '.' || CAST({k} % 200 AS VARCHAR)
         || '.' || CAST({k} % 7 AS VARCHAR) || ' ' ELSE '' END)
      || {text_expr}
    )"""


def redact_pii_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    carry_cols: tuple[str, ...] = (),
    synth_key: str | None = None,
    inject: bool = True,
) -> str:
    """DuckDB twin of ``synth_pii`` + :func:`redact_pii`: counts are
    taken on the PROGRESSIVELY scrubbed text (email count on raw, phone
    count on email-scrubbed, ipv4 count on phone-scrubbed), mirroring
    the Spark chain; DuckDB needs the explicit 'g' flag Spark implies.
    """
    e, p, i4 = (
        PII_PATTERNS["email"],
        PII_PATTERNS["phone"],
        PII_PATTERNS["ipv4"],
    )
    carry = "".join(f"{c}, " for c in carry_cols)
    return f"""
      WITH raw AS (
        SELECT {id_col}, {carry}{
            synth_pii_sql(synth_key or id_col, text_col)
            if inject else text_col} AS t
        FROM {table}
      ),
      s1 AS (
        SELECT {id_col}, {carry}
               CAST(len(regexp_extract_all(t, '{e}')) AS BIGINT)
                 AS n_redact_email,
               regexp_replace(t, '{e}', '[EMAIL]', 'g') AS t
        FROM raw
      ),
      s2 AS (
        SELECT {id_col}, {carry}n_redact_email,
               CAST(len(regexp_extract_all(t, '{p}')) AS BIGINT)
                 AS n_redact_phone,
               regexp_replace(t, '{p}', '[PHONE]', 'g') AS t
        FROM s1
      )
      SELECT {id_col}, {carry}n_redact_email, n_redact_phone,
             CAST(len(regexp_extract_all(t, '{i4}')) AS BIGINT)
               AS n_redact_ipv4,
             regexp_replace(t, '{i4}', '[IPV4]', 'g') AS {text_col}
      FROM s2
    """
