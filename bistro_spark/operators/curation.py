"""Training-data curation operators: deterministic stratified sampling,
eval-set decontamination, corpus vocabulary/TF-IDF stats, and exact/approx
length-distribution reports.

These are the steps of a large-scale LLM training-data pipeline that sit
*between* quality filtering (operators/text.py) and dedup (operators/dedup.py):
decide how much of each stratum to keep, remove eval-set contamination, and
report what the resulting corpus looks like.

Design notes for the 100 TB case (the reference has no analog of these; the
bistro calculus rows they extend are calc (C2) for the row-level hash / gram
columns and accu (C5) for the grouped reports):

- ``hash_sample`` is a pure codegen filter (md5 prefix compare against a
  per-stratum literal threshold) — no shuffle, no RNG state, reproducible
  across retries/executors/restarts, and stable when the input is re-split.
  That determinism is the whole point at scale: a resumed job samples the
  SAME rows, and a bigger cluster samples the SAME corpus.
- ``contamination`` broadcasts the eval-gram set (eval sets are ~10^5 grams
  — tiny next to a 100 TB train corpus) so the train side is scanned once,
  map-side, with no shuffle of the exploded grams. Only when the eval side
  is genuinely large does the fallback shuffle join engage (Spark/AQE picks
  it when the broadcast threshold is exceeded).
- ``top_terms`` ranks by (tf DESC, term ASC) — integer+string ordering
  only, so the top-k frontier is deterministic and oracle-reproducible;
  tf-idf is emitted as a rounded *report column*, never used as a sort key
  (two libm ``ln`` implementations may differ in the last ulp).
- ``length_stats(exact=True)`` uses Spark's exact ``percentile`` (sort-based
  per group — fine up to ~10^9 rows/group); ``exact=False`` switches to
  ``approx_percentile`` (t-digest-ish GK sketch, mergeable map-side, the
  100 TB path) with identical output schema.
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from bistro_spark.operators.dedup import ngram_set, ngram_set_sql

# ------------------------------------------------- stratified hash sample ----


def _hex_threshold(rate: float, digits: int = 2) -> str:
    """Map a keep-rate in [0,1] to a lexical hex-prefix threshold.

    With 2 hex digits the rate granularity is 1/256; md5's prefix bytes are
    uniform, so P(prefix < threshold) = threshold/256.
    """
    buckets = 16 ** digits
    t = max(0, min(buckets, round(rate * buckets)))
    if t >= buckets:
        # rate 1.0: a threshold lexically above every hex prefix ('g' > 'f')
        return "g"
    return format(t, f"0{digits}x")


def hash_sample(
    df: DataFrame,
    key_col: str,
    rates: dict[str, float],
    strata_col: str,
    default_rate: float = 1.0,
) -> DataFrame:
    """Deterministic stratified sampling: keep a row iff the first two hex
    chars of md5(key) fall under the stratum's threshold.

    ``rates`` maps stratum value -> keep rate (e.g. downsample the dominant
    language). Rows in strata not listed keep ``default_rate``. Pure
    narrow filter: no shuffle, no RNG, repeatable on any cluster shape.
    """
    bucket = F.substring(F.md5(F.col(key_col).cast("string")), 1, 2)
    thr: Column = F.lit(_hex_threshold(default_rate))
    for stratum, rate in sorted(rates.items()):
        thr = F.when(
            F.col(strata_col) == stratum, F.lit(_hex_threshold(rate))
        ).otherwise(thr)
    return df.filter(bucket < thr)


def hash_sample_sql(
    key_expr: str,
    rates: dict[str, float],
    strata_expr: str,
    default_rate: float = 1.0,
) -> str:
    """WHERE-clause twin of :func:`hash_sample` for the DuckDB oracle
    (md5 of the decimal string renders identically in both engines)."""
    cases = " ".join(
        f"WHEN {strata_expr} = '{s}' THEN '{_hex_threshold(r)}'"
        for s, r in sorted(rates.items())
    )
    return (
        f"substr(md5(CAST({key_expr} AS VARCHAR)), 1, 2) < "
        f"(CASE {cases} ELSE '{_hex_threshold(default_rate)}' END)"
    )


# ---------------------------------------------------------- contamination ----


def contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Eval-set decontamination scan: for every train document, count how
    many of its distinct word n-grams appear anywhere in the eval set.

    Returns (id, n_collisions) for contaminated documents only
    (n_collisions >= 1); the caller anti-joins this against the corpus to
    drop or audit them. The eval-gram set is broadcast — the 100 TB train
    side never shuffles; each partition probes a shared hash set map-side.
    """
    eval_grams = (
        eval_df.select(
            F.explode(ngram_set(F.col(text_col), n=n)).alias("gram")
        )
        .distinct()
    )
    train_grams = train.select(
        F.col(id_col),
        F.explode(ngram_set(F.col(text_col), n=n)).alias("gram"),
    )
    return (
        train_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_collisions"))
    )


def contamination_sql(
    train_pred: str,
    eval_pred: str,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
) -> str:
    """DuckDB twin of :func:`contamination` over one table split by two
    predicates (train side / eval side)."""
    gs = ngram_set_sql(text_col, n=n)
    return f"""
      WITH eval_grams AS (
        SELECT DISTINCT unnest({gs}) AS gram
        FROM {table} WHERE {eval_pred}
      ),
      train_grams AS (
        SELECT {id_col}, unnest({gs}) AS gram
        FROM {table} WHERE {train_pred}
      )
      SELECT t.{id_col} AS {id_col},
             CAST(count(*) AS BIGINT) AS n_collisions
      FROM train_grams t JOIN eval_grams e USING (gram)
      GROUP BY t.{id_col}
    """


# ------------------------------------------------------------- vocabulary ----


def top_terms(
    df: DataFrame,
    group_col: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k corpus terms per group by term frequency, with document
    frequency and smoothed tf-idf as report columns.

    Rank ordering is (tf DESC, term ASC) — integers and strings only, so
    the frontier is deterministic; idf = ln((N+1)/(df+1)) is emitted
    rounded, never compared. Two aggregations (term-level df over the
    corpus, (group, term)-level tf) + a per-group top-k window; the window
    input is already term-aggregated, i.e. vocabulary-sized, not
    corpus-sized.
    """
    from pyspark.sql import Window

    n_docs = df.agg(
        F.countDistinct(id_col).cast("long").alias("_n_docs")
    )
    terms = df.select(
        F.col(id_col),
        F.col(group_col),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    ).filter(F.col("term") != "")
    tf = terms.groupBy(group_col, "term").agg(
        F.count("*").cast("long").alias("tf")
    )
    dfreq = terms.groupBy("term").agg(
        F.countDistinct(id_col).cast("long").alias("df")
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col("tf").desc(), F.col("term").asc())
    )
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            group_col,
            "term",
            "tf",
            "df",
            "rank",
            F.round(
                F.col("tf")
                * F.log((F.col("_n_docs") + 1.0) / (F.col("df") + 1.0)),
                6,
            ).alias("tfidf"),
        )
    )


def top_terms_sql(
    group_col: str,
    k: int = 10,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    return f"""
      WITH terms AS (
        SELECT {id_col}, {group_col},
               unnest(string_split({text_col}, ' ')) AS term
        FROM {table}
      ),
      tf AS (
        SELECT {group_col}, term, CAST(count(*) AS BIGINT) AS tf
        FROM terms WHERE term <> '' GROUP BY 1, 2
      ),
      dfreq AS (
        SELECT term, CAST(count(DISTINCT {id_col}) AS BIGINT) AS df
        FROM terms WHERE term <> '' GROUP BY 1
      ),
      n AS (SELECT count(DISTINCT {id_col}) AS n_docs FROM {table}),
      ranked AS (
        SELECT tf.{group_col}, tf.term, tf.tf, dfreq.df,
               CAST(row_number() OVER (
                 PARTITION BY tf.{group_col}
                 ORDER BY tf.tf DESC, tf.term ASC) AS INTEGER) AS rank,
               round(tf.tf * ln((n.n_docs + 1.0) / (dfreq.df + 1.0)), 6)
                 AS tfidf
        FROM tf JOIN dfreq USING (term), n
      )
      SELECT {group_col}, term, tf, df, rank, tfidf
      FROM ranked WHERE rank <= {k}
    """


# ------------------------------------------------------------ length stats ----


def length_stats(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    exact: bool = True,
) -> DataFrame:
    """Per-group corpus length report: doc count, total words, and the
    p50/p90/p99 words-per-document quantiles.

    ``exact=True`` is the oracle-checkable path (Spark ``percentile`` ==
    DuckDB ``quantile_cont``: linear interpolation on the sorted group).
    ``exact=False`` swaps in ``approx_percentile`` — a mergeable sketch
    that never sorts or collects a group, the variant to run at 100 TB —
    with the same schema (tests pin it within tolerance of exact).
    """
    n_words = F.size(F.split(F.col(text_col), " ")).cast("long")
    pfn = "percentile" if exact else "approx_percentile"
    pcts = F.expr(f"{pfn}(_n_words, array(0.5D, 0.9D, 0.99D))")
    return (
        df.select(F.col(group_col), n_words.alias("_n_words"))
        .groupBy(group_col)
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_n_words").cast("long").alias("total_words"),
            F.round(pcts[0].cast("double"), 6).alias("p50_words"),
            F.round(pcts[1].cast("double"), 6).alias("p90_words"),
            F.round(pcts[2].cast("double"), 6).alias("p99_words"),
        )
    )


def length_stats_sql(
    group_col: str, table: str = "documents", text_col: str = "text"
) -> str:
    return f"""
      WITH w AS (
        SELECT {group_col},
               CAST(len(string_split({text_col}, ' ')) AS BIGINT) AS n_words
        FROM {table}
      )
      SELECT {group_col},
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_words) AS BIGINT) AS total_words,
             round(CAST(quantile_cont(n_words, 0.5) AS DOUBLE), 6)
               AS p50_words,
             round(CAST(quantile_cont(n_words, 0.9) AS DOUBLE), 6)
               AS p90_words,
             round(CAST(quantile_cont(n_words, 0.99) AS DOUBLE), 6)
               AS p99_words
      FROM w GROUP BY {group_col}
    """


# ---------------------------------------------------------- chunking ----


def chunk_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Context-window chunking: split each document into word spans of
    ``size`` with ``overlap`` words shared between consecutive chunks (the
    RAG / training-prep striding scheme).

    Emits one row per (doc, chunk): 0-based ``chunk_id``, 1-based
    inclusive word span [start_word, end_word], the chunk word count, and
    the chunk text itself. A doc of n words yields
    1 + ceil(max(n - size, 0) / (size - overlap)) chunks; the final chunk
    may be short; every word belongs to >= 1 chunk. Pure codegen
    (sequence + explode + slice) — the explode multiplies rows ~n/step x,
    which is the op's output, not overhead; no shuffle is introduced.
    """
    if not 0 <= overlap < size:
        raise ValueError(f"need 0 <= overlap < size, got {overlap}/{size}")
    step = size - overlap
    words = F.split(F.col(text_col), " ")
    n = F.size(words)
    n_chunks = (
        F.lit(1)
        + F.ceil(F.greatest(n - size, F.lit(0)) / F.lit(step))
    ).cast("int")
    out = df.select(
        F.col(id_col),
        n.alias("_n"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        words.alias("_w"),
    )
    start = F.col("chunk_id") * step + 1
    end = F.least(start + (size - 1), F.col("_n"))
    return out.select(
        id_col,
        "chunk_id",
        start.cast("int").alias("start_word"),
        end.cast("int").alias("end_word"),
        (end - start + 1).cast("int").alias("n_words_chunk"),
        F.concat_ws(
            " ", F.slice(F.col("_w"), start, end - start + 1)
        ).alias("chunk_text"),
    )


def chunk_spans_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 32,
    overlap: int = 8,
) -> str:
    """DuckDB twin of :func:`chunk_spans`."""
    step = size - overlap
    return f"""
      WITH w AS (
        SELECT {id_col}, string_split({text_col}, ' ') AS wrd FROM {table}
      ),
      c AS (
        SELECT {id_col}, wrd, len(wrd) AS n,
               unnest(range(0, 1 + CAST(ceil(greatest(len(wrd) - {size}, 0)
                                             / {step}.0) AS INTEGER)))
                 AS chunk_id
        FROM w
      )
      SELECT {id_col},
             CAST(chunk_id AS INTEGER) AS chunk_id,
             CAST(chunk_id * {step} + 1 AS INTEGER) AS start_word,
             CAST(least(chunk_id * {step} + {size}, n) AS INTEGER)
               AS end_word,
             CAST(least(chunk_id * {step} + {size}, n)
                  - (chunk_id * {step} + 1) + 1 AS INTEGER)
               AS n_words_chunk,
             array_to_string(
               wrd[chunk_id * {step} + 1 : least(chunk_id * {step} + {size}, n)],
               ' ') AS chunk_text
      FROM c
    """


# ------------------------------------------------------ sequence packing ----

# Rows one shard (or partition) of a next-fit fold may hold: its pandas
# frame must fit in one task. Sites without a bound parameter read it when
# the plan is built.
MAX_ROWS_PER_SHARD = 50_000_000


def next_fit(lens, cap, cursor=None):
    """The greedy no-split next-fit fold over an int64 length vector —
    the one copy of the rule behind every packer in this repo.

    The first item opens pack 0 at offset 0, or continues ``cursor``'s
    open pack (``(pack_id, end)`` as the previous fold left it); an item
    that does not fit opens the next pack at offset 0, so an item longer
    than ``cap`` gets a pack to itself. Returns int64 ``(pack_ids,
    offsets)``. Folding ``a + b`` equals folding ``a``, then ``b`` from
    ``a``'s end cursor: that is why each streaming packer equals its
    batch operator by construction.

    The fold stays a per-item Python loop over ``tolist()`` (~0.5 µs per
    item): a vectorized cumsum+searchsorted "jump per pack" rewrite
    measured 1.4–6.5× slower on 1M lengths (Python overhead per pack)."""
    pack_id, end = (-1, None) if cursor is None else cursor
    pack_ids, offsets = [], []
    for ln in np.asarray(lens, dtype=np.int64).tolist():
        if end is not None and end + ln <= cap:
            off = end
        else:
            pack_id, off = pack_id + 1, 0
        end = off + ln
        pack_ids.append(pack_id)
        offsets.append(off)
    return np.array(pack_ids, dtype=np.int64), np.array(offsets, dtype=np.int64)


def group_lengths(pdf, order_col, len_col, bound, bound_name, who):
    """The per-group prologue of every next-fit site: refuse a group too
    big for one task (before the sort), then order the group and return
    it with its int64 length vector."""
    if len(pdf) > bound:
        raise ValueError(
            f"{who}: one group holds {len(pdf)} rows > {bound_name}={bound}; "
            f"spread the rows over more shards or partitions (or smaller "
            f"deltas) so each group's pandas frame fits in one task"
        )
    pdf = pdf.sort_values(order_col).reset_index(drop=True)
    return pdf, pdf[len_col].to_numpy(dtype=np.int64)


def fold_groups(
    src, key, order_col, len_col, capacity, schema, guard, cursors=None
):
    """The per-group greedy fold shared by every packer, batch or
    streaming: each ``key`` group of ``src``, in ``order_col`` order,
    runs its ``len_col`` vector through :func:`next_fit`. The two columns
    of the output ``schema`` that ``src`` lacks receive each item's pack
    id and offset, in that order. ``guard`` is the (bound, bound name,
    caller) triple of :func:`group_lengths`' row guard.

    ``cursors`` maps a group key to the ``(pack_id, end)`` cursor an
    earlier fold of that group left behind (a streaming twin's carried
    state, see :func:`fold_end`): the group's fold resumes there. A group
    without one starts at pack 0, as every group does in a batch fold."""
    import pandas as pd

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    pid, off = [n for n in schema.names if n not in src.columns]
    carry = cursors or {}

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf, lens = group_lengths(pdf, order_col, len_col, *guard)
        cursor = carry.get(pdf[key].iloc[0])
        pdf[pid], pdf[off] = next_fit(lens, capacity, cursor)
        return pdf

    return src.groupBy(key).applyInPandas(fold, schema)


def fold_end(pid: str, off: str, len_col: str, order_col: str) -> Column:
    """The ``(pack_id, end)`` cursor a :func:`fold_groups` fold leaves in
    a group, as an aggregate over its output: the last item's pack and
    the fill that item brings it to."""
    return F.max_by(
        F.struct(F.col(pid), (F.col(off) + F.col(len_col)).alias("end")),
        F.col(order_col),
    )


def pack_shards(df, id_col, len_col, capacity, n_shards, guard, cursors=None):
    """:func:`pack_sequences`' fold without its corpus-wide row guard:
    documents shard by ``id % n_shards`` and pack whole, per shard in id
    order, resuming ``cursors`` (see :func:`fold_groups`)."""
    src = df.select(
        F.col(id_col),
        (F.col(id_col) % n_shards).cast("int").alias("shard"),
        F.col(len_col).cast("long").alias("len"),
    )
    schema = f"{id_col} long, shard int, pack_id long, offset long, len long"
    return fold_groups(
        src, "shard", id_col, "len", capacity, schema, guard, cursors
    )


def _pack_sums(values, pack_ids):
    """Per-pack sums of ``values`` for a cursor-less :func:`next_fit`."""
    return np.add.reduceat(values, np.flatnonzero(np.diff(pack_ids, prepend=-1)))


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    len_col: str = "n_words",
    capacity: int = 256,
    n_shards: int | None = 4,
    max_rows_per_shard: int = 50_000_000,
) -> DataFrame:
    """Greedy no-split sequence packing (the training-batch "packing" step:
    concatenate whole documents into fixed-capacity token buffers).

    Documents are sharded by ``id % n_shards`` and packed within each
    shard in id order: a doc joins the current pack if it fits, else opens
    the next pack (a doc longer than ``capacity`` gets a pack to itself).
    Returns (id, shard, pack_id, offset, len) — pack_id is per-shard.

    The fold is inherently sequential per shard, so this is a grouped-map
    ``applyInPandas`` kernel: each shard's rows arrive as one pandas frame,
    fold through :func:`next_fit`, and shards pack in parallel.
    At 100 TB, ``n_shards`` is sized to executor parallelism (thousands) —
    packing quality is unaffected because packs never span shards by
    construction, and determinism is exact: the same (id, len) set packs
    identically on any cluster shape. Global (unsharded) packing of a
    distributed corpus is not parallelizable without changing semantics.

    The per-shard pandas frame is (id, len)-narrow but must still FIT in
    one task: ``n_shards=None`` auto-derives the shard count from a corpus
    count so shards hold ~``max_rows_per_shard`` rows (~1.2 GB of Arrow at
    the default); an explicit ``n_shards`` that would exceed the bound
    raises with sizing guidance instead of OOM-ing an executor mid-job.
    """
    if n_shards is None:
        n_rows = df.count()
        n_shards = max(1, -(-n_rows // max_rows_per_shard))
    else:
        # one partial-agg pass; catches the caller who left the default 4
        # on a corpus where id%4 funnels billions of rows into one task
        biggest = (
            df.groupBy((F.col(id_col) % n_shards).cast("int"))
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n").alias("mx"))
            .collect()[0]["mx"]
        )
        if biggest is not None and biggest > max_rows_per_shard:
            raise ValueError(
                f"pack_sequences: largest shard holds {biggest} rows > "
                f"max_rows_per_shard={max_rows_per_shard}; raise n_shards "
                f"to ~corpus_rows/{max_rows_per_shard} (or pass "
                f"n_shards=None to auto-derive) so each shard's pandas "
                f"frame fits in one task"
            )

    guard = (max_rows_per_shard, "max_rows_per_shard", "pack_sequences")
    return pack_shards(df, id_col, len_col, capacity, n_shards, guard)


def pack_sequences_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    len_expr: str = "len(string_split(text, ' '))",
    capacity: int = 256,
    n_shards: int = 4,
    extra_ctes: str = "",
) -> str:
    """DuckDB twin of :func:`pack_sequences`: the same greedy fold as a
    recursive CTE stepping through each shard's rows in id order.
    ``extra_ctes`` ("name AS (...), ..." fragments, trailing comma
    included) are spliced into the WITH RECURSIVE prologue so ``table``
    can be a CTE produced by upstream pipeline stages."""
    return f"""
      WITH RECURSIVE {extra_ctes} src AS (
        SELECT {id_col},
               CAST({id_col} % {n_shards} AS INTEGER) AS shard,
               CAST({len_expr} AS BIGINT) AS len,
               row_number() OVER (
                 PARTITION BY {id_col} % {n_shards} ORDER BY {id_col}
               ) AS rn
        FROM {table}
      ),
      packed AS (
        SELECT {id_col}, shard, len, rn,
               CAST(0 AS BIGINT) AS pack_id, CAST(0 AS BIGINT) AS "offset"
        FROM src WHERE rn = 1
        UNION ALL
        SELECT s.{id_col}, s.shard, s.len, s.rn,
               CASE WHEN p."offset" + p.len + s.len <= {capacity}
                    THEN p.pack_id ELSE p.pack_id + 1 END,
               CASE WHEN p."offset" + p.len + s.len <= {capacity}
                    THEN p."offset" + p.len ELSE 0 END
        FROM src s JOIN packed p
          ON s.shard = p.shard AND s.rn = p.rn + 1
      )
      SELECT {id_col}, shard, pack_id, "offset", len FROM packed
    """


# ------------------------------------------- unigram LM quality scoring ----


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Model-based quality scoring with a corpus-fit unigram LM: score each
    document by the mean log-probability of its words under the corpus'
    own unigram distribution (low score = unusual/garbled text — the
    classic cheap stand-in for perplexity filtering before a real LM is
    available).

    Two aggregations fit the "model" (term counts + corpus total); scoring
    is a broadcast join of the vocabulary onto the exploded words and one
    mean per doc. The vocabulary is vocabulary-sized (not corpus-sized),
    so the broadcast holds to very large corpora; above that, the join
    degrades gracefully to a shuffle join on term. Per-term log values are
    rounded to 9 digits before the order-independent decimal-sum so the
    score is reproducible cross-engine.
    """
    terms = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    ).filter(F.col("term") != "")
    vocab = terms.groupBy("term").agg(
        F.count("*").cast("long").alias("cnt")
    )
    total = vocab.agg(F.sum("cnt").cast("long").alias("total"))
    scored = (
        terms.join(F.broadcast(vocab), "term")
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            F.round(
                F.log(F.col("cnt") / F.col("total")), 9
            ).cast("decimal(30,15)").alias("lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_terms"),
        F.round(
            F.sum("lp").cast("double") / F.count("*"), 6
        ).alias("mean_logprob"),
    )


def unigram_logprob_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    return f"""
      WITH terms AS (
        SELECT {id_col}, unnest(string_split({text_col}, ' ')) AS term
        FROM {table}
      ),
      t AS (SELECT * FROM terms WHERE term <> ''),
      vocab AS (
        SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY term
      ),
      tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab)
      SELECT t.{id_col} AS {id_col},
             CAST(count(*) AS BIGINT) AS n_terms,
             round(CAST(sum(CAST(round(ln(CAST(vocab.cnt AS DOUBLE) / tot.total), 9)
                                 AS DECIMAL(30,15))) AS DOUBLE)
                   / count(*), 6) AS mean_logprob
      FROM t JOIN vocab USING (term), tot
      GROUP BY t.{id_col}
    """


# ----------------------------------------------------- per-group quotas ----


def quota_per_group(
    df: DataFrame,
    group_col: str,
    order_col: str,
    n: int,
    id_col: str = "doc_id",
    ascending: bool = False,
) -> DataFrame:
    """Keep at most ``n`` rows per group, best-first by ``order_col`` with
    ``id_col`` as the deterministic tie-break — the per-source /
    per-domain quota step of corpus curation (cap any one source's share,
    keep its best documents).

    One window top-n per group; rank keys are (order_col, id) so the
    frontier is total-ordered and reproducible. At 100 TB this is the
    standard two-phase top-n: Catalyst pushes a per-partition local limit
    before the single group shuffle.
    """
    from pyspark.sql import Window

    oc = F.col(order_col).asc() if ascending else F.col(order_col).desc()
    w = Window.partitionBy(group_col).orderBy(oc, F.col(id_col).asc())
    return (
        df.withColumn("quota_rank", F.row_number().over(w))
        .filter(F.col("quota_rank") <= n)
    )


# -------------------------------------- span-level exact substring dedup ----


def dedup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 8,
) -> DataFrame:
    """Corpus-level exact span dedup (the paragraph-dedup step of Lee et
    al., "Deduplicating Training Data Makes Language Models Better",
    applied at fixed word-span granularity): split every document into
    non-overlapping ``size``-word spans, keep only the FIRST occurrence of
    each distinct span corpus-wide (first = smallest (doc, position)), and
    reassemble each document from its surviving spans.

    Returns one row per input document: total span count, kept span
    count, and the deduplicated text (possibly empty when every span of a
    document appeared earlier in the corpus).

    100 TB shape: first-occurrence selection is a ``min(struct(id, pos))``
    aggregation on the span hash — partial-aggregatable, so boilerplate
    spans repeated 10^8 times collapse map-side instead of flooding one
    reducer (a row_number window over the span key would do exactly
    that). The join back is an equi-join on the hash; AQE skew-join
    splitting handles residual hot spans. Reassembly is a per-document
    ``collect_list`` — bounded by document size, not corpus size.
    """
    spans = chunk_spans(
        df, id_col=id_col, text_col=text_col, size=size, overlap=0
    ).select(id_col, "chunk_id", "chunk_text")
    spans = spans.withColumn("_h", F.md5(F.col("chunk_text")))
    firsts = spans.groupBy("_h").agg(
        F.min(
            F.struct(
                F.col(id_col).alias("i"), F.col("chunk_id").alias("c")
            )
        ).alias("_first")
    )
    joined = spans.join(firsts, "_h")
    keep = (F.col(id_col) == F.col("_first.i")) & (
        F.col("chunk_id") == F.col("_first.c")
    )
    return joined.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_spans"),
        F.sum(keep.cast("int")).cast("long").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            keep,
                            F.struct(
                                F.col("chunk_id"), F.col("chunk_text")
                            ),
                        )
                    )
                ),
                lambda x: x["chunk_text"],
            ),
        ).alias("text_dedup"),
    )


def dedup_spans_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 8,
) -> str:
    """DuckDB twin of :func:`dedup_spans` (groups by the span text itself
    where Spark groups by its md5 — identical absent md5 collisions, the
    same equivalence the exact-dedup oracle already relies on)."""
    inner = chunk_spans_sql(
        table, id_col=id_col, text_col=text_col, size=size, overlap=0
    )
    return f"""
      WITH s AS (
        SELECT {id_col}, chunk_id, chunk_text FROM ({inner})
      ),
      r AS (
        SELECT *, row_number() OVER (
          PARTITION BY chunk_text ORDER BY {id_col}, chunk_id) AS rk
        FROM s
      )
      SELECT {id_col},
             CAST(count(*) AS BIGINT) AS n_spans,
             CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             coalesce(string_agg(CASE WHEN rk = 1 THEN chunk_text END,
                                 ' ' ORDER BY chunk_id), '')
               AS text_dedup
      FROM r GROUP BY {id_col}
    """


# ------------------------------------------------- token-budget selection ----


def token_budget_select(
    df: DataFrame,
    group_col: str,
    order_col: str,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Select documents per group, best-first, until a token budget is
    exhausted: order each group by (``order_col`` DESC, id ASC), keep the
    prefix whose running token total stays within ``budget``.

    This is the "fill each source's token allowance with its best
    documents" curation step (token-budget mixing). Token count is the
    whitespace word count (integer), the running total an exact window
    sum — integer keys end to end, so the kept set is total-ordered and
    reproducible on any engine or cluster shape.

    Adds ``n_tok`` and ``cum_tok`` to the input columns. One shuffle on
    the group key; the per-group sort is the op's semantics (a running
    total needs an order). Groups are strata (sources/languages), so
    group count is small and per-group data large — exactly the shape
    Spark's external sort handles.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(order_col).desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn(
            "n_tok", F.size(F.split(F.col(text_col), " ")).cast("int")
        )
        .withColumn("cum_tok", F.sum("n_tok").over(w).cast("long"))
        .filter(F.col("cum_tok") <= budget)
    )


def token_budget_select_sql(
    table: str,
    group_col: str,
    order_col: str,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_cols: str = "doc_id, source",
) -> str:
    """DuckDB twin of :func:`token_budget_select`. ``out_cols`` must
    include ``order_col``, ``id_col``, and ``group_col`` (the window
    references them by name)."""
    return f"""
      WITH t AS (
        SELECT {out_cols},
               CAST(len(string_split({text_col}, ' ')) AS INTEGER) AS n_tok
        FROM {table}
      )
      SELECT {out_cols}, n_tok,
             CAST(sum(n_tok) OVER (
               PARTITION BY {group_col}
               ORDER BY {order_col} DESC, {id_col} ASC
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
      FROM t QUALIFY cum_tok <= {budget}
    """


# --------------------------------------------- temperature-based resample ----


def temperature_resample(
    df: DataFrame,
    strata_col: str,
    temperature: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-scaled stratum rebalancing by deterministic
    subsampling: sample stratum g at rate (n_min / n_g)^(1 - 1/T) — the
    multilingual-corpus rebalancing rule (q_g ∝ p_g^(1/T)) realized
    without upsampling, anchored so the smallest stratum keeps rate 1.

    T = 1 keeps everything (rates 1); T → ∞ equalizes strata to the
    smallest one's size (in expectation); 1 < T < ∞ flattens the skew
    partway. T < 1 would require upsampling — rates cap at 1, i.e.
    keep-all, documented not silent.

    Determinism at scale: the keep decision is the same md5-prefix
    threshold as :func:`hash_sample`, but with the per-stratum threshold
    DERIVED IN-PLAN from stratum counts (one tiny count aggregate,
    broadcast back) — a resumed or re-partitioned job keeps the same
    rows. The float rate is rounded to 6 digits and the hex threshold is
    computed in exact decimal arithmetic from it, so the cut is
    reproducible cross-engine. Adds ``rate`` as a report column.
    """
    if temperature < 1.0:
        raise ValueError(
            "temperature < 1 means upsampling; this operator only "
            "subsamples (rates would cap at 1 = keep-all)"
        )
    exp = 1.0 - 1.0 / temperature
    counts = df.groupBy(strata_col).agg(
        F.count("*").cast("long").alias("_n_g")
    )
    nmin = counts.agg(F.min("_n_g").alias("_n_min"))
    rates = (
        counts.crossJoin(F.broadcast(nmin))
        .withColumn(
            "rate",
            F.round(F.pow(F.col("_n_min") / F.col("_n_g"), exp), 6),
        )
        .withColumn(
            "_t",
            F.floor(
                F.col("rate").cast("decimal(18,6)") * 65536
            ).cast("long"),
        )
        .withColumn(
            "_thr",
            F.when(F.col("_t") >= 65536, F.lit("g")).otherwise(
                F.lpad(F.lower(F.hex(F.col("_t"))), 4, "0")
            ),
        )
        .select(strata_col, "rate", "_thr")
    )
    return (
        df.join(F.broadcast(rates), strata_col)
        .filter(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 4)
            < F.col("_thr")
        )
        .drop("_thr")
    )


def temperature_resample_sql(
    table: str,
    strata_col: str,
    temperature: float,
    id_col: str = "doc_id",
    out_cols: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`temperature_resample` (same rounded-rate →
    exact-decimal → hex-threshold pipeline; BIGINT division cast to
    DOUBLE to match Spark's true division)."""
    exp = 1.0 - 1.0 / temperature
    return f"""
      WITH counts AS (
        SELECT {strata_col}, CAST(count(*) AS BIGINT) AS n_g
        FROM {table} GROUP BY {strata_col}
      ),
      m AS (SELECT min(n_g) AS n_min FROM counts),
      rates AS (
        SELECT {strata_col},
               round(pow(CAST(n_min AS DOUBLE) / n_g, {exp!r}), 6) AS rate,
               CAST(floor(
                 CAST(round(pow(CAST(n_min AS DOUBLE) / n_g, {exp!r}), 6)
                      AS DECIMAL(18,6)) * 65536) AS BIGINT) AS t
        FROM counts, m
      )
      SELECT {out_cols}, rate
      FROM {table} d JOIN rates r USING ({strata_col})
      WHERE substr(md5(CAST(d.{id_col} AS VARCHAR)), 1, 4) <
            (CASE WHEN r.t >= 65536 THEN 'g' ELSE printf('%04x', r.t) END)
    """


# --------------------------------------------------- pack materialization ----


def materialize_packs(
    packed: DataFrame,
    encoded: DataFrame,
    id_col: str = "doc_id",
    eod_id: int = -2,
) -> DataFrame:
    """Materialize packed training sequences: join pack assignments
    (from :func:`pack_sequences`) with encoded documents (from
    ``encode_tokens``) and concatenate each pack's token-id sequences in
    offset order, every document followed by the ``eod_id`` separator —
    the final pre-training batch artifact.

    Returns (shard, pack_id, n_docs, n_tokens, token_ids) with the pack
    sequence serialized as a comma string (n_tokens counts the EOD
    separators; a writer keeps the array form). One equi-join on the doc
    id and one per-pack re-aggregation; packs are bounded by capacity, so
    the collect_list is capacity-sized, never corpus-sized.
    """
    joined = packed.join(
        encoded.select(id_col, "token_ids"), id_col
    )
    return joined.groupBy("shard", "pack_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        (F.sum("len") + F.count("*")).cast("long").alias("n_tokens"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("offset"), F.col("token_ids"))
                    )
                ),
                lambda x: F.concat(
                    x["token_ids"], F.lit(f",{eod_id}")
                ),
            ),
        ).alias("token_ids"),
    )


def materialize_packs_sql(
    packs_cte: str,
    enc_cte: str,
    id_col: str = "doc_id",
    eod_id: int = -2,
) -> str:
    """DuckDB twin of :func:`materialize_packs` given the names of two
    CTEs: ``packs_cte`` (id, shard, pack_id, offset, len) and
    ``enc_cte`` (id, n_tok, token_ids)."""
    return f"""
      SELECT p.shard, p.pack_id,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(p.len) + count(*) AS BIGINT) AS n_tokens,
             string_agg(e.token_ids || ',{eod_id}', ','
                        ORDER BY p."offset") AS token_ids
      FROM {packs_cte} p JOIN {enc_cte} e USING ({id_col})
      GROUP BY p.shard, p.pack_id
    """


# --------------------------------------------------- train/val/test split ----


def split_corpus(
    df: DataFrame,
    key_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    split_col: str = "split",
) -> DataFrame:
    """Deterministic holdout split: assign each row to a named split by
    which md5-prefix range its key hashes into (cumulative thresholds on
    the first 4 hex chars, 1/65536 granularity).

    The property that matters: the SAME document lands in the SAME split
    on every run, every cluster shape, every corpus snapshot — so a later
    re-crawl can never leak a test document into train. Pure codegen
    filter-free projection (one CASE chain), no shuffle, no RNG.
    Split names are assigned in sorted-name order for reproducibility.
    """
    weights = weights or {"test": 0.05, "train": 0.9, "val": 0.05}
    total = sum(weights.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"weights must sum to 1, got {total}")
    bucket = F.substring(F.md5(F.col(key_col).cast("string")), 1, 4)
    expr = None
    cum = 0.0
    items = sorted(weights.items())
    for i, (name, w) in enumerate(items):
        cum += w
        if i == len(items) - 1:
            thr = "g"  # everything left (avoids float-sum edge at 1.0)
        else:
            thr = format(int(round(cum * 65536)), "04x")
        cond = bucket < F.lit(thr)
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    return df.withColumn(split_col, expr)


def split_corpus_sql(
    key_expr: str = "doc_id",
    weights: dict[str, float] | None = None,
) -> str:
    """CASE-expression twin of :func:`split_corpus` for the oracle."""
    weights = weights or {"test": 0.05, "train": 0.9, "val": 0.05}
    bucket = f"substr(md5(CAST({key_expr} AS VARCHAR)), 1, 4)"
    items = sorted(weights.items())
    cases, cum = [], 0.0
    for i, (name, w) in enumerate(items):
        cum += w
        thr = "g" if i == len(items) - 1 else format(
            int(round(cum * 65536)), "04x"
        )
        cases.append(f"WHEN {bucket} < '{thr}' THEN '{name}'")
    return "CASE " + " ".join(cases) + " END"


# ------------------------------------------------------- mixture report ----


def mixture_report(
    df: DataFrame,
    strata_col: str,
    targets: dict[str, float],
    text_col: str = "text",
) -> DataFrame:
    """Corpus composition vs a target mixture: per stratum, document and
    token counts, the achieved token share, the target share, and the
    achieved/target ratio — the audit table every mixing step ends with.

    Shares are exact-integer token sums divided as decimals and emitted
    ROUNDED as report columns (never compared or sorted on); strata
    missing a target get NULL target/ratio rather than being dropped.
    One partial-aggregatable groupBy + a broadcast of the target map.
    """
    toks = F.size(F.split(F.col(text_col), " ")).cast("long")
    per = df.groupBy(strata_col).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(toks).cast("long").alias("n_tokens"),
    )
    total = per.agg(F.sum("n_tokens").cast("long").alias("_total"))
    tgt = None
    for name, share in sorted(targets.items()):
        c = F.when(F.col(strata_col) == name, F.lit(share))
        tgt = c if tgt is None else F.coalesce(tgt, c)
    return (
        per.crossJoin(F.broadcast(total))
        .withColumn(
            "achieved_share",
            F.round(
                (
                    F.col("n_tokens").cast("decimal(30,10)")
                    / F.col("_total")
                ).cast("double"),
                6,
            ),
        )
        .withColumn("target_share", tgt)
        .withColumn(
            "ratio",
            F.round(F.col("achieved_share") / F.col("target_share"), 6),
        )
        .drop("_total")
    )


def mixture_report_sql(
    table: str,
    strata_col: str,
    targets: dict[str, float],
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`mixture_report`."""
    cases = " ".join(
        f"WHEN {strata_col} = '{k}' THEN CAST({v!r} AS DOUBLE)"
        for k, v in sorted(targets.items())
    )
    return f"""
      WITH per AS (
        SELECT {strata_col},
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(string_split({text_col}, ' '))) AS BIGINT)
                 AS n_tokens
        FROM {table} GROUP BY {strata_col}
      ),
      tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM per)
      SELECT {strata_col}, n_docs, n_tokens,
             round(CAST(CAST(n_tokens AS DECIMAL(30,10)) / total AS DOUBLE),
                   6) AS achieved_share,
             (CASE {cases} END) AS target_share,
             round(round(CAST(CAST(n_tokens AS DECIMAL(30,10)) / total
                              AS DOUBLE), 6)
                   / (CASE {cases} END), 6) AS ratio
      FROM per, tot
    """


# ------------------------------------------ bigram LM quality scoring ----


def word_ngrams(
    df: DataFrame, n: int, text_col: str = "text", id_col: str | None = None
) -> DataFrame:
    """Adjacent word n-grams of each document: ([id_col,] w1 .. wn), one
    row per position, single-space split. Documents with fewer than n
    split parts yield no rows; an n-gram with an empty word (from a
    double space) is dropped."""
    words = F.split(F.col(text_col), " ")
    size = F.size(words)
    cols = [f"w{j}" for j in range(1, n + 1)]
    zipped = F.arrays_zip(
        *[F.slice(words, j, size - (n - 1)).alias(c) for j, c in enumerate(cols, 1)]
    )
    ids = [id_col] if id_col else []
    grams = df.filter(size >= n).select(*ids, F.explode(zipped).alias("p"))
    nonempty = [F.col(c) != "" for c in cols]
    return grams.select(*ids, *[F.col(f"p.{c}").alias(c) for c in cols]).filter(
        functools.reduce(lambda a, b: a & b, nonempty)
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Conditional (bigram) LM quality score: mean log p(w_i | w_{i-1})
    under the corpus' own MLE bigram model — sharper than the unigram
    score at catching scrambled/unnatural word ORDER, which unigram
    statistics cannot see by construction.

    p(w2|w1) = c(w1 w2) / c_hist(w1), where the history count is over
    non-final positions, so every observed bigram has p <= 1 and the log
    is defined. Docs with fewer than 2 words have no bigrams and are
    absent from the output (documented). Two count aggregations fit the
    model; scoring joins them back (broadcast while they fit); per-pair
    logs are rounded then decimal-summed — order-independent equality.
    """
    pairs = word_ngrams(df, 2, text_col, id_col)
    bc = pairs.groupBy("w1", "w2").agg(
        F.count("*").cast("long").alias("c")
    )
    hc = pairs.groupBy("w1").agg(F.count("*").cast("long").alias("h"))
    scored = (
        pairs.join(F.broadcast(bc), ["w1", "w2"])
        .join(F.broadcast(hc), "w1")
        .select(
            id_col,
            F.round(F.log(F.col("c").cast("double") / F.col("h")), 9)
            .cast("decimal(30,15)")
            .alias("lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(
            F.sum("lp").cast("double") / F.count("*"), 6
        ).alias("mean_logprob"),
    )


def bigram_logprob_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`bigram_logprob`."""
    return f"""
      WITH w AS (
        SELECT {id_col}, string_split({text_col}, ' ') AS wrd
        FROM {table}
      ),
      z AS (
        SELECT {id_col},
               unnest(wrd[1 : len(wrd) - 1]) AS w1,
               unnest(wrd[2 : len(wrd)]) AS w2
        FROM w WHERE len(wrd) >= 2
      ),
      t AS (SELECT * FROM z WHERE w1 <> '' AND w2 <> ''),
      bc AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
        FROM t GROUP BY w1, w2
      ),
      hc AS (SELECT w1, CAST(count(*) AS BIGINT) AS h FROM t GROUP BY w1)
      SELECT t.{id_col} AS {id_col},
             CAST(count(*) AS BIGINT) AS n_bigrams,
             round(CAST(sum(CAST(round(ln(CAST(bc.c AS DOUBLE) / hc.h), 9)
                                 AS DECIMAL(30,15))) AS DOUBLE)
                   / count(*), 6) AS mean_logprob
      FROM t JOIN bc USING (w1, w2) JOIN hc USING (w1)
      GROUP BY t.{id_col}
    """


# ------------------------------------------------ shard export manifest --


def shard_manifest(mat: DataFrame) -> DataFrame:
    """Integrity manifest over materialized packs (the export-side
    bookkeeping a distributed training job reads instead of trusting the
    writer): per shard, pack/doc/token counts plus an order-independent
    exact-integer content fingerprint (sum of the md5-prefix hash of each
    pack's serialized token stream — the engine-portable word_hash). Any
    lost, duplicated, or corrupted pack changes the fingerprint; a reader
    re-derives the manifest from the written files and compares (see
    :func:`write_shards` and its round-trip test). One
    partial-aggregatable groupBy over pack-level rows — shard-cardinality
    output at any corpus size."""
    from bistro_spark.operators.dedup import word_hash

    return mat.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_packs"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum(word_hash(F.col("token_ids"))).cast("long").alias("content_fp"),
    )


def shard_manifest_sql(mat_table: str) -> str:
    """DuckDB twin of :func:`shard_manifest` over a materialized-packs
    relation (typically the materialize_packs_sql CTE)."""
    from bistro_spark.operators.dedup import word_hash_sql

    fp = word_hash_sql("token_ids")
    return f"""
      SELECT shard,
             CAST(count(*) AS BIGINT) AS n_packs,
             CAST(sum(n_docs) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
             CAST(sum({fp}) AS BIGINT) AS content_fp
      FROM {mat_table}
      GROUP BY shard
    """


def write_shards(mat: DataFrame, path: str) -> DataFrame:
    """Write materialized packs as one directory per shard
    (``shard=<n>/*.parquet`` — the layout a data-parallel trainer maps
    to ranks) and return the manifest computed from the INPUT. The
    round-trip contract: re-reading the written dataset and re-deriving
    :func:`shard_manifest` must reproduce this manifest exactly —
    lossless export, partitioning- and order-independent."""
    manifest = shard_manifest(mat)
    mat.write.mode("overwrite").partitionBy("shard").parquet(path)
    return manifest


# ----------------------------------------------------- filter funnel ----
# Every production curation pipeline publishes a drop-attribution report:
# how many documents each gate removed, counted against an ORDERED rule
# list (a document is charged to the FIRST rule it fails, so the numbers
# sum to the corpus and survivors are everything else). One scan, one
# partial-agg exchange, output bounded by #rules — the audit artifact a
# 100 TB run prints before anyone trains on the output.

FUNNEL_MIN_CHARS = 60
FUNNEL_BLOCKLIST = [" dup "]
FUNNEL_LANGS = ["en", "es", "fr"]
FUNNEL_MIN_QUALITY = 1.05


def filter_funnel(
    df: DataFrame, text_col: str = "text", lang_col: str = "lang"
) -> DataFrame:
    """Ordered-gate attribution report over the standard curation rules
    (length floor, word blocklist, language allowlist, quality floor).
    Attribution is a single CASE chain fused into the scan; the report agg
    is partial-aggregatable (count/sums), so each executor reduces its
    split to <= 5 rows before the one exchange."""
    from bistro_spark.operators.text import quality_score

    t = F.col(text_col)
    block = None
    for w in FUNNEL_BLOCKLIST:
        c = t.contains(w)
        block = c if block is None else (block | c)
    label = (
        F.when(F.length(t) < FUNNEL_MIN_CHARS, F.lit("too_short"))
        .when(block, F.lit("blocklist"))
        .when(~F.col(lang_col).isin(*FUNNEL_LANGS), F.lit("wrong_lang"))
        .when(quality_score(t) < FUNNEL_MIN_QUALITY, F.lit("low_quality"))
        .otherwise(F.lit("kept"))
    )
    order = (
        F.when(label == "too_short", 1)
        .when(label == "blocklist", 2)
        .when(label == "wrong_lang", 3)
        .when(label == "low_quality", 4)
        .otherwise(0)
    )
    from bistro_spark.operators.text import word_count

    return (
        df.select(
            label.alias("rule"),
            order.alias("rule_order"),
            F.length(t).alias("_nc"),
            word_count(t).alias("_nw"),
        )
        .groupBy("rule", "rule_order")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nc").alias("n_chars_total"),
            F.sum(F.col("_nw").cast("long")).alias("n_words_total"),
        )
    )


def filter_funnel_sql(
    table: str = "documents", text_expr: str = "text", lang_expr: str = "lang"
) -> str:
    """The identical funnel as DuckDB SQL (same rule order, same
    quality formula via text.quality_score_sql)."""
    from bistro_spark.operators.text import quality_score_sql

    block = " OR ".join(
        f"{text_expr} LIKE '%{w}%'" for w in FUNNEL_BLOCKLIST
    )
    langs = ", ".join(f"'{x}'" for x in FUNNEL_LANGS)
    label = f"""
      CASE WHEN length({text_expr}) < {FUNNEL_MIN_CHARS} THEN 'too_short'
           WHEN {block} THEN 'blocklist'
           WHEN {lang_expr} NOT IN ({langs}) THEN 'wrong_lang'
           WHEN ({quality_score_sql(text_expr)}) < {FUNNEL_MIN_QUALITY}
             THEN 'low_quality'
           ELSE 'kept' END"""
    return f"""
      WITH labeled AS (
        SELECT {label} AS rule,
               length({text_expr}) AS _nc,
               len(string_split({text_expr}, ' ')) AS _nw
        FROM {table})
      SELECT rule,
             CASE rule WHEN 'too_short' THEN 1 WHEN 'blocklist' THEN 2
                       WHEN 'wrong_lang' THEN 3 WHEN 'low_quality' THEN 4
                       ELSE 0 END AS rule_order,
             count(*) AS n_docs,
             CAST(sum(_nc) AS BIGINT) AS n_chars_total,
             CAST(sum(_nw) AS BIGINT) AS n_words_total
      FROM labeled GROUP BY rule
    """


# ----------------------------------------------- packing efficiency ----
def pack_stats(mat: DataFrame, capacity: int) -> DataFrame:
    """Packing-efficiency report over materialized packs: per shard, how
    full the fixed-capacity training sequences actually are. Greedy
    packing trades fragmentation for a single pass — this is the audit
    that says what that trade cost (every wasted slot is a padding token
    the trainer pays attention-FLOPs for).

    Payload = n_tokens - n_docs (materialize_packs counts one EOD
    separator per document; capacity budgets payload only). One
    partial-aggregatable groupBy over pack-level rows — shard-cardinality
    output at any corpus size; fill_ratio is a round-6 report column,
    never a key."""
    payload = F.col("n_tokens") - F.col("n_docs")
    return mat.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_packs"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum(payload).cast("long").alias("payload_tokens"),
        (F.count(F.lit(1)) * capacity - F.sum(payload))
        .cast("long")
        .alias("waste_tokens"),
        F.min(payload).cast("long").alias("min_pack_fill"),
        F.max(payload).cast("long").alias("max_pack_fill"),
        F.round(
            F.sum(payload) / (F.count(F.lit(1)) * F.lit(float(capacity))), 6
        ).alias("fill_ratio"),
    )


def pack_stats_sql(mat_table: str, capacity: int) -> str:
    """DuckDB twin of :func:`pack_stats` over a materialized-packs
    relation (typically the materialize_packs_sql CTE)."""
    return f"""
      SELECT shard,
             CAST(count(*) AS BIGINT) AS n_packs,
             CAST(sum(n_docs) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens - n_docs) AS BIGINT) AS payload_tokens,
             CAST(count(*) * {capacity} - sum(n_tokens - n_docs)
                  AS BIGINT) AS waste_tokens,
             CAST(min(n_tokens - n_docs) AS BIGINT) AS min_pack_fill,
             CAST(max(n_tokens - n_docs) AS BIGINT) AS max_pack_fill,
             round(sum(n_tokens - n_docs)
                   / (count(*) * CAST({capacity} AS DOUBLE)), 6) AS fill_ratio
      FROM {mat_table}
      GROUP BY shard
    """


# ------------------------------------------------------ manifest diff ----
def manifest_diff(old: DataFrame, new: DataFrame, key: str = "shard") -> DataFrame:
    """Cross-version manifest comparison — the incremental-training
    artifact: given the integrity manifests of two corpus versions
    (:func:`shard_manifest` outputs), report per shard whether it is
    added / removed / changed / unchanged plus the token delta, so a
    trainer re-reads ONLY the shards whose content fingerprint moved.

    Both sides are shard-cardinality (already reduced from corpus scale
    by the manifest agg), so the full-outer equi-join is dim-sized at any
    corpus size; AQE broadcasts it."""
    keep = [c for c in old.columns if c != key]
    o = old.select(key, *[F.col(c).alias(f"old_{c}") for c in keep])
    n = new.select(key, *[F.col(c).alias(f"new_{c}") for c in keep])
    j = o.join(n, key, "full_outer")
    status = (
        F.when(F.col("old_content_fp").isNull(), F.lit("added"))
        .when(F.col("new_content_fp").isNull(), F.lit("removed"))
        .when(
            F.col("old_content_fp") != F.col("new_content_fp"),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    zero = F.lit(0).cast("long")
    return j.select(
        key,
        status.alias("status"),
        F.coalesce(F.col("old_n_tokens"), zero).alias("old_n_tokens"),
        F.coalesce(F.col("new_n_tokens"), zero).alias("new_n_tokens"),
        (
            F.coalesce(F.col("new_n_tokens"), zero)
            - F.coalesce(F.col("old_n_tokens"), zero)
        ).alias("token_delta"),
    )


def store_manifest(manifest: DataFrame, path: str) -> None:
    """Persist a shard manifest snapshot (parquet, overwrite). The
    manifest is shard-cardinality, so the snapshot is KB-sized at any
    corpus scale — this is the artifact a versioned corpus keeps per
    release so later diffs never re-run the encode→pack pipeline for
    historical versions."""
    manifest.write.mode("overwrite").parquet(path)


def manifest_diff_stored(
    spark, path: str, new: DataFrame, key: str = "shard"
) -> DataFrame:
    """:func:`manifest_diff` against a STORED manifest snapshot: the old
    side is one manifest-sized parquet scan instead of a full
    encode→pack→materialize recompute of the previous corpus version —
    at 100 TB the difference between reading a few KB and re-tokenizing
    last month's corpus. Equality with the recomputed form is pinned by
    pytest (test_curation: stored-vs-recomputed)."""
    return manifest_diff(spark.read.parquet(path), new, key=key)


def manifest_diff_sql(
    old_table: str, new_table: str, key: str = "shard"
) -> str:
    """DuckDB twin of :func:`manifest_diff` over two manifest relations."""
    return f"""
      SELECT coalesce(o.{key}, n.{key}) AS {key},
             CASE WHEN o.content_fp IS NULL THEN 'added'
                  WHEN n.content_fp IS NULL THEN 'removed'
                  WHEN o.content_fp <> n.content_fp THEN 'changed'
                  ELSE 'unchanged' END AS status,
             CAST(coalesce(o.n_tokens, 0) AS BIGINT) AS old_n_tokens,
             CAST(coalesce(n.n_tokens, 0) AS BIGINT) AS new_n_tokens,
             CAST(coalesce(n.n_tokens, 0) - coalesce(o.n_tokens, 0)
                  AS BIGINT) AS token_delta
      FROM {old_table} o FULL OUTER JOIN {new_table} n
        ON o.{key} = n.{key}
    """


# --------------------------------------- DSIR importance weighting ----
def _hashed_feats(text_col: str):
    """Word unigrams + adjacent bigrams (single-space split — the repo's
    portable tokenizer convention, same as text.classifier_score).

    Bigrams via zip_with over two slices of ONE split: an index-lambda
    formulation (transform(sequence(...), i -> split(..)[i])) re-splits
    the text per element — O(words²·len) per document; the slice pair
    evaluates the split once per row (measured 8× on the bench corpus,
    feature arrays bit-identical)."""
    words = F.split(F.col(text_col), " ")
    n = F.size(words)
    bigrams = F.when(
        n > 1,
        F.zip_with(
            F.slice(words, 1, n - 1),
            F.slice(words, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(words, bigrams)


def dsir_logweights(
    df: DataFrame,
    target_expr: str,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document by
    the log-likelihood ratio of its hashed n-gram features under a
    target-slice bag-of-words model vs the raw-corpus model —
    log w(x) = Σ_f [ln p_target(bucket(f)) − ln p_raw(bucket(f))].
    High log_importance = "looks like the target distribution"; the
    weights drive importance resampling of the raw corpus toward the
    target mixture (``target_expr`` is a boolean SQL predicate naming
    the target slice, e.g. ``lang = 'en'``).

    100 TB shape, two passes both map-heavy:
    (1) FIT — explode hashed features once, ONE partial-aggregated
        groupBy down to ``n_buckets`` rows (the hashed model is
        fixed-size by construction — DSIR's whole trick), collect B rows
        driver-side (dimension-sized by contract, like the IVF fit).
    (2) SCORE — zero shuffle, zero Python: the B-entry log-ratio table
        ships as a literal array into one Catalyst map stage
        (aggregate() HOF over the feature array, md5 dominates).
    Float discipline: per-bucket log-ratio is frozen to an INTEGER
    (round-9 × 10⁹) so the per-doc sum is exact and order-independent;
    the only floats are the two ln() at fit time (round-9 absorbs libm
    ulp skew — repo standard) and the final round(…, 6) report column.

    Returns (id, is_target, n_feats, log_importance).
    """
    scored = _dsir_scored(df, target_expr, n_buckets, id_col, text_col)
    return scored.select(
        id_col,
        "is_target",
        "n_feats",
        F.round(F.col("_wsum") / F.lit(1_000_000_000.0), 6).alias("log_importance"),
    )


def _dsir_scored(
    df: DataFrame,
    target_expr: str,
    n_buckets: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Shared DSIR core: fit the integer-frozen bucket log-ratio table,
    return (id, is_target, n_feats, _wsum) with ``_wsum`` the exact
    BIGINT feature-sum of round-9 × 10⁹ log-ratios."""
    counts = {
        int(r["b"]): (int(r["tc"]), int(r["sc"]))
        for r in dsir_bucket_counts(df, target_expr, n_buckets, text_col).collect()
    }
    llr = dsir_llr(counts, n_buckets)
    return dsir_apply(df, llr, target_expr, id_col, text_col)


def dsir_bucket_counts(
    df: DataFrame, target_expr: str, n_buckets: int, text_col: str = "text"
) -> DataFrame:
    """DSIR's sufficient statistics: per hash bucket, the target-slice
    and raw-corpus feature counts — ONE partial-aggregated pass down to
    ``n_buckets`` rows. ADDITIVE across corpus splits (they are plain
    counts), which is what makes the exact streaming twin
    (`streaming.dsir`) possible with O(n_buckets) state."""
    B = n_buckets
    bucket = (
        F.conv(F.substring(F.md5(F.col("_t")), 1, 8), 16, 10).cast("bigint") % B
    )
    return (
        df.select(
            F.expr(target_expr).alias("_tgt"),
            F.explode(_hashed_feats(text_col)).alias("_t"),
        )
        .select(bucket.alias("b"), "_tgt")
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("_tgt"), 1).otherwise(0)).cast("long").alias("tc"),
            F.sum(F.when(F.col("_tgt"), 0).otherwise(1)).cast("long").alias("sc"),
        )
    )


def dsir_llr(counts: dict[int, tuple[int, int]], n_buckets: int) -> list[int]:
    """Freeze the bucket log-likelihood-ratio table to integers
    (round-9 × 10⁹): llr[b] = ln p̂_target(b) − ln p̂_raw(b), +1
    smoothing. Deterministic given the counts — any engine / cluster
    shape reproduces the same table."""
    import math

    B = n_buckets
    T = sum(tc for tc, _ in counts.values())
    S = sum(sc for _, sc in counts.values())
    llr = [0] * B
    for b in range(B):
        tc, sc = counts.get(b, (0, 0))
        x = math.log((tc + 1) / (T + B)) - math.log((sc + 1) / (S + B))
        llr[b] = int(round(x * 1_000_000_000))
    return llr


def dsir_apply(
    df: DataFrame,
    llr: list[int],
    target_expr: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score ``df`` under a frozen log-ratio table: zero shuffle, zero
    Python — the B-entry table ships as a literal array into one
    Catalyst map stage (aggregate() HOF over the feature array)."""
    B = len(llr)
    # cast every element: |llr| can exceed int32 (ln ratios × 10⁹), and a
    # mixed int/long literal array fails to resolve
    arr = F.array([F.lit(v).cast("bigint") for v in llr])
    feats = _hashed_feats(text_col)
    scored = df.select(
        F.col(id_col),
        F.expr(target_expr).alias("is_target"),
        feats.alias("_feats"),
    ).select(
        id_col,
        "is_target",
        F.size("_feats").cast("int").alias("n_feats"),
        F.aggregate(
            "_feats",
            F.lit(0).cast("bigint"),
            lambda acc, t: acc
            + F.element_at(
                arr,
                (
                    F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint") % B
                    + 1
                ).cast("int"),
            ),
        ).alias("_wsum"),
    )
    return scored


def dsir_select(
    df: DataFrame,
    target_expr: str,
    n: int,
    temperature: float = 1.0,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR's resampling half: pick ``n`` RAW documents (the target
    slice itself is excluded — it defined the distribution) with the
    Gumbel-top-k trick, which draws WITHOUT replacement proportionally
    to w(x)^(1/temperature): key = log w / T + Gumbel(0,1), take the n
    largest. The Gumbel noise is DETERMINISTIC — u from the doc id's
    md5 (same id ⇒ same draw on any cluster shape / retry), g =
    −ln(−ln(u)) — so a resumed 100 TB job selects the SAME corpus.

    Float discipline for the oracle: the sort key is an exact BIGINT —
    round(wsum/T) + round(g × 10⁹) — never a raw double (two libm ulp
    skews cannot reorder an integer key; the rounds absorb them). The
    top-n is a TakeOrderedAndProject (per-partition heads merged on the
    driver), never a full global sort.

    Returns (id, n_feats, log_importance, sample_key), the selected n.
    """
    s = _dsir_scored(df, target_expr, n_buckets, id_col, text_col).filter(
        ~F.col("is_target")
    )
    u = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("bigint")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    g_int = F.round(-F.log(-F.log(u)) * F.lit(1_000_000_000.0), 0).cast("bigint")
    key = (
        F.round(F.col("_wsum") / F.lit(float(temperature)), 0).cast("bigint")
        + g_int
    )
    return (
        s.select(
            id_col,
            "n_feats",
            F.round(F.col("_wsum") / F.lit(1_000_000_000.0), 6).alias(
                "log_importance"
            ),
            key.alias("sample_key"),
        )
        .orderBy(F.col("sample_key").desc(), F.col(id_col))
        .limit(n)
    )


def dsir_logweights_sql(
    table: str = "documents",
    target_expr: str = "lang = 'en'",
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`dsir_logweights` — the textbook exploded
    formulation: fit the bucket log-ratio table in a CTE (same
    integer-frozen round-9 × 10⁹ weights), join it back onto the
    exploded features, exact BIGINT sum per doc."""
    ctes = _dsir_scored_ctes(table, target_expr, n_buckets, id_col, text_col)
    return f"""
      WITH {ctes}
      SELECT {id_col}, is_target, n_feats,
             round(CAST(wsum AS DOUBLE) / 1000000000.0, 6) AS log_importance
      FROM scored
    """


def dsir_select_sql(
    table: str = "documents",
    target_expr: str = "lang = 'en'",
    n: int = 100,
    temperature: float = 1.0,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`dsir_select`: same exact-BIGINT perturbed
    key (round(wsum/T) + round(Gumbel(md5(id)) × 10⁹)), ORDER BY key
    DESC, id LIMIT n."""
    ctes = _dsir_scored_ctes(table, target_expr, n_buckets, id_col, text_col)
    return f"""
      WITH {ctes},
      keyed AS (
        SELECT {id_col}, n_feats,
               round(CAST(wsum AS DOUBLE) / 1000000000.0, 6)
                 AS log_importance,
               CAST(round(wsum / {float(temperature)}, 0) AS BIGINT)
               + CAST(round(-ln(-ln(
                     (CAST(concat('0x',
                        substr(md5(CAST({id_col} AS VARCHAR)), 1, 8))
                        AS BIGINT) + 0.5) / 4294967296.0))
                     * 1000000000.0, 0) AS BIGINT) AS sample_key
        FROM scored WHERE NOT is_target)
      SELECT * FROM keyed
      ORDER BY sample_key DESC, {id_col}
      LIMIT {n}
    """


def _dsir_scored_ctes(
    table: str, target_expr: str, n_buckets: int, id_col: str, text_col: str
) -> str:
    """Shared CTE chain ending in ``scored(id, is_target, n_feats,
    wsum)`` — the SQL mirror of :func:`_dsir_scored`."""
    B = n_buckets
    return f"""f AS (
        SELECT {id_col}, ({target_expr}) AS is_target,
               string_split({text_col}, ' ') AS w
        FROM {table}),
      g AS (
        SELECT {id_col}, is_target,
               list_concat(
                 w,
                 list_transform(range(1, len(w)),
                                i -> w[i] || ' ' || w[i + 1])) AS feats
        FROM f),
      e AS (
        SELECT {id_col}, is_target,
               CAST(concat('0x', substr(md5(unnest(feats)), 1, 8)) AS BIGINT)
                 % {B} AS b
        FROM g),
      cnt AS (
        SELECT b,
               CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS tc,
               CAST(sum(CASE WHEN is_target THEN 0 ELSE 1 END) AS BIGINT) AS sc
        FROM e GROUP BY b),
      tot AS (SELECT CAST(sum(tc) AS BIGINT) AS t_tot,
                     CAST(sum(sc) AS BIGINT) AS s_tot FROM cnt),
      llr AS (
        SELECT b,
               CAST(round((ln((tc + 1.0) / (t_tot + {B}))
                           - ln((sc + 1.0) / (s_tot + {B})))
                          * 1000000000, 0) AS BIGINT) AS w
        FROM cnt, tot),
      scored AS (
        SELECT e.{id_col} AS {id_col},
               any_value(e.is_target) AS is_target,
               CAST(count(*) AS INTEGER) AS n_feats,
               CAST(sum(llr.w) AS BIGINT) AS wsum
        FROM e JOIN llr USING (b)
        GROUP BY e.{id_col})"""


# ------------------------------------------------- winsorized stats ----
def winsorized_stats(
    df: DataFrame,
    group_col: str = "source",
    len_col: str = "n_chars",
    lo_q: float = 0.05,
    hi_q: float = 0.95,
    exact: bool = True,
) -> DataFrame:
    """Outlier-robust per-group length report: clip each value at the
    group's own [lo_q, hi_q] quantiles, then report the winsorized mean
    next to the raw mean — the pair a curation dashboard compares to see
    how much of a source's token budget is tail.

    Determinism: quantiles are Spark exact ``percentile`` (== DuckDB
    ``quantile_cont`` bit-for-bit on integer inputs), ROUNDED to 6 before
    they become clip bounds, so every clipped value is either the original
    integer or a 6-decimal bound — exactly representable in
    ``decimal(30,6)``; sums are decimal (order-independent), means are one
    final round-6 division. ``exact=False`` swaps in the mergeable
    ``approx_percentile`` sketch — the 100 TB path (no per-group sort
    state), same schema.

    Two passes over the grouped data: bounds (one partial-agg groupBy),
    then a broadcast of the #groups-row bounds into the clip+sum pass.
    Returns (group, n, lo, hi, n_clipped_low, n_clipped_high, raw_mean,
    winsorized_mean)."""
    pfn = "percentile" if exact else "approx_percentile"
    x = F.col(len_col).cast("long")
    pcts = F.expr(f"{pfn}(_x, array({lo_q}D, {hi_q}D))")
    bounds = (
        df.select(F.col(group_col), x.alias("_x"))
        .groupBy(group_col)
        .agg(
            F.round(pcts[0].cast("double"), 6).alias("_lo"),
            F.round(pcts[1].cast("double"), 6).alias("_hi"),
        )
    )
    clipped = df.select(F.col(group_col), x.alias("_x")).join(
        F.broadcast(bounds), group_col
    )
    w = F.least(
        F.greatest(F.col("_x").cast("double"), F.col("_lo")), F.col("_hi")
    ).cast("decimal(30,6)")
    s = clipped.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("_lo").alias("lo"),
        F.max("_hi").alias("hi"),
        F.sum(
            F.when(F.col("_x") < F.col("_lo"), 1).otherwise(0)
        ).cast("long").alias("n_clipped_low"),
        F.sum(
            F.when(F.col("_x") > F.col("_hi"), 1).otherwise(0)
        ).cast("long").alias("n_clipped_high"),
        F.sum(F.col("_x")).cast("decimal(38,0)").alias("_sraw"),
        F.sum(w).cast("decimal(38,6)").alias("_sw"),
    )
    return s.select(
        group_col,
        "n",
        "lo",
        "hi",
        "n_clipped_low",
        "n_clipped_high",
        F.round(F.col("_sraw").cast("double") / F.col("n"), 6).alias(
            "raw_mean"
        ),
        F.round(F.col("_sw").cast("double") / F.col("n"), 6).alias(
            "winsorized_mean"
        ),
    )


def winsorized_stats_sql(
    table: str = "documents",
    group_col: str = "source",
    len_col: str = "n_chars",
    lo_q: float = 0.05,
    hi_q: float = 0.95,
) -> str:
    """DuckDB twin of :func:`winsorized_stats` (same round-6 bounds,
    same decimal sums)."""
    return f"""
      WITH bounds AS (
        SELECT {group_col} AS grp,
               round(CAST(quantile_cont({len_col}, {lo_q}) AS DOUBLE), 6)
                 AS lo,
               round(CAST(quantile_cont({len_col}, {hi_q}) AS DOUBLE), 6)
                 AS hi
        FROM {table} GROUP BY 1
      ),
      c AS (
        SELECT b.grp, CAST(t.{len_col} AS BIGINT) AS x, b.lo, b.hi,
               CAST(least(greatest(CAST(t.{len_col} AS DOUBLE), b.lo), b.hi)
                    AS DECIMAL(30,6)) AS w
        FROM {table} t JOIN bounds b ON b.grp = t.{group_col}
      )
      SELECT grp AS {group_col},
             CAST(count(*) AS BIGINT) AS n,
             max(lo) AS lo, max(hi) AS hi,
             CAST(sum(CASE WHEN x < lo THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_low,
             CAST(sum(CASE WHEN x > hi THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_high,
             round(CAST(CAST(sum(x) AS DECIMAL(38,0)) AS DOUBLE) / count(*), 6)
               AS raw_mean,
             round(CAST(CAST(sum(w) AS DECIMAL(38,6)) AS DOUBLE) / count(*), 6)
               AS winsorized_mean
      FROM c GROUP BY 1
    """


# ---------------------------------------------- Pareto-frontier select ----
def pareto_frontier(
    df: DataFrame,
    id_col: str = "doc_id",
    x: Column | None = None,
    y: Column | None = None,
    n_partitions: int | None = None,
    pins: set[int] | None = None,
) -> DataFrame:
    """Skyline (Pareto-frontier) selection over two maximized integer
    per-doc signals: keep every document no other document dominates
    (x' >= x AND y' >= y with at least one strict). Multi-criteria data
    selection without a weighting hack; equal-signal duplicates are
    mutually non-dominating and all survive. To MINIMIZE a signal,
    negate it. Default signals: x = distinct whitespace-word count
    (lexical diversity, maximized), y = NEGATED word count (token cost,
    minimized) — "the most diverse document at every length budget".

    100 TB shape — the naive NOT EXISTS is an O(n²) self-join, and the
    textbook sweep (sort by x desc, running max of y) is a GLOBAL window
    = single-reducer sort. This plan does neither:

    1. ONE partial-aggregated groupBy x -> max(y): the corpus collapses
       to its distinct-x level set (bounded by the x domain, << n).
    2. Strict-prefix max over x DESC on the LEVEL SET via the two-phase
       ``global_rank`` trick: range-partition by x, per-partition window
       (rows 1 preceding — exact strict prefix because levels are
       distinct on x), per-partition maxima collected (#partitions rows
       only) and suffix-maxed on the driver, broadcast back as a map.
    3. A level survives iff its max(y) strictly beats every y at greater
       x; survivors join back to docs on (x, y = max_y) — broadcastable,
       frontier <= level set.

    Dominance proof of the filter: survivors have y = max_y(x), so no
    same-x point beats them; max_y(x) > prefix_max means no greater-x
    point has y' >= y; smaller-x points never dominate. Exactly the
    skyline, in two data-sized shuffles (the level agg, the doc join) +
    one level-set-sized range shuffle.

    Storage lifecycle: the returned plan references a PINNED
    frontier-sized localCheckpoint. Call inside ``caching.pin_scope``
    (the contract/bench drivers do) or pass ``pins`` — a set the
    frontier's pin ids are added to — and ``caching.release`` it after
    the last consumer, or a long-lived session leaks one frontier-sized
    storage block per invocation.

    Returns (doc_id, x, y)."""
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    if x is None:
        x = F.size(F.array_distinct(words))
    if y is None:
        y = -F.size(words)
    pts = df.select(
        F.col(id_col),
        x.cast("long").alias("x"),
        y.cast("long").alias("y"),
    )
    from bistro_spark.caching import pin, release

    levels = pts.groupBy("x").agg(F.max("y").alias("max_y"))
    part, part_ids = pin(
        levels.repartitionByRange(
            *([n_partitions] if n_partitions else []), F.col("x")
        ).withColumn("_pid", F.spark_partition_id())
    )
    # per-partition max(max_y), suffix-maxed over HIGHER-x partitions
    pmax = {
        r["_pid"]: r["m"]
        for r in part.groupBy("_pid").agg(F.max("max_y").alias("m")).collect()
    }
    if not pmax:  # empty corpus -> empty frontier, schema intact
        release(df.sparkSession, part_ids)
        return pts.limit(0)
    suffix, best = {}, None
    for pid in sorted(pmax, reverse=True):  # higher pid = higher x range
        suffix[pid] = best  # strictly-higher partitions only
        best = pmax[pid] if best is None else max(best, pmax[pid])
    from pyspark.sql import Window

    neg_inf = F.lit(-(1 << 62)).cast("long")
    suf = F.create_map(
        *[
            F.lit(v)
            for pid, m in suffix.items()
            for v in (pid, m if m is not None else -(1 << 62))
        ]
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(F.col("x").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    surviving = (
        part.withColumn(
            "_prefix",
            F.greatest(
                F.coalesce(F.max("max_y").over(w), neg_inf),
                F.coalesce(F.element_at(suf, F.col("_pid")), neg_inf),
            ),
        )
        .filter(F.col("max_y") > F.col("_prefix"))
        .select(F.col("x").alias("_fx"), F.col("max_y").alias("_fy"))
    )
    # pin the frontier (<= level set, usually tiny), free the level-set
    # checkpoint: the residual pin is frontier-sized, released by the
    # caller's pin_scope / the streaming pool swap / the `pins` set
    surviving, frontier_ids = pin(surviving)
    if pins is not None:
        pins.update(frontier_ids)
    release(df.sparkSession, part_ids)
    return pts.join(
        F.broadcast(surviving),
        (F.col("x") == F.col("_fx")) & (F.col("y") == F.col("_fy")),
        "inner",
    ).select(id_col, "x", "y")


def pareto_frontier_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`pareto_frontier` (default signals) —
    deliberately the DEFINITIONAL anti-join (NOT EXISTS dominance), not
    the sweep: the oracle checks the semantics from first principles,
    sharing no plan structure with the Spark implementation."""
    words = f"list_filter(string_split({text_col}, ' '), w -> w <> '')"
    return f"""
      WITH pts AS (
        SELECT {id_col},
               CAST(len(list_distinct({words})) AS BIGINT) AS x,
               -CAST(len({words}) AS BIGINT) AS y
        FROM {table}
      )
      SELECT p.{id_col}, p.x, p.y
      FROM pts p
      WHERE NOT EXISTS (
        SELECT 1 FROM pts q
        WHERE q.x >= p.x AND q.y >= p.y
          AND (q.x > p.x OR q.y > p.y)
      )
    """


# ------------------------------------------- per-group signal calibration ----
def calibrate_signal(
    df: DataFrame,
    group_col: str = "source",
    value: Column | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quantile-normalize a quality signal WITHIN each slice: map every
    document to its midrank plotting position
    ``pct = (c_less + c_eq/2) / n`` in its group's empirical
    distribution. The step before blending/thresholding heterogeneous
    quality signals across sources — a raw cutoff means different things
    in different slices; the calibrated score is uniform-on-[0,1] within
    every slice by construction.

    100 TB shape — the textbook ``percent_rank() OVER (PARTITION BY
    group ORDER BY v)`` sorts every group through one reducer. Instead:
    ONE partial-aggregated groupBy collapses the corpus to its
    (group, value) LEVEL SET (bounded by #groups x value domain — the
    integer/binned-signal contract shared with ``value_ranks`` /
    ``pareto_frontier``); c_less and n come from windows over the level
    set only (partitioned by group — never corpus rows, never a single
    global partition); the (group, v -> pct) map broadcasts back onto
    the corpus. Exact integer arithmetic until one final round-6
    division.

    Returns (id, group, v, pct)."""
    if value is None:
        value = F.col("n_chars")
    sig = df.select(
        F.col(id_col), F.col(group_col), value.cast("long").alias("v")
    )
    levels = signal_counts(sig, group_col)
    pct_map = calibration_map_from_counts(levels, group_col)
    return sig.join(F.broadcast(pct_map), [group_col, "v"]).select(
        id_col, group_col, "v", "pct"
    )


def signal_counts(sig: DataFrame, group_col: str = "source") -> DataFrame:
    """The calibration sufficient statistic: the (group, v, c_eq) level
    set — ONE partial-aggregated groupBy; additive across batches
    (the streaming twin's state)."""
    return sig.groupBy(group_col, "v").agg(
        F.count(F.lit(1)).cast("long").alias("c_eq")
    )


def calibration_map_from_counts(
    levels: DataFrame, group_col: str = "source"
) -> DataFrame:
    """(group, v, pct) midrank map from a :func:`signal_counts` grid —
    windows run over the LEVEL SET only, partitioned by group."""
    from pyspark.sql import Window

    w_less = (
        Window.partitionBy(group_col)
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy(group_col)
    return levels.select(
        group_col,
        "v",
        F.round(
            (
                2 * F.coalesce(F.sum("c_eq").over(w_less), F.lit(0))
                + F.col("c_eq")
            )
            / (2.0 * F.sum("c_eq").over(w_all)),
            6,
        ).alias("pct"),
    )


def calibrate_signal_sql(
    table: str = "documents",
    group_col: str = "source",
    value_expr: str = "n_chars",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`calibrate_signal` — the definitional
    row-level window form (c_less / c_eq / n straight off the raw rows;
    fine at oracle scale)."""
    return f"""
      WITH sig AS (
        SELECT {id_col}, {group_col},
               CAST({value_expr} AS BIGINT) AS v
        FROM {table}
      )
      SELECT {id_col}, {group_col}, v,
             round((2 * count(*) OVER (PARTITION BY {group_col}
                        ORDER BY v
                        RANGE BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING)
                    + count(*) OVER (PARTITION BY {group_col}, v))
                   / (2.0 * count(*) OVER (PARTITION BY {group_col})),
                   6) AS pct
      FROM sig
    """


# ------------------------------------------ cross-source LM perplexity ----
def cross_perplexity(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Cross-source unigram-LM score matrix: the mean log-probability of
    source a's token stream under source b's add-1-smoothed unigram LM,
    for every (a, b) — "which slices predict each other" on the TEXT
    side (the lexical twin of ``centroid_similarity``; a ⟂ b shows up as
    a deeply negative off-diagonal, near-duplicate slices score close to
    their own diagonal).

    Never touches corpus rows twice: with Laplace smoothing
    p_b(t) = (cnt_b(t)+1)/(total_b+V), absent terms contribute ln 1 = 0,
    so the whole matrix is algebra over the (source, term, cnt) LEVEL
    SET — one corpus shuffle (the counts groupBy), a level-set self-join
    on term restricted to shared terms, and broadcast scalars:

        cell(a,b) = S(a,b)/total_a − ln(total_b + V),
        S(a,b)    = Σ_{t∈a∩b} cnt_a(t)·ln(cnt_b(t)+1).

    Each ln is rounded to 9 digits and the cnt_a product + sum run in
    exact decimal (no float reassociation — bit-equal across engines and
    partitionings). The G×G grid is completed with S=0 rows for pairs
    sharing no term.

    Returns (group_a, group_b, n_tokens_a, mean_logprob)."""
    counts = (
        df.select(
            F.col(group_col),
            F.explode(F.split(F.col(text_col), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy(group_col, "term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    tot = counts.groupBy(group_col).agg(
        F.sum("cnt").cast("long").alias("total")
    )
    vsize = counts.select("term").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )
    a = counts.select(
        F.col(group_col).alias("group_a"),
        "term",
        F.col("cnt").alias("ca"),
    )
    b = counts.select(
        F.col(group_col).alias("group_b"),
        "term",
        F.col("cnt").alias("cb"),
    )
    s = (
        a.join(b, "term")
        .groupBy("group_a", "group_b")
        .agg(
            F.sum(
                F.round(F.log(F.col("cb") + 1), 9).cast("decimal(12,9)")
                * F.col("ca").cast("decimal(10,0)")
            ).alias("_s")
        )
    )
    grid = (
        tot.select(F.col(group_col).alias("group_a"), F.col("total").alias("_ta"))
        .crossJoin(
            F.broadcast(
                tot.select(
                    F.col(group_col).alias("group_b"),
                    F.col("total").alias("_tb"),
                )
            )
        )
        .crossJoin(F.broadcast(vsize))
    )
    return (
        grid.join(F.broadcast(s), ["group_a", "group_b"], "left")
        .select(
            "group_a",
            "group_b",
            F.col("_ta").alias("n_tokens_a"),
            F.round(
                F.coalesce(F.col("_s").cast("double"), F.lit(0.0))
                / F.col("_ta")
                - F.log(F.col("_tb") + F.col("v")),
                6,
            ).alias("mean_logprob"),
        )
    )


def cross_perplexity_sql(
    table: str = "documents",
    group_col: str = "source",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`cross_perplexity` (same level-set algebra
    and decimal discipline)."""
    return f"""
      WITH terms AS (
        SELECT {group_col} AS g, unnest(string_split({text_col}, ' ')) AS term
        FROM {table}
      ),
      counts AS (
        SELECT g, term, CAST(count(*) AS BIGINT) AS cnt
        FROM terms WHERE term <> '' GROUP BY g, term
      ),
      tot AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS total
              FROM counts GROUP BY g),
      vs AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v FROM counts),
      s AS (
        SELECT a.g AS group_a, b.g AS group_b,
               sum(CAST(round(ln(b.cnt + 1), 9) AS DECIMAL(12,9))
                   * CAST(a.cnt AS DECIMAL(10,0))) AS s
        FROM counts a JOIN counts b USING (term)
        GROUP BY a.g, b.g
      )
      SELECT ta.g AS group_a, tb.g AS group_b,
             ta.total AS n_tokens_a,
             round(coalesce(CAST(s.s AS DOUBLE), 0.0) / ta.total
                   - ln(tb.total + vs.v), 6) AS mean_logprob
      FROM tot ta CROSS JOIN tot tb CROSS JOIN vs
      LEFT JOIN s ON s.group_a = ta.g AND s.group_b = tb.g
    """


# --------------------------------------- length buckets / capacity sweep ----


def length_buckets(
    df: DataFrame,
    group_col: str = "source",
    len_col: str = "n_tok",
) -> DataFrame:
    """Sequence-length histogram with the padding bill: per (group,
    pow2-bucket), sequence count, exact payload tokens, and the padding
    waste a pad-to-bucket trainer would pay (padded = n_seqs ×
    bucket_max). THE report behind the pad-vs-pack decision — if most
    groups sit just above a power of two, bucketing pads ~2× and packing
    wins; if lengths hug the bucket tops, bucketed padding is nearly
    free.

    Bucketing is integer-exact on both engines (repo convention, see
    drift.length_counts): bucket_max = the smallest power of two ≥ len,
    computed as ``1 << bitlength(len − 1)`` via ``length(bin(...))`` —
    never float log2, which disagrees at the boundaries. len ∈ {0, 1}
    maps to bucket_max = len. One partial-aggregated groupBy, output
    bounded by groups × 64 buckets."""
    n = F.col(len_col).cast("long")
    # pyspark's shiftleft() wants a literal shift; the SQL form takes a
    # column — go through expr over the bound _n
    bucket = F.expr(
        "CASE WHEN _n <= 1 THEN _n "
        "ELSE shiftleft(CAST(1 AS BIGINT), length(bin(_n - 1))) END"
    )
    agg = (
        df.select(F.col(group_col), n.alias("_n"))
        .withColumn("bucket_max", bucket)
        .groupBy(group_col, "bucket_max")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_seqs"),
            F.sum("_n").cast("long").alias("payload_tokens"),
        )
    )
    padded = F.col("n_seqs") * F.col("bucket_max")
    return agg.select(
        group_col,
        "bucket_max",
        "n_seqs",
        "payload_tokens",
        (padded - F.col("payload_tokens")).cast("long").alias("pad_waste_tokens"),
        F.round(
            F.when(padded > 0, (padded - F.col("payload_tokens")) / padded)
            .otherwise(F.lit(0.0)),
            6,
        ).alias("pad_waste_frac"),
    )


def length_buckets_sql(
    table: str,
    group_col: str = "source",
    len_col: str = "n_tok",
) -> str:
    """DuckDB twin of :func:`length_buckets` (same bin()-length pow2
    ceiling; ``table`` may be a CTE name)."""
    n = f"CAST({len_col} AS BIGINT)"
    bucket = (
        f"CASE WHEN {n} <= 1 THEN {n} "
        f"ELSE CAST(1 AS BIGINT) << length(bin({n} - 1)) END"
    )
    return f"""
      SELECT {group_col}, bucket_max,
             CAST(count(*) AS BIGINT) AS n_seqs,
             CAST(sum(_n) AS BIGINT) AS payload_tokens,
             CAST(count(*) * bucket_max - sum(_n) AS BIGINT)
               AS pad_waste_tokens,
             round(CASE WHEN count(*) * bucket_max > 0
                        THEN (count(*) * bucket_max - sum(_n))
                             / CAST(count(*) * bucket_max AS DOUBLE)
                        ELSE 0.0 END, 6) AS pad_waste_frac
      FROM (SELECT {group_col}, {n} AS _n, {bucket} AS bucket_max
            FROM {table})
      GROUP BY {group_col}, bucket_max
    """


def pack_capacity_sweep(
    df: DataFrame,
    capacities: tuple[int, ...] = (128, 256, 512, 1024),
    id_col: str = "doc_id",
    len_col: str = "n_tok",
    n_shards: int = 4,
) -> DataFrame:
    """Greedy-packing efficiency across candidate capacities in ONE
    corpus pass — the capacity-sizing artifact: what does each context
    length cost in padding waste and oversize overflows for THIS length
    distribution? (Running :func:`pack_sequences` per capacity would
    re-shuffle the corpus once per candidate.)

    Same sharded fold as :func:`pack_sequences` (id order within ``id %
    n_shards``); one ``applyInPandas`` kernel runs :func:`next_fit` once
    per capacity over the shard's length vector (the lengths are already
    in memory — extra capacities cost folds, not corpus passes) and
    emits ONE row per (capacity, shard): pack count, exact payload,
    padding waste Σ max(capacity − fill, 0), overflow-pack count (docs
    longer than the capacity get a pack to themselves — negative waste
    is reported as overflow, not netted), and fill_ratio. Output is
    |capacities| × n_shards rows at any corpus size."""
    import pandas as pd

    caps = tuple(int(c) for c in capacities)
    bound = MAX_ROWS_PER_SHARD
    src = df.select(
        F.col(id_col),
        (F.col(id_col) % n_shards).cast("int").alias("shard"),
        F.col(len_col).cast("long").alias("len"),
    )
    schema = (
        "capacity int, shard int, n_packs long, n_docs long, "
        "payload_tokens long, waste_tokens long, n_overflow long"
    )

    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf, lens = group_lengths(
            pdf, id_col, "len", bound, "MAX_ROWS_PER_SHARD",
            "pack_capacity_sweep",
        )
        shard = int(pdf["shard"].iloc[0])
        out = []
        for cap in caps:
            fills = _pack_sums(lens, next_fit(lens, cap)[0])
            out.append((
                cap, shard, len(fills), len(lens), int(fills.sum()),
                int(np.maximum(cap - fills, 0).sum()),
                int((fills > cap).sum()),
            ))
        return pd.DataFrame(
            out,
            columns=[
                "capacity",
                "shard",
                "n_packs",
                "n_docs",
                "payload_tokens",
                "waste_tokens",
                "n_overflow",
            ],
        )

    swept = src.groupBy("shard").applyInPandas(sweep, schema=schema)
    # fill_ratio via F.round (HALF_UP, matching DuckDB's round) — a
    # Python round() in the kernel is banker's and diverges on exact
    # half-ulps like 93/128
    return swept.withColumn(
        "fill_ratio",
        F.round(
            F.when(
                F.col("n_packs") > 0,
                F.col("payload_tokens")
                / (F.col("n_packs") * F.col("capacity").cast("double")),
            ).otherwise(F.lit(0.0)),
            6,
        ),
    )


def pack_capacity_sweep_sql(
    table: str,
    capacities: tuple[int, ...] = (128, 256, 512, 1024),
    id_col: str = "doc_id",
    len_expr: str = "n_tok",
    n_shards: int = 4,
    extra_ctes: str = "",
) -> str:
    """DuckDB twin of :func:`pack_capacity_sweep`: one recursive
    :func:`pack_sequences_sql` fold per capacity (the oracle replays the
    definition; the engine's one-pass sweep is the optimization),
    aggregated per (capacity, shard) and UNION ALL'd."""
    parts = []
    for cap in capacities:
        inner = pack_sequences_sql(
            table,
            id_col=id_col,
            len_expr=len_expr,
            capacity=int(cap),
            n_shards=n_shards,
            extra_ctes=extra_ctes,
        )
        parts.append(
            f"""
      SELECT {int(cap)} AS capacity, shard,
             CAST(count(*) AS BIGINT) AS n_packs,
             CAST(sum(nd) AS BIGINT) AS n_docs,
             CAST(sum(fill) AS BIGINT) AS payload_tokens,
             CAST(sum(CASE WHEN {int(cap)} - fill > 0
                           THEN {int(cap)} - fill ELSE 0 END) AS BIGINT)
               AS waste_tokens,
             CAST(sum(CASE WHEN fill > {int(cap)} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_overflow,
             round(sum(fill) / (count(*) * CAST({int(cap)} AS DOUBLE)), 6)
               AS fill_ratio
      FROM (SELECT shard, pack_id, sum(len) AS fill, count(*) AS nd
            FROM ({inner}) GROUP BY shard, pack_id)
      GROUP BY shard
            """
        )
    return " UNION ALL ".join(f"({p})" for p in parts)


# ---------------------------------------- Kneser-Ney bigram LM scoring ----


def kneser_ney_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM quality score: mean
    log p_KN(w_i | w_{i-1}) per document — the smoothing family production
    perplexity filters actually deploy (CCNet / KenLM are KN models), and
    a materially different signal from the MLE :func:`bigram_logprob`:
    the discount redistributes mass toward words that appear after MANY
    distinct histories (continuation probability), so boilerplate that
    repeats one rare bigram over and over scores lower than under MLE.

        p_KN(w2|w1) = max(c(w1,w2) - D, 0)/h(w1)
                      + (D * N1+(w1,.)/h(w1)) * N1+(.,w2)/N1+(.,.)

    with h(w1) the non-final-position history count, N1+(w1,.) the count
    of distinct successors of w1, N1+(.,w2) the count of distinct
    predecessors of w2, and N1+(.,.) the number of distinct bigram types.
    D defaults to 0.75 — exactly representable in binary, so the engine
    and the DuckDB oracle compute bit-identical doubles given the same
    integer counts and the same expression shape (kept textually parallel
    in :func:`kneser_ney_logprob_sql`).

    Scale: the model IS four integer aggregates of the bigram stream —
    bigram counts, per-history totals+successor counts, per-word
    predecessor counts, and one scalar. All are type-vocabulary-sized
    (not corpus-sized) and broadcast while they fit, degrading to shuffle
    joins beyond that; scoring is one pass over the exploded pairs and
    one partial-aggregatable mean per doc. Per-pair logs are rounded to
    9 digits then decimal-summed — order-independent cross-engine
    equality. Docs with fewer than 2 words have no bigrams and are
    absent (same contract as bigram_logprob).
    """
    d = float(discount)
    pairs = word_ngrams(df, 2, text_col, id_col)
    bc = pairs.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c"))
    hc = bc.groupBy("w1").agg(
        F.sum("c").cast("long").alias("h"),
        F.count("*").cast("long").alias("n1fw"),
    )
    bw = bc.groupBy("w2").agg(F.count("*").cast("long").alias("n1bw"))
    tt = bc.agg(F.count("*").cast("long").alias("tt"))
    # expression shape mirrored 1:1 in the SQL twin — see docstring
    p_kn = (
        F.greatest(F.col("c").cast("double") - F.lit(d), F.lit(0.0))
        + F.lit(d)
        * F.col("n1fw")
        * (F.col("n1bw").cast("double") / F.col("tt"))
    ) / F.col("h")
    scored = (
        pairs.join(F.broadcast(bc), ["w1", "w2"])
        .join(F.broadcast(hc), "w1")
        .join(F.broadcast(bw), "w2")
        .crossJoin(F.broadcast(tt))
        .select(
            id_col,
            F.round(F.log(p_kn), 9).cast("decimal(30,15)").alias("lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(F.sum("lp").cast("double") / F.count("*"), 6).alias(
            "mean_logprob"
        ),
    )


def kneser_ney_logprob_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
) -> str:
    """DuckDB twin of :func:`kneser_ney_logprob` — the p_KN expression is
    textually parallel to the Spark side so both engines perform the same
    IEEE-754 operations in the same order before the 9-digit round."""
    d = repr(float(discount))
    return f"""
      WITH w AS (
        SELECT {id_col}, string_split({text_col}, ' ') AS wrd
        FROM {table}
      ),
      z AS (
        SELECT {id_col},
               unnest(wrd[1 : len(wrd) - 1]) AS w1,
               unnest(wrd[2 : len(wrd)]) AS w2
        FROM w WHERE len(wrd) >= 2
      ),
      t AS (SELECT * FROM z WHERE w1 <> '' AND w2 <> ''),
      bc AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
        FROM t GROUP BY w1, w2
      ),
      hc AS (
        SELECT w1, CAST(sum(c) AS BIGINT) AS h,
               CAST(count(*) AS BIGINT) AS n1fw
        FROM bc GROUP BY w1
      ),
      bw AS (
        SELECT w2, CAST(count(*) AS BIGINT) AS n1bw FROM bc GROUP BY w2
      ),
      tt AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM bc)
      SELECT t.{id_col} AS {id_col},
             CAST(count(*) AS BIGINT) AS n_bigrams,
             round(CAST(sum(CAST(round(ln(
                 (greatest(CAST(bc.c AS DOUBLE) - {d}, 0.0)
                  + {d} * hc.n1fw * (CAST(bw.n1bw AS DOUBLE) / tt.tt))
                 / hc.h), 9) AS DECIMAL(30,15))) AS DOUBLE)
                   / count(*), 6) AS mean_logprob
      FROM t JOIN bc USING (w1, w2) JOIN hc USING (w1) JOIN bw USING (w2),
           tt
      GROUP BY t.{id_col}
    """


def ccnet_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    discount: float = 0.75,
) -> DataFrame:
    """CCNet-style perplexity bucketing: assign every document to the
    head / middle / tail tertile of its source's LM-score distribution
    (Wenzek et al. 2020 split each language's CommonCrawl by KenLM
    perplexity tertiles and trained preferentially on the head). The LM
    is the corpus-fit interpolated Kneser-Ney bigram model
    (:func:`kneser_ney_logprob`); head = highest mean logprob = lowest
    perplexity.

    Determinism: tertiles are NTILE(3) over (score DESC, id) per source —
    the score is already rounded to 6 digits identically on both engines,
    and the id tiebreak makes the total order (hence the bucket edges)
    unique, so the assignment is exact cross-engine. Scale: the window
    partitions by source (bounded fan-out) over doc-level rows — one
    shuffle on source after the doc-level score aggregation; the join
    back to (id, source) co-partitions on the id key. Docs with fewer
    than 2 words carry no LM evidence and are absent, as in the scorer.
    """
    from pyspark.sql import Window

    scores = kneser_ney_logprob(df, id_col, text_col, discount=discount)
    src = df.select(id_col, source_col)
    w = Window.partitionBy(source_col).orderBy(
        F.col("mean_logprob").desc(), F.col(id_col)
    )
    return (
        scores.join(src, id_col)
        .withColumn("tert", F.ntile(3).over(w))
        .select(
            id_col,
            source_col,
            "mean_logprob",
            F.element_at(
                F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
                F.col("tert"),
            ).alias("bucket"),
        )
    )


def ccnet_buckets_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    discount: float = 0.75,
) -> str:
    """DuckDB twin of :func:`ccnet_buckets`."""
    inner = kneser_ney_logprob_sql(table, id_col, text_col, discount)
    return f"""
      WITH kn AS ({inner})
      SELECT kn.{id_col} AS {id_col}, d.{source_col} AS {source_col},
             kn.mean_logprob,
             CASE ntile(3) OVER (
                    PARTITION BY d.{source_col}
                    ORDER BY kn.mean_logprob DESC, kn.{id_col})
                  WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
             END AS bucket
      FROM kn JOIN {table} d ON kn.{id_col} = d.{id_col}
    """


# -------------------------------------------- trainer-ready pack layout ----


def pack_segments(
    df: DataFrame,
    id_col: str = "doc_id",
    len_col: str = "n_words",
    capacity: int = 256,
    n_shards: int | None = 4,
) -> DataFrame:
    """Trainer-ready pack layout: one row per pack with the segment
    arrays a training loader needs to build attention masks and restart
    position ids at document boundaries — (doc_ids, offsets, seg_lens)
    ordered by offset, plus the fill/pad token bill. This is the step
    between :func:`pack_sequences` (which emits one row per document)
    and the actual batch assembly: packed-attention trainers consume
    exactly these per-pack segment boundaries.

    Built entirely on the packing fold's output: one groupBy per
    (shard, pack_id) with sort_array(collect_list(struct(offset, ...)))
    — offsets are strictly increasing within a pack, so the struct sort
    is a total order and the arrays are deterministic on any cluster
    shape. Pack rows are capacity-bounded (a pack holds at most
    capacity single-word docs), so collect_list here is NOT an unbounded
    group collect. Scale inherits pack_sequences' sharding contract.
    """
    packed = pack_sequences(
        df, id_col=id_col, len_col=len_col, capacity=capacity,
        n_shards=n_shards,
    )
    arr = F.array_sort(
        F.collect_list(F.struct("offset", F.col(id_col), F.col("len")))
    )
    return (
        packed.groupBy("shard", "pack_id")
        .agg(
            F.count("*").cast("long").alias("n_segments"),
            F.sum("len").cast("long").alias("fill_tokens"),
            arr.alias("_a"),
        )
        .select(
            "shard",
            "pack_id",
            "n_segments",
            "fill_tokens",
            F.greatest(
                F.lit(int(capacity)).cast("long") - F.col("fill_tokens"),
                F.lit(0).cast("long"),
            ).alias("pad_tokens"),
            F.transform("_a", lambda x: x[id_col]).alias("doc_ids"),
            F.transform("_a", lambda x: x["offset"]).alias("offsets"),
            F.transform("_a", lambda x: x["len"]).alias("seg_lens"),
        )
    )


def pack_segments_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    len_expr: str = "len(string_split(text, ' '))",
    capacity: int = 256,
    n_shards: int = 4,
    extra_ctes: str = "",
) -> str:
    """DuckDB twin of :func:`pack_segments`: the packing recursive CTE
    grouped per pack with ORDER BY offset list aggregation."""
    inner = pack_sequences_sql(
        table,
        id_col=id_col,
        len_expr=len_expr,
        capacity=int(capacity),
        n_shards=n_shards,
        extra_ctes=extra_ctes,
    )
    return f"""
      SELECT shard, pack_id,
             CAST(count(*) AS BIGINT) AS n_segments,
             CAST(sum(len) AS BIGINT) AS fill_tokens,
             CAST(greatest({int(capacity)} - sum(len), 0) AS BIGINT)
               AS pad_tokens,
             list({id_col} ORDER BY "offset") AS doc_ids,
             list("offset" ORDER BY "offset") AS offsets,
             list(len ORDER BY "offset") AS seg_lens
      FROM ({inner})
      GROUP BY shard, pack_id
    """


# ------------------------------------------------ data-mixing schedule ----


def mixture_schedule(
    df: DataFrame,
    source_col: str = "source",
    n_steps: int = 100,
    batch_size: int = 1024,
) -> DataFrame:
    """Deterministic data-mixing schedule: for each training step
    1..n_steps consuming ``batch_size`` sequences, how many to draw from
    each source so the CUMULATIVE draw tracks the corpus mixture exactly
    — the quota-apportionment view of "train on the natural mix" (swap
    the count aggregate for any weight table to anneal a custom mix).

        cum_s(t) = floor(n_s * B * t / N),  alloc_s(t) = cum_s(t) - cum_s(t-1)

    Every quantity is integer; per-step totals deviate from B by less
    than #sources and the deviation never accumulates (the floors
    telescope). Overflow discipline: n_s*B*t would overflow BIGINT at
    10^12-sequence corpora, so the floor is factored as

        cum_s(t) = q*t + (r*t) DIV N,  q = (n_s*B) DIV N, r = (n_s*B) % N

    exact for n_s*B < 2^63 and r*t < 2^63 (r < N, so t can reach
    2^63/N — 9 million steps at a 10^12-sequence corpus). The plan is
    one source-count aggregate, a 1-row total broadcast, and a map-side
    sequence explode — the output is the #sources x n_steps grid, never
    corpus-sized, and there is no per-step shuffle.
    """
    return mixture_schedule_from_counts(
        mixture_counts(df, source_col), source_col, n_steps, batch_size
    )


def mixture_counts(df: DataFrame, source_col: str = "source") -> DataFrame:
    """The partials of :func:`mixture_schedule`: (source, n) row counts,
    additive across batches."""
    return df.groupBy(source_col).agg(F.count("*").cast("long").alias("n"))


def mixture_schedule_from_counts(
    c: DataFrame,
    source_col: str = "source",
    n_steps: int = 100,
    batch_size: int = 1024,
) -> DataFrame:
    """The finalizer of :func:`mixture_schedule` over a
    :func:`mixture_counts` grid."""
    t_, b_ = int(n_steps), int(batch_size)
    tot = c.agg(F.sum("n").cast("long").alias("n_total"))
    qr = c.crossJoin(F.broadcast(tot)).select(
        source_col,
        F.expr(f"(n * {b_}) DIV n_total").alias("q"),
        F.expr(f"(n * {b_}) % n_total").alias("r"),
        F.col("n_total"),
    )
    grid = qr.select(
        source_col,
        "q",
        "r",
        "n_total",
        F.explode(F.sequence(F.lit(1), F.lit(t_))).alias("step"),
    )
    cum = F.expr("q * step + (r * step) DIV n_total")
    prev = F.expr("q * (step - 1) + (r * (step - 1)) DIV n_total")
    return grid.select(
        F.col("step").cast("long").alias("step"),
        source_col,
        (cum - prev).cast("long").alias("n_seqs"),
        cum.cast("long").alias("cum_seqs"),
    )


def mixture_schedule_sql(
    table: str = "documents",
    source_col: str = "source",
    n_steps: int = 100,
    batch_size: int = 1024,
) -> str:
    """DuckDB twin of :func:`mixture_schedule` (integer `//` truncates
    like Spark DIV; all quantities non-negative, so truncate = floor)."""
    t_, b_ = int(n_steps), int(batch_size)
    return f"""
      WITH c AS (
        SELECT {source_col}, CAST(count(*) AS BIGINT) AS n
        FROM {table} GROUP BY {source_col}
      ),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM c),
      qr AS (
        SELECT {source_col},
               (n * {b_}) // n_total AS q, (n * {b_}) % n_total AS r,
               n_total
        FROM c, tot
      ),
      steps AS (SELECT unnest(generate_series(1, {t_})) AS step)
      SELECT CAST(step AS BIGINT) AS step, {source_col},
             CAST((q * step + (r * step) // n_total)
                  - (q * (step - 1) + (r * (step - 1)) // n_total)
                  AS BIGINT) AS n_seqs,
             CAST(q * step + (r * step) // n_total AS BIGINT) AS cum_seqs
      FROM qr, steps
    """


# ------------------------------------------- held-out LM evaluation gate ----


def heldout_perplexity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    holdout: float = 0.1,
) -> DataFrame:
    """The LM generalization gate a data pipeline runs per corpus
    snapshot: deterministically hold out a slice of documents (the
    md5-prefix discipline of :func:`split_corpus` — the same doc is
    held out on every run, every cluster shape), fit a Laplace-smoothed
    unigram LM on the REST, and report per-source held-out mean NLL and
    OOV rate. Rising NLL / OOV on a new snapshot means the new data
    distribution drifted from what the old data predicts — the cheap
    early-warning before a real-model perplexity eval.

        p(w) = (c_train(w) + 1) / (N_train + V_train)

    Two aggregations fit the model (vocabulary-sized + one scalar row);
    scoring is a broadcast left-join onto the held-out token stream
    (unseen words take the +1 mass — finite by construction) and one
    partial-aggregatable per-source mean. Per-token logs are rounded to
    9 digits then decimal-summed; outputs round engine-side (HALF_UP on
    both engines). Micro-averaged: mean NLL is per TOKEN, so long docs
    weigh more — the quantity perplexity actually exponentiates.
    """
    thr = format(int(round(float(holdout) * 65536)), "04x")
    bucket = F.substring(F.md5(F.col(id_col).cast("string")), 1, 4)
    is_valid = bucket < F.lit(thr)
    terms = lambda d: (  # noqa: E731
        d.select(
            id_col,
            source_col,
            F.explode(F.split(F.col(text_col), " ")).alias("term"),
        ).filter(F.col("term") != "")
    )
    vocab = (
        terms(df.filter(~is_valid))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    stats = vocab.agg(
        F.sum("cnt").cast("long").alias("n_train"),
        F.count("*").cast("long").alias("v_size"),
    )
    scored = (
        terms(df.filter(is_valid))
        .join(F.broadcast(vocab), "term", "left")
        .crossJoin(F.broadcast(stats))
        .select(
            id_col,
            source_col,
            F.col("cnt").isNull().cast("long").alias("oov"),
            F.round(
                F.log(
                    (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(1)).cast(
                        "double"
                    )
                    / (F.col("n_train") + F.col("v_size"))
                ),
                9,
            )
            .cast("decimal(30,15)")
            .alias("lp"),
        )
    )
    return scored.groupBy(source_col).agg(
        F.countDistinct(id_col).cast("long").alias("n_valid_docs"),
        F.count("*").cast("long").alias("n_tokens"),
        F.round(-F.sum("lp").cast("double") / F.count("*"), 6).alias(
            "mean_nll"
        ),
        F.round(F.sum("oov").cast("double") / F.count("*"), 6).alias(
            "oov_rate"
        ),
    )


def heldout_perplexity_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    holdout: float = 0.1,
) -> str:
    """DuckDB twin of :func:`heldout_perplexity`."""
    thr = format(int(round(float(holdout) * 65536)), "04x")
    return f"""
      WITH base AS (
        SELECT {id_col}, {source_col}, {text_col},
               substr(md5(CAST({id_col} AS VARCHAR)), 1, 4) < '{thr}'
                 AS is_valid
        FROM {table}
      ),
      tr AS (
        SELECT unnest(string_split({text_col}, ' ')) AS term
        FROM base WHERE NOT is_valid
      ),
      vocab AS (
        SELECT term, CAST(count(*) AS BIGINT) AS cnt
        FROM tr WHERE term <> '' GROUP BY term
      ),
      stats AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n_train,
               CAST(count(*) AS BIGINT) AS v_size
        FROM vocab
      ),
      va AS (
        SELECT {id_col}, {source_col},
               unnest(string_split({text_col}, ' ')) AS term
        FROM base WHERE is_valid
      ),
      v AS (SELECT * FROM va WHERE term <> ''),
      scored AS (
        SELECT v.{id_col}, v.{source_col},
               CASE WHEN vocab.cnt IS NULL THEN 1 ELSE 0 END AS oov,
               CAST(round(ln(
                 CAST(coalesce(vocab.cnt, 0) + 1 AS DOUBLE)
                 / (stats.n_train + stats.v_size)), 9)
                 AS DECIMAL(30,15)) AS lp
        FROM v LEFT JOIN vocab USING (term), stats
      )
      SELECT {source_col},
             CAST(count(DISTINCT {id_col}) AS BIGINT) AS n_valid_docs,
             CAST(count(*) AS BIGINT) AS n_tokens,
             round(-CAST(sum(lp) AS DOUBLE) / count(*), 6) AS mean_nll,
             round(CAST(sum(oov) AS DOUBLE) / count(*), 6) AS oov_rate
      FROM scored
      GROUP BY {source_col}
    """


# ------------------------------------------------- annealed mixing schedule ----


def anneal_schedule(
    df: DataFrame,
    source_col: str = "source",
    weight_col: str | None = None,
    n_steps: int = 100,
    batch_size: int = 1024,
) -> DataFrame:
    """Two-phase (annealed) data-mixing schedule: start training on a
    UNIFORM source mix and linearly anneal to the corpus's NATURAL mix
    (proportional to ``weight_col`` mass per source — pass the token
    count for a token-weighted mixture; None weighs by documents) over
    ``n_steps`` steps of ``batch_size`` sequences. The curriculum shape
    production runs use for "warm up balanced, finish on the real
    distribution" (or its reverse — swap the endpoints).

    Everything is integer and therefore bit-reproducible cross-engine:

    - endpoint weights live in ppm; each endpoint's floors are repaired
      to sum EXACTLY to 1e6 by assigning the residual to the
      lexicographically last source (deterministic, no float renorm);
    - the per-step interpolation ``w0 + ((w1-w0)*t) DIV T`` floors per
      source, and the same residual-to-last repair keeps every step's
      weights summing to 1e6;
    - the per-step allocation is largest-remainder apportionment:
      ``base = (w*B) DIV 1e6`` plus +1 for the ``B - sum(base)`` largest
      remainders (ties broken by source name) — every step draws
      EXACTLY ``batch_size`` sequences (deficit < #sources by the floor
      identity, so the repair never runs out of rows).

    Plan shape: one source aggregate, a 1-row scalar broadcast
    (sanctioned), a map-side step explode, then windows over the
    #sources×n_steps GRID only — the corpus is touched once, the output
    is grid-sized, and there is no per-step shuffle.
    """
    t_, b_ = int(n_steps), int(batch_size)
    wexpr = (
        F.count("*") if weight_col is None else F.sum(weight_col)
    )
    c = df.groupBy(source_col).agg(wexpr.cast("long").alias("wt"))
    tot = c.agg(
        F.sum("wt").cast("long").alias("wt_total"),
        F.count("*").cast("long").alias("n_src"),
        F.max(source_col).alias("last_src"),
    )
    prep = c.crossJoin(F.broadcast(tot)).select(
        source_col,
        F.col("last_src"),
        F.expr("1000000 DIV n_src").alias("w0f"),
        F.expr("(wt * 1000000) DIV wt_total").alias("w1f"),
    )
    w_all = Window.partitionBy()
    is_last = F.col(source_col) == F.col("last_src")
    ends = prep.select(
        source_col,
        "last_src",
        (
            F.col("w0f")
            + F.when(is_last, F.lit(1000000) - F.sum("w0f").over(w_all))
            .otherwise(0)
        ).alias("w0"),
        (
            F.col("w1f")
            + F.when(is_last, F.lit(1000000) - F.sum("w1f").over(w_all))
            .otherwise(0)
        ).alias("w1"),
    )
    grid = ends.select(
        source_col,
        "last_src",
        "w0",
        "w1",
        F.explode(F.sequence(F.lit(1), F.lit(t_))).alias("step"),
    ).select(
        "step",
        source_col,
        "last_src",
        F.expr(f"w0 + (((w1 - w0) * step) DIV {t_})").alias("wtf"),
    )
    w_step = Window.partitionBy("step")
    weighted = grid.select(
        "step",
        source_col,
        (
            F.col("wtf")
            + F.when(
                F.col(source_col) == F.col("last_src"),
                F.lit(1000000) - F.sum("wtf").over(w_step),
            ).otherwise(0)
        ).alias("weight_ppm"),
    ).select(
        "step",
        source_col,
        "weight_ppm",
        F.expr(f"(weight_ppm * {b_}) DIV 1000000").alias("base"),
        F.expr(f"(weight_ppm * {b_}) % 1000000").alias("rem"),
    )
    w_rank = Window.partitionBy("step").orderBy(
        F.col("rem").desc(), F.col(source_col).asc()
    )
    w_cum = (
        Window.partitionBy(source_col)
        .orderBy("step")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    alloc = weighted.select(
        "step",
        source_col,
        "weight_ppm",
        (
            F.col("base")
            + (
                F.row_number().over(w_rank)
                <= F.lit(b_) - F.sum("base").over(w_step)
            ).cast("long")
        ).alias("n_seqs"),
    )
    return alloc.select(
        F.col("step").cast("long").alias("step"),
        source_col,
        F.col("weight_ppm").cast("long").alias("weight_ppm"),
        F.col("n_seqs").cast("long").alias("n_seqs"),
        F.sum("n_seqs").over(w_cum).cast("long").alias("cum_seqs"),
    )


def anneal_schedule_sql(
    table: str = "documents",
    source_col: str = "source",
    weight_expr: str = "1",
    n_steps: int = 100,
    batch_size: int = 1024,
) -> str:
    """DuckDB twin of :func:`anneal_schedule` (``weight_expr`` is the
    per-row mass; integer ``//`` truncates like Spark ``DIV`` on the
    non-negative quantities used here)."""
    t_, b_ = int(n_steps), int(batch_size)
    return f"""
      WITH c AS (
        SELECT {source_col}, CAST(sum({weight_expr}) AS BIGINT) AS wt
        FROM {table} GROUP BY {source_col}
      ),
      tot AS (
        SELECT CAST(sum(wt) AS BIGINT) AS wt_total,
               CAST(count(*) AS BIGINT) AS n_src,
               max({source_col}) AS last_src
        FROM c
      ),
      prep AS (
        SELECT {source_col}, last_src,
               1000000 // n_src AS w0f,
               (wt * 1000000) // wt_total AS w1f
        FROM c, tot
      ),
      ends AS (
        SELECT {source_col}, last_src,
               w0f + CASE WHEN {source_col} = last_src
                          THEN 1000000 - sum(w0f) OVER ()
                          ELSE 0 END AS w0,
               w1f + CASE WHEN {source_col} = last_src
                          THEN 1000000 - sum(w1f) OVER ()
                          ELSE 0 END AS w1
        FROM prep
      ),
      grid AS (
        SELECT step, {source_col}, last_src,
               w0 + (((w1 - w0) * step) // {t_}) AS wtf
        FROM ends
        CROSS JOIN (SELECT unnest(generate_series(1, {t_})) AS step) s
      ),
      weighted AS (
        SELECT step, {source_col},
               wtf + CASE WHEN {source_col} = last_src
                          THEN 1000000 - sum(wtf)
                                 OVER (PARTITION BY step)
                          ELSE 0 END AS weight_ppm
        FROM grid
      ),
      sized AS (
        SELECT step, {source_col}, weight_ppm,
               (weight_ppm * {b_}) // 1000000 AS base,
               (weight_ppm * {b_}) % 1000000 AS rem
        FROM weighted
      ),
      alloc AS (
        SELECT step, {source_col}, weight_ppm,
               base + CASE WHEN row_number() OVER (
                              PARTITION BY step
                              ORDER BY rem DESC, {source_col} ASC)
                           <= {b_} - sum(base) OVER (PARTITION BY step)
                           THEN 1 ELSE 0 END AS n_seqs
        FROM sized
      )
      SELECT CAST(step AS BIGINT) AS step, {source_col},
             CAST(weight_ppm AS BIGINT) AS weight_ppm,
             CAST(n_seqs AS BIGINT) AS n_seqs,
             CAST(sum(n_seqs) OVER (PARTITION BY {source_col}
                    ORDER BY step
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_seqs
      FROM alloc
    """


def repetition_budget(
    df: DataFrame,
    source_col: str = "source",
    weight_col: str | None = None,
    n_steps: int = 100,
    batch_size: int = 1024,
) -> DataFrame:
    """Data-repetition accounting for a mixing schedule (Muennighoff et
    al. 2023: repeated epochs decay in value): per source, sequences
    available vs sequences the annealed schedule draws over the full
    run, the implied epoch count, and the first step at which the
    source starts repeating (cumulative draw exceeds availability;
    NULL if the run never exhausts it).

    One grid aggregate over :func:`anneal_schedule`'s output joined to
    the per-source availability — #sources-sized output.
    """
    sched = anneal_schedule(
        df, source_col, weight_col, n_steps, batch_size
    )
    avail = df.groupBy(source_col).agg(
        F.count("*").cast("long").alias("n_available")
    )
    j = sched.join(F.broadcast(avail), source_col)
    return (
        j.groupBy(source_col)
        .agg(
            F.max("n_available").alias("n_available"),
            F.sum("n_seqs").cast("long").alias("n_drawn"),
            F.min(
                F.when(
                    F.col("cum_seqs") > F.col("n_available"), F.col("step")
                )
            )
            .cast("long")
            .alias("first_repeat_step"),
        )
        .select(
            source_col,
            "n_available",
            "n_drawn",
            F.round(F.col("n_drawn") / F.col("n_available"), 9).alias(
                "epochs"
            ),
            "first_repeat_step",
        )
    )


def repetition_budget_sql(
    table: str = "documents",
    source_col: str = "source",
    weight_expr: str = "1",
    n_steps: int = 100,
    batch_size: int = 1024,
) -> str:
    """DuckDB twin of :func:`repetition_budget`."""
    inner = anneal_schedule_sql(
        table, source_col, weight_expr, n_steps, batch_size
    )
    return f"""
      SELECT s.{source_col},
             max(a.n_available) AS n_available,
             CAST(sum(s.n_seqs) AS BIGINT) AS n_drawn,
             round(CAST(sum(s.n_seqs) AS DOUBLE) / max(a.n_available), 9)
               AS epochs,
             CAST(min(CASE WHEN s.cum_seqs > a.n_available
                           THEN s.step END) AS BIGINT)
               AS first_repeat_step
      FROM ({inner}) s
      JOIN (SELECT {source_col},
                   CAST(count(*) AS BIGINT) AS n_available
            FROM {table} GROUP BY {source_col}) a
        ON s.{source_col} = a.{source_col}
      GROUP BY s.{source_col}
    """


# ----------------------------------------------- bin/idx export manifest ----


def shard_prefix(
    base: DataFrame,
    id_col: str,
    masses: dict[str, Column],
    starts: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The per-shard prefix sum behind every append-only layout (byte
    offsets, seq indices, token offsets): ``base``, which carries a
    ``shard`` column, plus one BIGINT column per ``masses`` entry holding
    the sum of that mass over the shard's earlier rows in ``id_col``
    order. One window, no pandas kernel.

    ``starts`` is a (shard, *masses) frame of where each shard's layout
    already stands: a streaming twin's carried cursor. Its shards start
    there (others at 0), joined in by broadcast. Also returns each
    shard's mass totals, the cursor advance a twin adds to ``starts``;
    appending a delta laid out this way to the layout of everything
    before it IS the layout of the union, when ids arrive in order."""
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    laid = base.select(
        *base.columns,
        *[
            F.coalesce(F.sum(m).over(w), F.lit(0)).cast("long").alias(n)
            for n, m in masses.items()
        ],
    )
    if starts is not None:
        carried = starts.select(
            "shard", *[F.col(n).alias(f"_at_{n}") for n in masses]
        )
        laid = laid.join(F.broadcast(carried), "shard", "left").select(
            *base.columns,
            *[
                (F.col(n) + F.coalesce(f"_at_{n}", F.lit(0))).alias(n)
                for n in masses
            ],
        )
    totals = base.groupBy("shard").agg(
        *[F.sum(m).cast("long").alias(n) for n, m in masses.items()]
    )
    return laid, totals


def binidx_layout(df, id_col, len_col, n_shards, bytes_per_token, starts=None):
    """:func:`binidx_manifest` from carried per-shard ``starts`` (next
    seq_index, next byte_offset), with the delta's totals: see
    :func:`shard_prefix`."""
    s_, bpt = int(n_shards), int(bytes_per_token)
    base = df.select(
        F.col(id_col),
        F.expr(f"{id_col} % {s_}").cast("long").alias("shard"),
        F.col(len_col).cast("long").alias("n_tokens"),
        (F.col(len_col).cast("long") * bpt).alias("n_bytes"),
    )
    masses = {"seq_index": F.lit(1), "byte_offset": F.col("n_bytes")}
    laid, totals = shard_prefix(base, id_col, masses, starts)
    return laid.select(
        id_col, "shard", "seq_index", "n_tokens", "n_bytes", "byte_offset"
    ), totals


def binidx_manifest(
    df: DataFrame,
    id_col: str = "doc_id",
    len_col: str = "n_words",
    n_shards: int = 4,
    bytes_per_token: int = 2,
) -> DataFrame:
    """Megatron-style ``.bin``/``.idx`` export layout: per document, the
    shard it serializes into, its index within the shard, and its exact
    byte offset in the shard's ``.bin`` file (tokens stored at
    ``bytes_per_token`` — 2 for a <65k vocab). This IS the ``.idx``
    sidecar, computed declaratively so the writer job can stream
    documents to their precomputed offsets in parallel.

    Sharding follows the packer's discipline (``id % n_shards``, id
    order within shard — same layout on any cluster shape); index and
    offset are ONE per-shard ordered prefix sum (:func:`shard_prefix`),
    which is the semantics: a serialized file is inherently sequential
    per shard, and shards scale out with ``n_shards``.
    """
    return binidx_layout(df, id_col, len_col, n_shards, bytes_per_token)[0]


def binidx_manifest_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    len_expr: str = "len(string_split(text, ' '))",
    n_shards: int = 4,
    bytes_per_token: int = 2,
) -> str:
    """DuckDB twin of :func:`binidx_manifest`."""
    s_, bpt = int(n_shards), int(bytes_per_token)
    return f"""
      WITH base AS (
        SELECT {id_col},
               CAST({id_col} % {s_} AS BIGINT) AS shard,
               CAST({len_expr} AS BIGINT) AS n_tokens,
               CAST({len_expr} AS BIGINT) * {bpt} AS n_bytes
        FROM {table}
      )
      SELECT {id_col}, shard,
             CAST(row_number() OVER w - 1 AS BIGINT) AS seq_index,
             n_tokens, n_bytes,
             CAST(coalesce(sum(n_bytes) OVER (
                    PARTITION BY shard ORDER BY {id_col}
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS byte_offset
      FROM base
      WINDOW w AS (PARTITION BY shard ORDER BY {id_col})
    """


# -------------------------------------------- Kneser-Ney trigram scoring ----


def kneser_ney3_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
) -> DataFrame:
    """Interpolated Kneser-Ney TRIGRAM LM quality score: mean
    log p_KN(w3 | w1 w2) per document — one order deeper than
    :func:`kneser_ney_logprob`, the next step toward the 5-gram KenLM
    models CCNet-style filters ship. The recursion is the textbook one
    (lower orders use CONTINUATION counts, all derived from the trigram
    type table so both engines share one definition):

        p_uni(w3)      = N1+(·,w3) / N1+(·,·)
        p_bi(w3|w2)    = (max(N1+(·,w2,w3) − D, 0)
                          + D·N1+(w2,·)·p_uni(w3)) / N1+(·,w2,·)
        p_tri(w3|w1w2) = (max(c(w1w2w3) − D, 0)
                          + D·N1+(w1w2,·)·p_bi(w3|w2)) / c(w1w2·)

    where N1+(·,w2,w3) counts distinct w1 preceding the (w2,w3) type,
    N1+(·,w2,·) sums those over w3, N1+(w2,·) counts distinct w3 types
    after w2, N1+(·,w3)/N1+(·,·) are (w2,w3)-type-based continuation
    unigram counts. Each layer redistributes exactly its discount mass,
    so p_tri sums to 1 over the full vocabulary for every seen history
    (property-pinned).

    Scale and determinism mirror the bigram operator: the model is five
    integer aggregates of the trigram type table (type-vocabulary-sized,
    broadcast while they fit), D = 0.75 is binary-exact, the expression
    is textually parallel in the SQL twin, per-triple logs are rounded
    to 9 digits and decimal-summed. Docs with fewer than 3 words have no
    trigrams and are absent.
    """
    d = float(discount)
    triples = word_ngrams(df, 3, text_col, id_col)
    tc = triples.groupBy("w1", "w2", "w3").agg(
        F.count("*").cast("long").alias("c")
    )
    h12 = tc.groupBy("w1", "w2").agg(
        F.sum("c").cast("long").alias("h12"),
        F.count("*").cast("long").alias("n1fw12"),
    )
    m = tc.groupBy("w2", "w3").agg(F.count("*").cast("long").alias("m"))
    mh = m.groupBy("w2").agg(
        F.sum("m").cast("long").alias("mh"),
        F.count("*").cast("long").alias("n1fw2c"),
    )
    bw = m.groupBy("w3").agg(F.count("*").cast("long").alias("n1bw"))
    tt = m.agg(F.count("*").cast("long").alias("tt"))
    # expression shape mirrored 1:1 in the SQL twin — see docstring
    p_uni = F.col("n1bw").cast("double") / F.col("tt")
    p_bi = (
        F.greatest(F.col("m").cast("double") - F.lit(d), F.lit(0.0))
        + F.lit(d) * F.col("n1fw2c") * p_uni
    ) / F.col("mh")
    p_tri = (
        F.greatest(F.col("c").cast("double") - F.lit(d), F.lit(0.0))
        + F.lit(d) * F.col("n1fw12") * p_bi
    ) / F.col("h12")
    scored = (
        triples.join(F.broadcast(tc), ["w1", "w2", "w3"])
        .join(F.broadcast(h12), ["w1", "w2"])
        .join(F.broadcast(m), ["w2", "w3"])
        .join(F.broadcast(mh), "w2")
        .join(F.broadcast(bw), "w3")
        .crossJoin(F.broadcast(tt))
        .select(
            id_col,
            F.round(F.log(p_tri), 9).cast("decimal(30,15)").alias("lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_trigrams"),
        F.round(F.sum("lp").cast("double") / F.count("*"), 6).alias(
            "mean_logprob"
        ),
    )


def kneser_ney3_logprob_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
) -> str:
    """DuckDB twin of :func:`kneser_ney3_logprob` — the p expressions are
    textually parallel to the Spark side so both engines perform the same
    IEEE-754 operations in the same order before the 9-digit round."""
    d = repr(float(discount))
    return f"""
      WITH w AS (
        SELECT {id_col}, string_split({text_col}, ' ') AS wrd
        FROM {table}
      ),
      z AS (
        SELECT {id_col},
               unnest(wrd[1 : len(wrd) - 2]) AS w1,
               unnest(wrd[2 : len(wrd) - 1]) AS w2,
               unnest(wrd[3 : len(wrd)]) AS w3
        FROM w WHERE len(wrd) >= 3
      ),
      t AS (SELECT * FROM z WHERE w1 <> '' AND w2 <> '' AND w3 <> ''),
      tc AS (
        SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c
        FROM t GROUP BY w1, w2, w3
      ),
      h12 AS (
        SELECT w1, w2, CAST(sum(c) AS BIGINT) AS h12,
               CAST(count(*) AS BIGINT) AS n1fw12
        FROM tc GROUP BY w1, w2
      ),
      m AS (
        SELECT w2, w3, CAST(count(*) AS BIGINT) AS m
        FROM tc GROUP BY w2, w3
      ),
      mh AS (
        SELECT w2, CAST(sum(m) AS BIGINT) AS mh,
               CAST(count(*) AS BIGINT) AS n1fw2c
        FROM m GROUP BY w2
      ),
      bw AS (
        SELECT w3, CAST(count(*) AS BIGINT) AS n1bw FROM m GROUP BY w3
      ),
      tt AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM m)
      SELECT t.{id_col} AS {id_col},
             CAST(count(*) AS BIGINT) AS n_trigrams,
             round(CAST(sum(CAST(round(ln(
                 (greatest(CAST(tc.c AS DOUBLE) - {d}, 0.0)
                  + {d} * h12.n1fw12 *
                    ((greatest(CAST(m.m AS DOUBLE) - {d}, 0.0)
                      + {d} * mh.n1fw2c *
                        (CAST(bw.n1bw AS DOUBLE) / tt.tt)) / mh.mh))
                 / h12.h12
               ), 9) AS DECIMAL(30,15))) AS DOUBLE) / count(*), 6)
               AS mean_logprob
      FROM t
      JOIN tc ON t.w1 = tc.w1 AND t.w2 = tc.w2 AND t.w3 = tc.w3
      JOIN h12 ON t.w1 = h12.w1 AND t.w2 = h12.w2
      JOIN m ON t.w2 = m.w2 AND t.w3 = m.w3
      JOIN mh ON t.w2 = mh.w2
      JOIN bw ON t.w3 = bw.w3
      CROSS JOIN tt
      GROUP BY t.{id_col}
    """


# ------------------------------------------------- bottom-k uniform sample ----


def bottomk_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    k: int = 100,
    keep_cols: tuple[str, ...] = ("source", "n_chars"),
) -> DataFrame:
    """Deterministic uniform sample WITHOUT replacement: the ``k``
    documents with the smallest md5(id) — a bottom-k summary. Unlike
    rate-based hash sampling (``hash_sample``), the output size is
    EXACTLY ``k``; unlike ``ORDER BY rand()``, the same corpus yields
    the same sample on every run, cluster shape, and snapshot, and the
    summary is MERGEABLE: bottom-k of a union is the bottom-k of the
    merged bottom-ks.

    Plan shape: sort+limit compiles to TakeOrderedAndProject —
    per-partition top-k then a k-row merge on the driver side of the
    exchange, never a global sort (plan-pinned in pytest).
    """
    cols = [id_col, *keep_cols]
    return (
        df.select(
            *cols,
            F.md5(F.col(id_col).cast("string")).alias("sample_key"),
        )
        .orderBy("sample_key", id_col)
        .limit(int(k))
    )


def bottomk_sample_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    k: int = 100,
    keep_cols: tuple[str, ...] = ("source", "n_chars"),
) -> str:
    """DuckDB twin of :func:`bottomk_sample`."""
    cols = ", ".join([id_col, *keep_cols])
    return f"""
      SELECT {cols}, md5(CAST({id_col} AS VARCHAR)) AS sample_key
      FROM {table}
      ORDER BY sample_key, {id_col}
      LIMIT {int(k)}
    """


def stratified_bottomk(
    df: DataFrame,
    strata_col: str = "source",
    id_col: str = "doc_id",
    k: int = 25,
    keep_cols: tuple[str, ...] = ("n_chars",),
) -> DataFrame:
    """Deterministic EXACT-k-per-stratum sample: within each stratum,
    the ``k`` documents with the smallest md5(id). The eval-set /
    human-review construction primitive — ``hash_sample`` gives a rate,
    ``bottomk_sample`` a global k; this gives the per-group quota
    exactly, reproducibly on any cluster shape or corpus snapshot.

    Scale note: the rank-limit filter compiles to Spark's
    WindowGroupLimit (plan-pinned) — each input partition is pruned to
    its per-stratum top-k BEFORE the shuffle, so the exchange carries
    ≤ k·#strata·#partitions rows and the per-group sort touches pruned
    data, never the full group.
    """
    w = Window.partitionBy(strata_col).orderBy("sample_key", id_col)
    return (
        df.select(
            strata_col,
            id_col,
            *keep_cols,
            F.md5(F.col(id_col).cast("string")).alias("sample_key"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= int(k))
        .select(
            strata_col,
            id_col,
            *keep_cols,
            "sample_key",
            F.col("rk").cast("long").alias("rk"),
        )
    )


def stratified_bottomk_sql(
    table: str = "documents",
    strata_col: str = "source",
    id_col: str = "doc_id",
    k: int = 25,
    keep_cols: tuple[str, ...] = ("n_chars",),
) -> str:
    """DuckDB twin of :func:`stratified_bottomk`."""
    keeps = "".join(f", {c}" for c in keep_cols)
    return f"""
      SELECT {strata_col}, {id_col}{keeps}, sample_key,
             CAST(rk AS BIGINT) AS rk
      FROM (
        SELECT {strata_col}, {id_col}{keeps},
               md5(CAST({id_col} AS VARCHAR)) AS sample_key,
               row_number() OVER (
                 PARTITION BY {strata_col}
                 ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col}
               ) AS rk
        FROM {table}
      )
      WHERE rk <= {int(k)}
    """


def mixture_manifest(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    n_steps: int = 100,
    batch_size: int = 1024,
) -> DataFrame:
    """Materialize WHICH documents each training step draws under
    :func:`mixture_schedule`: per source, documents are consumed in
    md5(id) order (snapshot/cluster-shape-stable), and step ``t`` takes
    the per-source slice ``(cum(t-1), cum(t)]`` of that order. Returns
    (doc_id, source, rank, step, position) — ``position`` is 1-based
    within the step's per-source slice; documents beyond ``cum(T)``
    (never drawn this run) are absent. This is the data-loader artifact:
    a shard reader joins it to serve exactly the schedule.

    Scale design — the step is computed by INVERTING the schedule's
    closed form, not by joining the corpus to the step grid (an
    interval join would probe every step of a doc's source — O(corpus ×
    steps)):

        cum_s(t) = q·t + (r·t) DIV N,  q = (n_s·B) DIV N, r = (n_s·B) % N

    is within 1 of ``rate·t`` (rate = n_s·B/N), so the unique step with
    ``cum(t-1) < rank <= cum(t)`` lies in {t0−1, t0, t0+1} for
    ``t0 = ceil(rank / rate)`` — the double selects the neighborhood,
    EXACT integer verification of the three candidates picks the step
    (overflow-safe q/r form, deterministic cross-engine). The per-source
    rank is one key shuffle + per-group sort — the consumption order IS
    the semantics (the binidx argument).
    """
    t_, b_ = int(n_steps), int(batch_size)
    c = mixture_counts(df, source_col)
    tot = c.agg(F.sum("n").cast("long").alias("n_total"))
    qr = c.crossJoin(F.broadcast(tot)).select(
        source_col,
        F.col("n"),
        F.expr(f"(n * {b_}) DIV n_total").alias("q"),
        F.expr(f"(n * {b_}) % n_total").alias("r"),
        "n_total",
    )
    w = Window.partitionBy(source_col).orderBy("sample_key", id_col)
    ranked = (
        df.select(
            source_col,
            id_col,
            F.md5(F.col(id_col).cast("string")).alias("sample_key"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .join(F.broadcast(qr), source_col)
    )

    def cumf(texpr: str) -> str:  # exact integer cumulative draw
        return f"(q * ({texpr}) + (r * ({texpr})) DIV n_total)"

    # the schedule draws cum_T sequences per source over the run — MORE
    # than n_s when the run repeats data (the repetition_budget case) —
    # so a doc at consumption rank k serves draws k, k + n_s, k + 2·n_s,
    # ... <= cum_T: explode the per-doc epoch list map-side (factor =
    # the source's epoch count), then invert each DRAW to its step
    drawn = (
        ranked.withColumn("cum_t", F.expr(cumf(str(t_))))
        .filter(F.col("rank") <= F.col("cum_t"))
        .withColumn(
            "epoch",
            F.explode(
                F.sequence(
                    F.lit(1),
                    (F.expr("(cum_t - rank) DIV n") + F.lit(1)).cast("int"),
                )
            ),
        )
        .withColumn("draw", F.expr("rank + (epoch - 1) * n"))
    )

    t0 = F.expr(
        "CAST(ceil(draw / ((q * n_total + r) / CAST(n_total AS DOUBLE)))"
        " AS BIGINT)"
    )
    with_t0 = drawn.withColumn(
        "t0", F.greatest(F.least(t0, F.lit(t_)), F.lit(1))
    )
    hits = []
    for d in (-1, 0, 1):
        t = f"greatest(least(t0 + ({d}), {t_}), 1)"
        hits.append(
            f"CASE WHEN draw <= {cumf(t)} AND draw > {cumf(f'({t}) - 1')} "
            f"THEN {t} END"
        )
    out = with_t0.withColumn(
        "step", F.expr("coalesce(" + ", ".join(hits) + ")").cast("long")
    ).filter(F.col("step").isNotNull())
    return out.select(
        id_col,
        source_col,
        "rank",
        F.col("epoch").cast("long").alias("epoch"),
        "draw",
        "step",
        (
            F.col("draw")
            - F.expr("q * (step - 1) + (r * (step - 1)) DIV n_total")
        )
        .cast("long")
        .alias("position"),
    )


def mixture_manifest_sql(
    table: str = "documents",
    source_col: str = "source",
    id_col: str = "doc_id",
    n_steps: int = 100,
    batch_size: int = 1024,
) -> str:
    """DuckDB twin of :func:`mixture_manifest` — the same closed-form
    inverse with exact integer candidate verification."""
    t_, b_ = int(n_steps), int(batch_size)

    def cumf(t):
        return f"(q * ({t}) + (r * ({t})) // n_total)"

    hits = []
    for d in (-1, 0, 1):
        t = f"greatest(least(t0 + ({d}), {t_}), 1)"
        hits.append(
            f"CASE WHEN draw <= {cumf(t)} AND draw > {cumf(f'({t}) - 1')} "
            f"THEN {t} END"
        )
    step = f"coalesce({', '.join(hits)})"
    return f"""
      WITH c AS (
        SELECT {source_col}, CAST(count(*) AS BIGINT) AS n
        FROM {table} GROUP BY {source_col}
      ),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM c),
      qr AS (
        SELECT {source_col}, n,
               (n * {b_}) // n_total AS q, (n * {b_}) % n_total AS r,
               n_total
        FROM c, tot
      ),
      ranked AS (
        SELECT d.{source_col}, d.{id_col},
               CAST(row_number() OVER (
                 PARTITION BY d.{source_col}
                 ORDER BY md5(CAST(d.{id_col} AS VARCHAR)), d.{id_col}
               ) AS BIGINT) AS rank,
               qr.n, qr.q, qr.r, qr.n_total
        FROM {table} d JOIN qr ON d.{source_col} = qr.{source_col}
      ),
      drawn AS (
        SELECT *,
               CAST(e AS BIGINT) + 1 AS epoch,
               rank + CAST(e AS BIGINT) * n AS draw
        FROM (SELECT *, {cumf(str(t_))} AS cum_t FROM ranked)
        CROSS JOIN LATERAL unnest(generate_series(0, (cum_t - rank) // n))
          AS u(e)
        WHERE rank <= cum_t
      ),
      with_t0 AS (
        SELECT *, greatest(least(CAST(ceil(draw /
                 ((q * n_total + r) / CAST(n_total AS DOUBLE)))
               AS BIGINT), {t_}), 1) AS t0
        FROM drawn
      ),
      stepped AS (
        SELECT {id_col}, {source_col}, rank, epoch, draw, q, r, n_total,
               CAST({step} AS BIGINT) AS step
        FROM with_t0
      )
      SELECT {id_col}, {source_col}, rank, epoch, draw, step,
             CAST(draw - (q * (step - 1) + (r * (step - 1)) // n_total)
                  AS BIGINT) AS position
      FROM stepped
      WHERE step IS NOT NULL
    """


def step_read_plan(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    len_col: str = "n_words",
    n_steps: int = 100,
    batch_size: int = 1024,
    n_shards: int = 4,
    bytes_per_token: int = 2,
) -> DataFrame:
    """The loader's per-(step, shard) I/O plan: join the mixing manifest
    (WHICH doc serves each step — :func:`mixture_manifest`) to the
    ``.bin`` layout (WHERE each doc's tokens live —
    :func:`binidx_manifest`) and aggregate each step's reads per shard
    file into offset-ordered arrays. This is the artifact a data loader
    executes: for training step ``t``, open shard ``s`` and read exactly
    these (byte_offset, n_bytes) segments.

    Scale: one equi join on the doc id (both sides corpus-sized once,
    then the manifest is step-filtered upstream in practice), then a
    partial-agg shuffle to the step×shard grid; per-row arrays are
    batch-size-bounded (a step draws ``batch_size`` docs total), so the
    collect per cell can never exceed the training batch — the
    ``pack_segments`` capacity-bounded-collect discipline.
    """
    man = mixture_manifest(df, source_col, id_col, n_steps, batch_size)
    layout = binidx_manifest(
        df, id_col, len_col, n_shards, bytes_per_token
    ).select(id_col, "shard", "n_bytes", "byte_offset")
    j = man.join(layout, id_col)
    return (
        j.groupBy("step", "shard")
        .agg(
            F.count("*").cast("long").alias("n_reads"),
            F.sum("n_bytes").cast("long").alias("bytes_total"),
            F.array_sort(
                F.collect_list(F.struct("byte_offset", "n_bytes"))
            ).alias("reads"),
        )
        .select(
            "step",
            "shard",
            "n_reads",
            "bytes_total",
            F.transform("reads", lambda r: r["byte_offset"]).alias(
                "offsets"
            ),
            F.transform("reads", lambda r: r["n_bytes"]).alias("sizes"),
        )
    )


def step_read_plan_sql(
    table: str = "documents",
    source_col: str = "source",
    id_col: str = "doc_id",
    len_expr: str = "len(string_split(text, ' '))",
    n_steps: int = 100,
    batch_size: int = 1024,
    n_shards: int = 4,
    bytes_per_token: int = 2,
) -> str:
    """DuckDB twin of :func:`step_read_plan`."""
    man = mixture_manifest_sql(
        table, source_col, id_col, n_steps, batch_size
    )
    layout = binidx_manifest_sql(
        table, id_col, len_expr, n_shards, bytes_per_token
    )
    return f"""
      SELECT m.step, l.shard,
             CAST(count(*) AS BIGINT) AS n_reads,
             CAST(sum(l.n_bytes) AS BIGINT) AS bytes_total,
             list(l.byte_offset ORDER BY l.byte_offset) AS offsets,
             list(l.n_bytes ORDER BY l.byte_offset) AS sizes
      FROM ({man}) m
      JOIN ({layout}) l ON m.{id_col} = l.{id_col}
      GROUP BY m.step, l.shard
    """


# ----------------------------------------------- length-grouped batching ----


def _batch_no(batch_size: int) -> Column:
    """Batch index of a row within its bucket, by integer ``DIV`` as in
    the DuckDB twin: a float ``/`` rounds once the within-bucket rank
    passes 2^53."""
    return F.expr(f"(rank - _off) DIV {int(batch_size)}")


def bucketed_batches(
    df: DataFrame,
    id_col: str = "doc_id",
    len_col: str = "n_tok",
    batch_size: int = 8,
) -> DataFrame:
    """Length-grouped (dynamic) batch formation — the loader artifact
    between :func:`length_buckets` (pad-to-bucket bill) and
    :func:`pack_sequences` (no-pad packing): group sequences into their
    pow2 length bucket, shuffle each bucket deterministically by
    md5(id), cut the bucket into batches of ``batch_size``, and report
    the PAD-TO-LONGEST-IN-BATCH bill a dynamic-batching trainer
    actually pays: per (bucket_max, batch_no) — n_seqs, max_len,
    payload_tokens, pad_tokens = n_seqs·max_len − payload, and the
    rounded fill fraction. Within a pow2 bucket, pad-to-longest is
    bounded below 2× by construction; this report shows how much below.

    Scale: the per-bucket order is NOT a per-bucket window (64 buckets
    over 10^12 rows would funnel whole buckets through single tasks) —
    it reuses the two-phase ``ranking.global_rank`` on the composite
    key (bucket, md5, id): range-repartition spreads every bucket
    across many range partitions, ranks are exact global positions, and
    the per-bucket rank is recovered by subtracting the bucket's min
    rank (a ≤64-row grid agg broadcast back). Batch cuts and the final
    (bucket, batch_no) partial agg are then pure integer math. The
    md5 ordering makes batch membership a function of corpus CONTENT
    only — stable across cluster shapes, snapshots, and resumes, the
    same argument as bottomk_sample.
    """
    from bistro_spark.operators.ranking import global_rank

    n = F.col(len_col).cast("long")
    base = df.select(
        F.col(id_col).alias("_id"),
        n.alias("_n"),
        F.md5(F.col(id_col).cast("string")).alias("_m"),
    ).withColumn(
        "bucket_max",
        F.expr(
            "CASE WHEN _n <= 1 THEN _n "
            "ELSE shiftleft(CAST(1 AS BIGINT), length(bin(_n - 1))) END"
        ),
    )
    ranked = global_rank(base, ["bucket_max", "_m", "_id"])
    offs = ranked.groupBy("bucket_max").agg(
        F.min("rank").alias("_off")
    )
    return (
        ranked.join(F.broadcast(offs), "bucket_max")
        .withColumn("batch_no", _batch_no(batch_size))
        .groupBy("bucket_max", "batch_no")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_seqs"),
            F.max("_n").cast("long").alias("max_len"),
            F.sum("_n").cast("long").alias("payload_tokens"),
        )
        .withColumn(
            "pad_tokens",
            (F.col("n_seqs") * F.col("max_len") - F.col("payload_tokens"))
            .cast("long"),
        )
        .withColumn(
            "fill_frac",
            F.round(
                F.when(
                    F.col("max_len") > 0,
                    F.col("payload_tokens")
                    / (F.col("n_seqs") * F.col("max_len")),
                ).otherwise(F.lit(1.0)),
                6,
            ),
        )
    )


def bucketed_batches_sql(
    seq_table: str,
    id_col: str = "doc_id",
    len_col: str = "n_tok",
    batch_size: int = 8,
) -> str:
    """DuckDB twin (the definitional per-bucket window form — fine at
    oracle scale). ``seq_table`` is a full SELECT producing (id, len)."""
    return f"""
      WITH s AS (
        SELECT {id_col} AS id, CAST({len_col} AS BIGINT) AS n,
               md5(CAST({id_col} AS VARCHAR)) AS m
        FROM ({seq_table})),
      b AS (
        SELECT id, n, m,
               CASE WHEN n <= 1 THEN n
                    ELSE CAST(1 AS BIGINT) << length(bin(n - 1))
                    END AS bucket_max
        FROM s),
      r AS (
        SELECT bucket_max, n,
               (row_number() OVER (
                  PARTITION BY bucket_max ORDER BY m, id) - 1)
                 // {int(batch_size)} AS batch_no
        FROM b)
      SELECT bucket_max, CAST(batch_no AS BIGINT) AS batch_no,
             CAST(count(*) AS BIGINT) AS n_seqs,
             CAST(max(n) AS BIGINT) AS max_len,
             CAST(sum(n) AS BIGINT) AS payload_tokens,
             CAST(count(*) * max(n) - sum(n) AS BIGINT) AS pad_tokens,
             round(CASE WHEN max(n) > 0
                        THEN sum(n) / CAST(count(*) * max(n) AS DOUBLE)
                        ELSE 1.0 END, 6) AS fill_frac
      FROM r GROUP BY bucket_max, batch_no
    """


# ------------------------------------------- context-length truncation ----


def context_truncation_sweep(
    df: DataFrame,
    len_col: str = "n_tok",
    lengths: tuple[int, ...] = (128, 256, 512, 1024),
) -> DataFrame:
    """What does each candidate context length L throw away? Per L:
    documents truncated (n > L), tokens lost (Σ max(n−L, 0)), and the
    lost fraction of the corpus — the context-window sizing decision
    artifact, pairing with :func:`length_buckets` (padding bill) and
    ``ranking.vocab_truncation_sweep`` (the vocabulary analog, whose
    grid discipline this reuses: the length grid multiplies AGG COLUMNS
    in one corpus pass — parallel conditional sums stacked to rows
    afterwards — never corpus rows or passes).

    Exact integers throughout; frac_lost is the one float, rounded 9.
    """
    return context_truncation_sweep_from_counts(
        truncation_counts(df, len_col, lengths), lengths
    )


def truncation_counts(
    df: DataFrame,
    len_col: str = "n_tok",
    lengths: tuple[int, ...] = (128, 256, 512, 1024),
) -> DataFrame:
    """The partials of :func:`context_truncation_sweep`: one row of
    additive sums (total_docs, total_tokens, tr_<L>, lost_<L> per L)."""
    n = F.col(len_col).cast("long")
    aggs = [
        F.count(F.lit(1)).cast("long").alias("total_docs"),
        F.sum(n).cast("long").alias("total_tokens"),
    ]
    for L in lengths:
        aggs.append(
            F.sum(F.when(n > int(L), F.lit(1)).otherwise(0))
            .cast("long")
            .alias(f"tr_{int(L)}")
        )
        aggs.append(
            F.sum(F.greatest(n - int(L), F.lit(0)))
            .cast("long")
            .alias(f"lost_{int(L)}")
        )
    return df.agg(*aggs)


def context_truncation_sweep_from_counts(
    row: DataFrame, lengths: tuple[int, ...] = (128, 256, 512, 1024)
) -> DataFrame:
    """The finalizer of :func:`context_truncation_sweep`: stack a
    :func:`truncation_counts` row to one row per L, plus frac_lost."""
    stack = ", ".join(
        f"{int(L)}L, tr_{int(L)}, lost_{int(L)}" for L in lengths
    )
    return row.select(
        F.expr(
            f"stack({len(lengths)}, {stack}) "
            "AS (context_len, n_truncated, tokens_lost)"
        ),
        "total_docs",
        "total_tokens",
    ).select(
        "context_len",
        "n_truncated",
        "tokens_lost",
        "total_docs",
        "total_tokens",
        F.round(
            F.when(
                F.col("total_tokens") > 0,
                F.col("tokens_lost") / F.col("total_tokens"),
            ).otherwise(F.lit(0.0)),
            9,
        ).alias("frac_lost"),
    )


def context_truncation_sweep_sql(
    seq_table: str,
    len_col: str = "n_tok",
    lengths: tuple[int, ...] = (128, 256, 512, 1024),
) -> str:
    """DuckDB twin (definitional grid cross join — oracle scale only)."""
    grid = ", ".join(f"({int(L)})" for L in lengths)
    return f"""
      WITH s AS (
        SELECT CAST({len_col} AS BIGINT) AS n FROM ({seq_table})),
      g(context_len) AS (VALUES {grid})
      SELECT CAST(g.context_len AS BIGINT) AS context_len,
             CAST(sum(CASE WHEN s.n > g.context_len THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_truncated,
             CAST(sum(greatest(s.n - g.context_len, 0)) AS BIGINT)
               AS tokens_lost,
             CAST(count(*) AS BIGINT) AS total_docs,
             CAST(sum(s.n) AS BIGINT) AS total_tokens,
             round(CASE WHEN sum(s.n) > 0
                        THEN sum(greatest(s.n - g.context_len, 0))
                             / CAST(sum(s.n) AS DOUBLE)
                        ELSE 0.0 END, 9) AS frac_lost
      FROM g CROSS JOIN s
      GROUP BY g.context_len
    """


# ------------------------------------------------ split leakage audit ----


def split_leakage_audit(
    edges: DataFrame,
    assign: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    id_col: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """Audit an EXISTING split assignment against a near-dup edge set —
    the measurement companion to the leakage-safe constructor: per
    unordered split pair (split_lo ≤ split_hi), how many near-dup edges
    land there, flagged ``is_leak`` when the two endpoints disagree
    (eval text whose near-duplicate sits in train). A split built on
    doc ids will show non-zero leak rows; one built on cluster
    representatives shows none — that is the check a release gate runs.

    Scale: two id-keyed equi joins (edges are the candidate-bounded
    near-dup output, far smaller than the corpus) + one grid partial
    agg; output ≤ |splits|² rows.
    """
    a = assign.select(
        F.col(id_col).alias("_ia"), F.col(split_col).alias("_sa")
    )
    b = assign.select(
        F.col(id_col).alias("_ib"), F.col(split_col).alias("_sb")
    )
    return (
        edges.select(F.col(id_a).alias("_ia"), F.col(id_b).alias("_ib"))
        .join(a, "_ia")
        .join(b, "_ib")
        .select(
            F.least("_sa", "_sb").alias("split_lo"),
            F.greatest("_sa", "_sb").alias("split_hi"),
        )
        .groupBy("split_lo", "split_hi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .withColumn("is_leak", F.col("split_lo") != F.col("split_hi"))
    )


# -------------------------------------------- batching strategy report ----


def batching_strategy_report(
    df: DataFrame,
    id_col: str = "doc_id",
    len_col: str = "n_tok",
    capacity: int = 256,
    batch_size: int = 8,
    n_shards: int = 4,
) -> DataFrame:
    """THE loader-strategy decision table: the three ways to feed fixed
    compute — greedy no-split packing at ``capacity``, pad-to-pow2-
    bucket, and dynamic pad-to-longest-in-batch at ``batch_size`` —
    compared on one corpus in one report: (strategy, config, n_units,
    payload_tokens, waste_tokens, waste_frac). ``n_units`` is what the
    trainer iterates (packs / padded sequences / batches);
    ``waste_frac`` = waste ÷ (payload + waste), the fraction of forward-
    pass compute spent on padding. Pack waste counts per-pack slack
    ``max(0, capacity − fill)`` so oversize single-doc packs never net
    negative (the pack_capacity_sweep rule).

    Scale: three grid-sized aggregates of operators whose own scale
    stories are already documented (:func:`pack_sequences`'s sharded
    kernel, :func:`length_buckets`'s partial agg,
    :func:`bucketed_batches`'s two-phase rank) unioned into a 3-row
    artifact — the corpus is read once per strategy, never joined.
    """
    strat = []
    # 1. greedy no-split packing
    per_pack = (
        pack_sequences(
            df,
            id_col=id_col,
            len_col=len_col,
            capacity=capacity,
            n_shards=n_shards,
        )
        .groupBy("shard", "pack_id")
        .agg(F.sum("len").cast("long").alias("fill"))
    )
    strat.append(
        per_pack.agg(
            F.lit("pack").alias("strategy"),
            F.lit(f"capacity={int(capacity)}").alias("config"),
            F.count(F.lit(1)).cast("long").alias("n_units"),
            F.sum("fill").cast("long").alias("payload_tokens"),
            F.sum(F.greatest(F.lit(int(capacity)) - F.col("fill"), F.lit(0)))
            .cast("long")
            .alias("waste_tokens"),
        )
    )
    # 2. pad to pow2 bucket
    lb = length_buckets(
        df.withColumn("_g", F.lit("all")), group_col="_g", len_col=len_col
    )
    strat.append(
        lb.agg(
            F.lit("pad_to_bucket").alias("strategy"),
            F.lit("pow2").alias("config"),
            F.sum("n_seqs").cast("long").alias("n_units"),
            F.sum("payload_tokens").cast("long").alias("payload_tokens"),
            F.sum("pad_waste_tokens").cast("long").alias("waste_tokens"),
        )
    )
    # 3. dynamic pad-to-longest-in-batch
    bb = bucketed_batches(
        df, id_col=id_col, len_col=len_col, batch_size=batch_size
    )
    strat.append(
        bb.agg(
            F.lit("pad_to_batch_max").alias("strategy"),
            F.lit(f"batch={int(batch_size)}").alias("config"),
            F.count(F.lit(1)).cast("long").alias("n_units"),
            F.sum("payload_tokens").cast("long").alias("payload_tokens"),
            F.sum("pad_tokens").cast("long").alias("waste_tokens"),
        )
    )
    out = strat[0]
    for s in strat[1:]:
        out = out.unionByName(s)
    return out.withColumn(
        "waste_frac",
        F.round(
            F.when(
                F.col("payload_tokens") + F.col("waste_tokens") > 0,
                F.col("waste_tokens")
                / (F.col("payload_tokens") + F.col("waste_tokens")),
            ).otherwise(F.lit(0.0)),
            6,
        ),
    )


def batching_strategy_report_sql(
    seq_table: str,
    id_col: str = "doc_id",
    len_col: str = "n_tok",
    capacity: int = 256,
    batch_size: int = 8,
    n_shards: int = 4,
) -> str:
    """DuckDB twin: the three strategies' twins aggregated and
    UNION ALL'd (the recursive pack fold nests inside its CTE)."""
    pack = pack_sequences_sql(
        table="seqsrc",
        id_col=id_col,
        len_expr=len_col,
        capacity=capacity,
        n_shards=n_shards,
        extra_ctes=f"seqsrc AS (SELECT * FROM ({seq_table})),",
    )
    n = f"CAST({len_col} AS BIGINT)"
    bucket = (
        f"CASE WHEN {n} <= 1 THEN {n} "
        f"ELSE CAST(1 AS BIGINT) << length(bin({n} - 1)) END"
    )
    bb = bucketed_batches_sql(
        seq_table, id_col=id_col, len_col=len_col, batch_size=batch_size
    )
    return f"""
      WITH pk AS ({pack}),
      per_pack AS (
        SELECT shard, pack_id, sum(len) AS fill
        FROM pk GROUP BY shard, pack_id),
      s1 AS (
        SELECT 'pack' AS strategy,
               'capacity={int(capacity)}' AS config,
               CAST(count(*) AS BIGINT) AS n_units,
               CAST(sum(fill) AS BIGINT) AS payload_tokens,
               CAST(sum(greatest({int(capacity)} - fill, 0)) AS BIGINT)
                 AS waste_tokens
        FROM per_pack),
      s2 AS (
        SELECT 'pad_to_bucket' AS strategy, 'pow2' AS config,
               CAST(count(*) AS BIGINT) AS n_units,
               CAST(sum(_n) AS BIGINT) AS payload_tokens,
               CAST(sum(bucket_max - _n) AS BIGINT) AS waste_tokens
        FROM (SELECT {n} AS _n, {bucket} AS bucket_max
              FROM ({seq_table}))),
      s3 AS (
        SELECT 'pad_to_batch_max' AS strategy,
               'batch={int(batch_size)}' AS config,
               CAST(count(*) AS BIGINT) AS n_units,
               CAST(sum(payload_tokens) AS BIGINT) AS payload_tokens,
               CAST(sum(pad_tokens) AS BIGINT) AS waste_tokens
        FROM ({bb})),
      u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2
            UNION ALL SELECT * FROM s3)
      SELECT *,
             round(CASE WHEN payload_tokens + waste_tokens > 0
                        THEN waste_tokens /
                             CAST(payload_tokens + waste_tokens AS DOUBLE)
                        ELSE 0.0 END, 6) AS waste_frac
      FROM u
    """


# ----------------------------------------------- attention cost report ----


def pack_attention_cost(
    df: DataFrame,
    id_col: str = "doc_id",
    len_col: str = "n_tok",
    capacity: int = 256,
    n_shards: int = 4,
) -> DataFrame:
    """The quadratic bill packing actually changes: per (shard, pack),
    FULL attention over the concatenated buffer costs payload² token
    pairs, while the block-diagonal mask ``pack_segments`` exists to
    enable costs only Σ len_i² — this report puts both numbers and the
    exact-ppm savings side by side, the sizing artifact that justifies
    shipping segment masks at long context (savings grow with the
    number of documents sharing a buffer). All integer: lengths are
    capacity-bounded so payload² fits comfortably in BIGINT; the
    savings ratio is exact integer ppm.

    Scale: the packing kernel's own documented contract plus ONE grid
    partial agg on (shard, pack_id); output is pack-count-sized.
    """
    packed = pack_sequences(
        df,
        id_col=id_col,
        len_col=len_col,
        capacity=capacity,
        n_shards=n_shards,
    )
    return (
        packed.groupBy("shard", "pack_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_seqs"),
            F.sum("len").cast("long").alias("payload_tokens"),
            F.sum(F.col("len") * F.col("len")).cast("long").alias(
                "block_cost"
            ),
        )
        .withColumn(
            "full_cost",
            (F.col("payload_tokens") * F.col("payload_tokens")).cast(
                "long"
            ),
        )
        .withColumn(
            "savings_ppm",
            F.when(
                F.col("full_cost") > 0,
                F.expr(
                    "((full_cost - block_cost) * 1000000) DIV full_cost"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
    )


def pack_attention_cost_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    len_expr: str = "len(string_split(text, ' '))",
    capacity: int = 256,
    n_shards: int = 4,
) -> str:
    """DuckDB twin: the recursive pack fold aggregated with the same
    integer cost formulas."""
    pack = pack_sequences_sql(
        table=table,
        id_col=id_col,
        len_expr=len_expr,
        capacity=capacity,
        n_shards=n_shards,
    )
    return f"""
      WITH pk AS ({pack})
      SELECT shard, pack_id,
             CAST(count(*) AS BIGINT) AS n_seqs,
             CAST(sum(len) AS BIGINT) AS payload_tokens,
             CAST(sum(len * len) AS BIGINT) AS block_cost,
             CAST(sum(len) * sum(len) AS BIGINT) AS full_cost,
             CAST(CASE WHEN sum(len) > 0
                  THEN ((sum(len) * sum(len) - sum(len * len))
                        * 1000000) // (sum(len) * sum(len))
                  ELSE 0 END AS BIGINT) AS savings_ppm
      FROM pk GROUP BY shard, pack_id
    """


def attention_cost_sweep(
    df: DataFrame,
    capacities: tuple[int, ...] = (128, 256, 512, 1024),
    id_col: str = "doc_id",
    len_col: str = "n_tok",
    n_shards: int = 4,
) -> DataFrame:
    """:func:`pack_attention_cost` across candidate capacities in ONE
    corpus pass — the capacity-vs-attention tradeoff artifact: a larger
    capacity packs tighter (pack_capacity_sweep's fill side) but the
    FULL-attention bill grows quadratically with the buffer, so the
    block-diagonal savings of ``pack_segments`` masks grow with it too.
    Per (capacity, shard): pack count, exact payload, block-diagonal
    cost Σ len², full-attention cost Σ fill², and the exact-ppm
    savings — the numbers that decide both the context length AND
    whether segment masks are worth shipping at that length.

    One ``applyInPandas`` kernel runs :func:`next_fit` per capacity over
    the shard's in-memory length vector (the pack_capacity_sweep
    discipline: extra capacities cost folds, never corpus passes);
    output is |capacities| × n_shards rows at any corpus size, all
    integer except nothing — even the savings is integer ppm."""
    import pandas as pd

    caps = tuple(int(c) for c in capacities)
    bound = MAX_ROWS_PER_SHARD
    src = df.select(
        F.col(id_col),
        (F.col(id_col) % n_shards).cast("int").alias("shard"),
        F.col(len_col).cast("long").alias("len"),
    )
    schema = (
        "capacity int, shard int, n_packs long, payload_tokens long, "
        "block_cost long, full_cost long, savings_ppm long"
    )

    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf, lens = group_lengths(
            pdf, id_col, "len", bound, "MAX_ROWS_PER_SHARD",
            "attention_cost_sweep",
        )
        shard = int(pdf["shard"].iloc[0])
        # Σ len² does not depend on how the docs are packed
        block = int((lens * lens).sum())
        out = []
        for cap in caps:
            fills = _pack_sums(lens, next_fit(lens, cap)[0])
            full = int((fills * fills).sum())
            ppm = ((full - block) * 1_000_000) // full if full else 0
            out.append(
                (cap, shard, len(fills), int(fills.sum()), block, full, ppm)
            )
        return pd.DataFrame(
            out,
            columns=[
                "capacity",
                "shard",
                "n_packs",
                "payload_tokens",
                "block_cost",
                "full_cost",
                "savings_ppm",
            ],
        )

    return src.groupBy("shard").applyInPandas(sweep, schema=schema)


def attention_cost_sweep_sql(
    table: str = "documents",
    capacities: tuple[int, ...] = (128, 256, 512, 1024),
    id_col: str = "doc_id",
    len_expr: str = "len(string_split(text, ' '))",
    n_shards: int = 4,
) -> str:
    """DuckDB twin: one recursive greedy fold per capacity (the
    pack_capacity_sweep oracle discipline), per-pack costs aggregated
    to the (capacity, shard) grid, UNION ALL'd."""
    parts = []
    for cap in capacities:
        pack = pack_sequences_sql(
            table=table,
            id_col=id_col,
            len_expr=len_expr,
            capacity=int(cap),
            n_shards=n_shards,
        )
        parts.append(
            f"""
          SELECT CAST({int(cap)} AS INTEGER) AS capacity,
                 CAST(shard AS INTEGER) AS shard,
                 CAST(count(*) AS BIGINT) AS n_packs,
                 CAST(sum(pl) AS BIGINT) AS payload_tokens,
                 CAST(sum(bc) AS BIGINT) AS block_cost,
                 CAST(sum(pl * pl) AS BIGINT) AS full_cost,
                 CAST(CASE WHEN sum(pl * pl) > 0
                      THEN ((sum(pl * pl) - sum(bc)) * 1000000)
                           // sum(pl * pl)
                      ELSE 0 END AS BIGINT) AS savings_ppm
          FROM (
            SELECT shard, pack_id, sum(len) AS pl,
                   sum(len * len) AS bc
            FROM ({pack}) GROUP BY shard, pack_id)
          GROUP BY shard
        """
        )
    return " UNION ALL ".join(parts)
