"""Training-sequence preparation transforms: fill-in-the-middle (FIM)
reordering, concat-and-cut chunk packing, and curriculum step
assignment.

These are the three sequence-level decisions left between a curated
corpus and a trainer's data loader that the packing family
(``curation.pack_sequences`` / ``pack_segments`` / ``binidx_manifest``)
does not cover:

- :func:`fim_transform` — the FIM data augmentation (Bavarian et al.
  2022, "Efficient Training of Language Models to Fill in the Middle"):
  for a deterministic md5-gated fraction of documents, split the token
  sequence at two deterministic cut points and emit it in
  prefix/suffix/middle order with sentinel tokens. Pure projection —
  zero shuffle, whole-stage codegen, applies unchanged to a stream.

- :func:`concat_chunks` — the OTHER standard packing: concatenate every
  document (plus an end-of-document token) into one per-shard token
  stream and cut it every ``capacity`` tokens, documents splitting
  across chunk boundaries (GPT-style pretraining batches), in contrast
  to ``pack_sequences``'s greedy no-split fold. One per-shard ordered
  prefix-sum window + a bounded sequence-explode — no pandas kernel.

- :func:`curriculum_schedule` — curriculum learning order: rank the
  corpus by a difficulty signal through the two-phase
  ``ranking.global_rank`` (no single-reducer sort) and apportion ranks
  into ``n_steps`` contiguous training buckets; the report is the
  grid-sized artifact a scheduler consumes.

Reference anchor: the bistro reference (asavinov/bistro) has no
sequence-transform layer at all — these extend its calc/link/accu
calculus with the LLM-pipeline operations the north rule targets; the
calc-style contract (derived columns from existing ones, no row
multiplication except the documented chunk explode) is preserved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bistro_spark.operators.curation import shard_prefix
from bistro_spark.session import local_frame

# ------------------------------------------------- fill-in-the-middle ----


def _h(id_col: str, salt: str, mod: int | None = None):
    """Deterministic nonnegative BIGINT from md5(id || salt) — the
    repo-wide cross-engine hash idiom (8 hex chars < 2^32, exact in
    BIGINT on both engines)."""
    v = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    return v % mod if mod else v


def fim_transform(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rate_pct: int = 50,
    min_words: int = 4,
    pre: str = "<PRE>",
    suf: str = "<SUF>",
    mid: str = "<MID>",
) -> DataFrame:
    """Fill-in-the-middle reordering of a ``rate_pct``-percent
    md5-deterministic sample of documents (PSM format): pick a prefix
    length ``a`` in [1, n-1] and a middle end ``b`` in [a, n] from the
    document's own id hash, then emit

        <PRE> w[1..a] <SUF> w[b+1..n] <MID> w[a+1..b]

    (the middle may be empty — a legal FIM instance that teaches pure
    continuation). Documents outside the gate, or shorter than
    ``min_words``, pass through unchanged. Returns
    (id, is_fim, fim_start, fim_end, n_out, out_text).

    Scale: pure per-row projection — no shuffle, no UDF, one
    whole-stage-codegen span; the same expressions serve a streaming
    DataFrame verbatim (``streaming/pack.streaming_fim_gate``).
    Determinism: cut points are md5 functions of the id, so the
    transform is identical on any cluster shape, any partitioning, and
    across re-runs — the property that makes the augmentation
    checkpoint-safe (a resumed run re-derives the same sequences).
    The clamped moduli (``greatest(.., 1)``) keep the unused cut
    expressions ANSI-safe on short and empty documents.
    """
    wrd = F.filter(
        F.split(F.col(text_col), " "), lambda x: x != F.lit("")
    )
    d = df.select(F.col(id_col), wrd.alias("_w"))
    n = F.size("_w")
    gate = _h(id_col, ":fim", 100)
    a = (_h(id_col, ":fima") % F.greatest(n - 1, F.lit(1))) + 1
    d = d.select(
        id_col,
        "_w",
        n.alias("_n"),
        ((gate < rate_pct) & (n >= min_words)).alias("is_fim"),
        a.alias("_a"),
    )
    b = F.col("_a") + (
        _h(id_col, ":fimb")
        % F.greatest(F.col("_n") - F.col("_a") + 1, F.lit(1))
    )
    d = d.withColumn("_b", b)
    psm = F.concat(
        F.array(F.lit(pre)),
        F.slice("_w", F.lit(1), F.col("_a")),
        F.array(F.lit(suf)),
        F.slice("_w", F.col("_b") + 1, F.col("_n") - F.col("_b")),
        F.array(F.lit(mid)),
        F.slice("_w", F.col("_a") + 1, F.col("_b") - F.col("_a")),
    )
    out = F.when(F.col("is_fim"), psm).otherwise(F.col("_w"))
    return d.select(
        id_col,
        "is_fim",
        F.when(F.col("is_fim"), F.col("_a"))
        .cast("long")
        .alias("fim_start"),
        F.when(F.col("is_fim"), F.col("_b")).cast("long").alias("fim_end"),
        F.size(out).cast("long").alias("n_out"),
        F.concat_ws(" ", out).alias("out_text"),
    )


def fim_transform_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    rate_pct: int = 50,
    min_words: int = 4,
    pre: str = "<PRE>",
    suf: str = "<SUF>",
    mid: str = "<MID>",
) -> str:
    """DuckDB twin of :func:`fim_transform` (1-based inclusive list
    slices; ``COALESCE('')`` because DuckDB's array_to_string of an
    empty list is NULL where Spark's concat_ws is '')."""
    h = (
        lambda salt: f"CAST(concat('0x', substr(md5({id_col} || '{salt}'),"
        f" 1, 8)) AS BIGINT)"
    )
    return f"""
      WITH w AS (
        SELECT {id_col},
               list_filter(string_split({text_col}, ' '),
                           x -> x <> '') AS wrd
        FROM {table}
      ),
      s AS (
        SELECT {id_col}, wrd, len(wrd) AS n,
               ({h(':fim')} % 100 < {int(rate_pct)}
                AND len(wrd) >= {int(min_words)}) AS is_fim,
               ({h(':fima')} % greatest(len(wrd) - 1, 1)) + 1 AS a
        FROM w
      ),
      c AS (SELECT *, a + ({h(':fimb')} % greatest(n - a + 1, 1)) AS b
            FROM s)
      SELECT {id_col}, is_fim,
             CASE WHEN is_fim THEN CAST(a AS BIGINT) END AS fim_start,
             CASE WHEN is_fim THEN CAST(b AS BIGINT) END AS fim_end,
             CAST(CASE WHEN is_fim THEN n + 3 ELSE n END AS BIGINT)
               AS n_out,
             COALESCE(array_to_string(
               CASE WHEN is_fim THEN
                 list_concat(list_concat(list_concat(list_concat(
                   list_concat(['{pre}'], wrd[1:a]), ['{suf}']),
                   wrd[b+1:n]), ['{mid}']), wrd[a+1:b])
               ELSE wrd END, ' '), '') AS out_text
      FROM c
    """


# ------------------------------------------------ concat-and-cut packing ----


def concat_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    len_col: str = "n_words",
    capacity: int = 256,
    n_shards: int = 4,
    sep_tokens: int = 1,
) -> DataFrame:
    """Concat-and-cut packing: per shard, concatenate every document's
    tokens (plus ``sep_tokens`` end-of-document tokens) into one stream
    in id order and cut it every ``capacity`` tokens — documents SPLIT
    across chunk boundaries, the GPT-style pretraining layout, where
    ``pack_sequences`` is the no-split alternative. One output row per
    (document, chunk) overlap:

      (shard, chunk_id, id, start_in_chunk, start_in_doc, n_tok, has_eod)

    ``n_tok`` counts the doc's tokens (incl. its EOD span) landing in
    the chunk; ``has_eod`` marks the chunk holding the document's final
    separator token — the flag loaders use to reset position ids.

    Scale: one per-shard ordered prefix-sum window (the
    ``binidx_manifest`` discipline — no pandas kernel, whole-stage
    codegen) followed by a sequence-explode bounded per document by
    ``len/capacity + 1`` chunks. Sharding follows the packer's
    ``id % n_shards`` rule, so the layout is identical on any cluster
    shape; zero data-dependent collects, zero joins.
    """
    return concat_layout(
        df, id_col, len_col, capacity, n_shards, sep_tokens
    )[0]


def _doc_spans(df, id_col, len_col, n_shards, sep_tokens):
    """(id, shard, n_tokens, _span): each doc's real tokens and its span
    in the concatenated stream, EOD separators included."""
    n = F.col(len_col).cast("long")
    return df.select(
        F.col(id_col),
        (F.col(id_col) % n_shards).cast("int").alias("shard"),
        n.alias("n_tokens"),
        (n + int(sep_tokens)).alias("_span"),
    )


def _cut_chunks(laid, id_col, capacity, keep=()):
    """Cut the concatenated stream every ``capacity`` tokens: one row per
    (doc, chunk) overlap of the doc's ``[token_offset, token_offset +
    _span)`` span, in :func:`concat_chunks`' columns, then ``keep``."""
    cap = int(capacity)
    last = F.expr(f"(token_offset + _span - 1) DIV {cap}")
    ex = laid.select(
        id_col,
        "shard",
        "_span",
        "token_offset",
        *keep,
        F.explode(F.sequence(F.expr(f"token_offset DIV {cap}"), last)).alias(
            "chunk_id"
        ),
    )
    c0 = F.col("chunk_id") * cap
    lo = F.greatest(F.col("token_offset"), c0)
    hi = F.least(F.col("token_offset") + F.col("_span"), c0 + cap)
    return ex.select(
        "shard",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        id_col,
        (lo - c0).cast("long").alias("start_in_chunk"),
        (lo - F.col("token_offset")).cast("long").alias("start_in_doc"),
        (hi - lo).cast("long").alias("n_tok"),
        (last == F.col("chunk_id")).alias("has_eod"),
        *keep,
    )


def concat_layout(
    df, id_col, len_col, capacity, n_shards, sep_tokens, starts=None
):
    """:func:`concat_chunks` from carried per-shard ``starts`` (next
    token_offset), with the delta's totals: see
    ``curation.shard_prefix``."""
    laid, totals = shard_prefix(
        _doc_spans(df, id_col, len_col, n_shards, sep_tokens),
        id_col,
        {"token_offset": F.col("_span")},
        starts,
    )
    return _cut_chunks(laid, id_col, capacity), totals


def chunk_reads(
    df, id_col, len_col, capacity, n_shards, sep_tokens, bytes_per_token,
    starts=None,
):
    """The per-segment read stage of :func:`chunk_read_plan`: one
    (shard, chunk_id, id, off, nb) byte range per (doc, chunk) segment
    holding real tokens. The chunk layout (token offsets, EOD spans
    included) and the ``.bin`` layout (byte offsets, real tokens only)
    come from ONE prefix sum pass; each read is clamped to the doc's real
    token span, so EOD-only segments read nothing. ``starts`` carries
    (next token_offset, next byte_offset) per shard, with the delta's
    totals returned: see ``curation.shard_prefix``."""
    bpt = int(bytes_per_token)
    masses = {
        "token_offset": F.col("_span"),
        "byte_offset": F.col("n_tokens") * bpt,
    }
    laid, totals = shard_prefix(
        _doc_spans(df, id_col, len_col, n_shards, sep_tokens),
        id_col,
        masses,
        starts,
    )
    segs = _cut_chunks(
        laid, id_col, capacity, keep=("n_tokens", "byte_offset")
    )
    nb = F.greatest(
        F.least(F.col("start_in_doc") + F.col("n_tok"), F.col("n_tokens"))
        - F.col("start_in_doc"),
        F.lit(0),
    ) * bpt
    reads = segs.select(
        "shard",
        "chunk_id",
        id_col,
        (F.col("byte_offset") + F.col("start_in_doc") * bpt)
        .cast("long")
        .alias("off"),
        nb.cast("long").alias("nb"),
    ).filter(F.col("nb") > 0)
    return reads, totals


def concat_chunks_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    len_expr: str = "len(string_split(text, ' '))",
    capacity: int = 256,
    n_shards: int = 4,
    sep_tokens: int = 1,
) -> str:
    """DuckDB twin of :func:`concat_chunks` (same prefix-sum window +
    generate_series explode; all quantities nonnegative so ``//`` and
    Spark ``DIV`` agree)."""
    cap, sep = int(capacity), int(sep_tokens)
    return f"""
      WITH src AS (
        SELECT {id_col},
               CAST({id_col} % {n_shards} AS INTEGER) AS shard,
               CAST({len_expr} AS BIGINT) + {sep} AS span
        FROM {table}
      ),
      cum AS (
        SELECT *,
               CAST(COALESCE(sum(span) OVER (
                 PARTITION BY shard ORDER BY {id_col}
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS strt
        FROM src
      ),
      ex AS (
        SELECT *, unnest(range(strt // {cap},
                               (strt + span - 1) // {cap} + 1)) AS chunk_id
        FROM cum
      )
      SELECT shard,
             CAST(chunk_id AS BIGINT) AS chunk_id,
             {id_col},
             CAST(greatest(strt, chunk_id * {cap}) - chunk_id * {cap}
                  AS BIGINT) AS start_in_chunk,
             CAST(greatest(strt, chunk_id * {cap}) - strt AS BIGINT)
               AS start_in_doc,
             CAST(least(strt + span, (chunk_id + 1) * {cap})
                  - greatest(strt, chunk_id * {cap}) AS BIGINT) AS n_tok,
             ((strt + span - 1) // {cap} = chunk_id) AS has_eod
      FROM ex
    """


# --------------------------------------------------- curriculum schedule ----


def curriculum_schedule(
    df: DataFrame,
    id_col: str = "doc_id",
    signal_col: str = "n_words",
    n_steps: int = 20,
) -> DataFrame:
    """Curriculum-learning step assignment: rank the corpus by a
    difficulty signal (ascending — e.g. length for the classic
    short-to-long curriculum) and apportion the ranks into ``n_steps``
    contiguous buckets, ``step = (rank-1) * n_steps DIV N``. Returns the
    grid-sized report a scheduler consumes: per step, document count and
    the exact integer signal mass/min/max (integers only — no float
    means to diverge cross-engine).

    Scale: the rank goes through the two-phase
    ``ranking.global_rank`` (range-partition + per-partition offsets —
    never a single-reducer window), then ONE partial-agg shuffle to the
    ``n_steps`` grid. ``N`` is a one-scalar count. Overflow bound:
    ``(rank-1) * n_steps`` must fit BIGINT — at 10^12 documents that
    allows n_steps up to ~9·10^6, far beyond any curriculum; the bound
    is asserted rather than silently wrapped.
    """
    from bistro_spark.operators.ranking import global_rank

    n_rows = df.count()
    if n_rows == 0:
        return local_frame(
            df.sparkSession,
            [],
            "step long, n_docs long, sig_sum long, sig_min long,"
            " sig_max long",
        )
    if n_rows * int(n_steps) > 2**62:
        raise ValueError(
            "curriculum_schedule: rank*n_steps would overflow BIGINT; "
            "reduce n_steps"
        )
    sig = df.select(
        F.col(id_col), F.col(signal_col).cast("long").alias("_sig")
    )
    ranked = global_rank(sig, ["_sig", id_col], rank_col="_rank")
    return (
        ranked.withColumn(
            "step",
            F.expr(f"(_rank - 1) * {int(n_steps)} DIV {int(n_rows)}").cast(
                "long"
            ),
        )
        .groupBy("step")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_sig").cast("long").alias("sig_sum"),
            F.min("_sig").cast("long").alias("sig_min"),
            F.max("_sig").cast("long").alias("sig_max"),
        )
    )


def curriculum_schedule_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    signal_expr: str = "len(string_split(text, ' '))",
    n_steps: int = 20,
) -> str:
    """DuckDB twin of :func:`curriculum_schedule` (single-window rank is
    fine at oracle scale; same integer floor apportionment)."""
    return f"""
      WITH s AS (
        SELECT {id_col}, CAST({signal_expr} AS BIGINT) AS sig
        FROM {table}
      ),
      r AS (
        SELECT sig,
               row_number() OVER (ORDER BY sig, {id_col}) AS rnk,
               count(*) OVER () AS n
        FROM s
      )
      SELECT CAST((rnk - 1) * {int(n_steps)} // n AS BIGINT) AS step,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(sig) AS BIGINT) AS sig_sum,
             CAST(min(sig) AS BIGINT) AS sig_min,
             CAST(max(sig) AS BIGINT) AS sig_max
      FROM r
      GROUP BY 1
    """


def chunk_manifest(
    df: DataFrame,
    id_col: str = "doc_id",
    len_col: str = "n_words",
    capacity: int = 256,
    n_shards: int = 4,
    sep_tokens: int = 1,
) -> DataFrame:
    """Trainer-ready view of :func:`concat_chunks`: one row per chunk
    with the offset-ordered segment arrays a loader needs to build the
    block-diagonal attention mask and reset position ids inside a
    concat-and-cut chunk — (doc_ids, starts_in_chunk, starts_in_doc,
    seg_lens, eod_flags) plus fill accounting. The ``pack_segments``
    counterpart for the split-docs layout.

    One extra partial-agg shuffle on (shard, chunk_id) over the chunk
    rows; a chunk holds at most ``capacity`` segments (every segment
    lands >= 1 token), so the collect_list is capacity-bounded — the
    ``pack_segments`` capacity-bounded-collect discipline. Offsets are
    strictly increasing within a chunk, so the struct sort is a total
    order and the arrays are deterministic on any cluster shape.
    """
    chunks = concat_chunks(
        df,
        id_col=id_col,
        len_col=len_col,
        capacity=int(capacity),
        n_shards=n_shards,
        sep_tokens=sep_tokens,
    )
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                "start_in_chunk",
                F.col(id_col),
                "start_in_doc",
                "n_tok",
                "has_eod",
            )
        )
    )
    return (
        chunks.groupBy("shard", "chunk_id")
        .agg(
            F.count("*").cast("long").alias("n_segments"),
            F.sum("n_tok").cast("long").alias("tok_filled"),
            arr.alias("_a"),
        )
        .select(
            "shard",
            "chunk_id",
            "n_segments",
            "tok_filled",
            F.transform("_a", lambda x: x[id_col]).alias("doc_ids"),
            F.transform("_a", lambda x: x["start_in_chunk"]).alias(
                "starts_in_chunk"
            ),
            F.transform("_a", lambda x: x["start_in_doc"]).alias(
                "starts_in_doc"
            ),
            F.transform("_a", lambda x: x["n_tok"]).alias("seg_lens"),
            F.transform("_a", lambda x: x["has_eod"]).alias("eod_flags"),
        )
    )


def chunk_manifest_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    len_expr: str = "len(string_split(text, ' '))",
    capacity: int = 256,
    n_shards: int = 4,
    sep_tokens: int = 1,
) -> str:
    """DuckDB twin of :func:`chunk_manifest` (ORDER BY start_in_chunk
    list aggregation over the chunk-rows twin)."""
    inner = concat_chunks_sql(
        table,
        id_col=id_col,
        len_expr=len_expr,
        capacity=int(capacity),
        n_shards=n_shards,
        sep_tokens=int(sep_tokens),
    )
    return f"""
      SELECT shard, chunk_id,
             CAST(count(*) AS BIGINT) AS n_segments,
             CAST(sum(n_tok) AS BIGINT) AS tok_filled,
             list({id_col} ORDER BY start_in_chunk) AS doc_ids,
             list(start_in_chunk ORDER BY start_in_chunk)
               AS starts_in_chunk,
             list(start_in_doc ORDER BY start_in_chunk) AS starts_in_doc,
             list(n_tok ORDER BY start_in_chunk) AS seg_lens,
             list(has_eod ORDER BY start_in_chunk) AS eod_flags
      FROM ({inner})
      GROUP BY shard, chunk_id
    """


def chunk_read_plan(
    df: DataFrame,
    id_col: str = "doc_id",
    len_col: str = "n_words",
    capacity: int = 256,
    n_shards: int = 4,
    sep_tokens: int = 1,
    bytes_per_token: int = 2,
) -> DataFrame:
    """The loader's per-chunk I/O plan for the concat-and-cut layout —
    ``step_read_plan``'s counterpart for :func:`concat_chunks`: lay out
    the chunks (WHICH doc segment fills each chunk) and the ``.bin``
    file (WHERE each doc's tokens live — ``curation.binidx_manifest``)
    in one pass (:func:`chunk_reads`) and aggregate each chunk's reads
    into offset-ordered (offsets, sizes) byte arrays. To materialize
    training chunk ``c`` of shard ``s``, open the shard file and read
    exactly these ranges (EOD separators are inserted by the loader, not
    stored, so EOD-only segments produce no read and every segment's read
    is clamped to the document's real token span).

    Scale: one per-shard prefix-sum window (both layouts share it, so no
    join), then the (shard, chunk_id) aggregate, which needs no second
    shuffle: the window's shard partitioning already clusters it.
    Per-cell arrays are capacity-bounded (a chunk holds at most
    ``capacity`` segments) — the capacity-bounded-collect discipline.
    """
    reads = chunk_reads(
        df, id_col, len_col, capacity, n_shards, sep_tokens, bytes_per_token
    )[0]
    return (
        reads.groupBy("shard", "chunk_id")
        .agg(
            F.count("*").cast("long").alias("n_reads"),
            F.sum("nb").cast("long").alias("bytes_total"),
            F.array_sort(
                F.collect_list(F.struct(F.col("off"), F.col("nb")))
            ).alias("_r"),
        )
        .select(
            "shard",
            "chunk_id",
            "n_reads",
            "bytes_total",
            F.transform("_r", lambda r: r["off"].cast("long")).alias(
                "offsets"
            ),
            F.transform("_r", lambda r: r["nb"].cast("long")).alias(
                "sizes"
            ),
        )
    )


def chunk_read_plan_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    len_expr: str = "len(string_split(text, ' '))",
    capacity: int = 256,
    n_shards: int = 4,
    sep_tokens: int = 1,
    bytes_per_token: int = 2,
) -> str:
    """DuckDB twin of :func:`chunk_read_plan`."""
    from bistro_spark.operators.curation import binidx_manifest_sql

    bpt = int(bytes_per_token)
    chunks = concat_chunks_sql(
        table,
        id_col=id_col,
        len_expr=len_expr,
        capacity=int(capacity),
        n_shards=n_shards,
        sep_tokens=int(sep_tokens),
    )
    layout = binidx_manifest_sql(
        table, id_col, len_expr, n_shards, bpt
    )
    return f"""
      WITH reads AS (
        SELECT c.shard, c.chunk_id,
               l.byte_offset + c.start_in_doc * {bpt} AS off,
               greatest(least(c.start_in_doc + c.n_tok, l.n_tokens)
                        - c.start_in_doc, 0) * {bpt} AS nb
        FROM ({chunks}) c
        JOIN ({layout}) l ON c.{id_col} = l.{id_col}
      )
      SELECT shard, chunk_id,
             CAST(count(*) AS BIGINT) AS n_reads,
             CAST(sum(nb) AS BIGINT) AS bytes_total,
             list(CAST(off AS BIGINT) ORDER BY off) AS offsets,
             list(CAST(nb AS BIGINT) ORDER BY off) AS sizes
      FROM reads
      WHERE nb > 0
      GROUP BY shard, chunk_id
    """


def fim_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rate_pct: int = 50,
    min_words: int = 4,
) -> DataFrame:
    """The FIM loss/attention manifest: for every document of
    :func:`fim_transform`'s output, WHERE in the emitted token sequence
    the three sentinels sit and where the prefix / suffix / middle
    spans run — all in OUTPUT coordinates, the frame a trainer's loss
    mask and position-id logic actually consume (sentinels excluded
    from the loss; PSM layout ``<PRE> P <SUF> S <MID> M`` means the
    middle span is the continuation target). Closed-form from
    (is_fim, fim_start=a, fim_end=b, n_out): the spans tile [0, n_out)
    exactly (pytest-pinned against the realized token positions).

    Scale: a pure projection stacked on fim_transform's projection —
    zero shuffle, one codegen span, checkpoint-safe for the same
    reason (every value is an md5 function of the id)."""
    t = fim_transform(
        df,
        id_col=id_col,
        text_col=text_col,
        rate_pct=rate_pct,
        min_words=min_words,
    )
    a = F.col("fim_start")
    b = F.col("fim_end")
    n = F.col("n_out") - 3  # original word count for FIM rows
    fim = F.col("is_fim")
    i = lambda c: c.cast("long")  # noqa: E731
    return t.select(
        id_col,
        "is_fim",
        "n_out",
        F.when(fim, F.lit(0).cast("long")).alias("pre_pos"),
        F.when(fim, i(a + 1)).alias("suf_pos"),
        F.when(fim, i(a + 2 + (n - b))).alias("mid_pos"),
        F.when(fim, F.lit(1).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        .alias("prefix_start"),
        F.when(fim, i(a)).otherwise(i(F.col("n_out"))).alias("prefix_len"),
        F.when(fim, i(a + 2)).alias("suffix_start"),
        F.when(fim, i(n - b)).alias("suffix_len"),
        F.when(fim, i(a + 3 + (n - b))).alias("middle_start"),
        F.when(fim, i(b - a)).alias("middle_len"),
        F.when(fim, i(F.col("n_out") - 3))
        .otherwise(i(F.col("n_out")))
        .alias("n_supervised"),
    )


def fim_spans_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    rate_pct: int = 50,
    min_words: int = 4,
) -> str:
    """DuckDB twin of :func:`fim_spans` (same closed forms over the
    fim_transform twin)."""
    inner = fim_transform_sql(
        table,
        id_col=id_col,
        text_col=text_col,
        rate_pct=rate_pct,
        min_words=min_words,
    )
    return f"""
      SELECT {id_col}, is_fim, n_out,
             CASE WHEN is_fim THEN CAST(0 AS BIGINT) END AS pre_pos,
             CASE WHEN is_fim THEN CAST(fim_start + 1 AS BIGINT)
               END AS suf_pos,
             CASE WHEN is_fim THEN CAST(fim_start + 2
                  + (n_out - 3 - fim_end) AS BIGINT) END AS mid_pos,
             CAST(CASE WHEN is_fim THEN 1 ELSE 0 END AS BIGINT)
               AS prefix_start,
             CAST(CASE WHEN is_fim THEN fim_start ELSE n_out END
                  AS BIGINT) AS prefix_len,
             CASE WHEN is_fim THEN CAST(fim_start + 2 AS BIGINT)
               END AS suffix_start,
             CASE WHEN is_fim THEN CAST(n_out - 3 - fim_end AS BIGINT)
               END AS suffix_len,
             CASE WHEN is_fim THEN CAST(fim_start + 3
                  + (n_out - 3 - fim_end) AS BIGINT) END AS middle_start,
             CASE WHEN is_fim THEN CAST(fim_end - fim_start AS BIGINT)
               END AS middle_len,
             CAST(CASE WHEN is_fim THEN n_out - 3 ELSE n_out END
                  AS BIGINT) AS n_supervised
      FROM ({inner})
    """


# ------------------------------------------------- SFT dialog loss mask ----


def sft_turn_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    user_tok: str = "<U>",
    asst_tok: str = "<A>",
) -> DataFrame:
    """The SFT (instruction-tuning) loss-mask manifest — ``fim_spans``'s
    multi-turn sibling: each document becomes a k-turn dialog
    (k = 2 + md5(id)%3, alternating user/assistant starting with user)
    by cutting its words at the equal-apportionment points
    cut_i = floor(i·n/k), each turn rendered behind one role sentinel:

        <U> seg_0 <A> seg_1 <U> seg_2 ...

    Emits ONE ROW PER TURN with everything a trainer's loss mask and
    packing step need, in OUTPUT coordinates (0-based, sentinels
    counted): (id, n_turns, turn_idx, role, sent_pos, span_start,
    span_len, supervised, n_out). ``supervised`` marks assistant turns
    — the spans whose tokens carry loss; sentinels and user turns are
    masked out. Spans plus sentinels tile [0, n_out) exactly
    (pytest-pinned against the realized rendering). Short documents
    yield zero-length turns (a legal empty span — the sentinel still
    occupies its slot), so every document produces exactly k rows.

    Scale: a pure per-row projection times a bounded explode (k ≤ 4
    rows per document, the chunk-explode contract of concat_chunks) —
    no shuffle, no UDF, closed-form integer math only; md5-determined
    turn count makes it checkpoint-safe and cluster-shape-invariant,
    and the same expressions serve a streaming DataFrame verbatim
    (``streaming/pack.streaming_sft_gate``).
    """
    wrd = F.filter(
        F.split(F.col(text_col), " "), lambda x: x != F.lit("")
    )
    d = df.select(
        F.col(id_col),
        F.size(wrd).cast("long").alias("_n"),
        (F.lit(2) + _h(id_col, ":turns") % 3).cast("long").alias("_k"),
    )
    d = d.select(
        id_col,
        "_n",
        "_k",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("_k") - 1)
        ).alias("_ti"),
    )
    cut = lambda i: F.expr(f"(({i}) * _n) DIV _k")  # noqa: E731
    lo = cut("_ti")
    hi = cut("_ti + 1")
    return d.select(
        id_col,
        F.col("_k").alias("n_turns"),
        F.col("_ti").alias("turn_idx"),
        F.when(F.col("_ti") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        (F.col("_ti") + lo).cast("long").alias("sent_pos"),
        (F.col("_ti") + 1 + lo).cast("long").alias("span_start"),
        (hi - lo).cast("long").alias("span_len"),
        (F.col("_ti") % 2 == 1).alias("supervised"),
        (F.col("_n") + F.col("_k")).cast("long").alias("n_out"),
    )


def sft_turn_spans_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`sft_turn_spans` (LATERAL generate_series
    for the bounded turn explode; `//` == Spark `DIV` on the nonneg
    operands here)."""
    h = (
        f"CAST(concat('0x', substr(md5({id_col} || ':turns'), 1, 8)) "
        "AS BIGINT)"
    )
    return f"""
      WITH w AS (
        SELECT {id_col},
               len(list_filter(string_split({text_col}, ' '),
                               x -> x <> '')) AS n,
               2 + {h} % 3 AS k
        FROM {table}
      )
      SELECT {id_col},
             CAST(k AS BIGINT) AS n_turns,
             CAST(t.ti AS BIGINT) AS turn_idx,
             CASE WHEN t.ti % 2 = 0 THEN 'user'
                  ELSE 'assistant' END AS role,
             CAST(t.ti + (t.ti * n) // k AS BIGINT) AS sent_pos,
             CAST(t.ti + 1 + (t.ti * n) // k AS BIGINT) AS span_start,
             CAST(((t.ti + 1) * n) // k - (t.ti * n) // k AS BIGINT)
               AS span_len,
             t.ti % 2 = 1 AS supervised,
             CAST(n + k AS BIGINT) AS n_out
      FROM w, LATERAL (
        SELECT unnest(generate_series(0, CAST(k - 1 AS BIGINT))) AS ti
      ) t
    """


def sft_doc_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document totals of the :func:`sft_turn_spans` rendering —
    (id, n_out, n_supervised) — in CLOSED FORM, without materializing
    the per-turn explode or paying a doc-key re-aggregation shuffle:
    k ≤ 4 turn counts mean the supervised (assistant) word total
    Σ_{i odd} (⌊(i+1)n/k⌋ − ⌊in/k⌋) has one integer-division expression
    per k case. Zero shuffle, one codegen span; pytest pins equality
    with aggregating the span manifest itself. Sentinels carry no loss,
    so n_supervised counts words only; n_out = n + k counts them."""
    wrd = F.filter(
        F.split(F.col(text_col), " "), lambda x: x != F.lit("")
    )
    d = df.select(
        F.col(id_col),
        F.size(wrd).cast("long").alias("_n"),
        (F.lit(2) + _h(id_col, ":turns") % 3).cast("long").alias("_k"),
    )
    n_sup = F.expr(
        "CASE _k WHEN 2 THEN _n - (_n DIV 2) "
        "WHEN 3 THEN ((2 * _n) DIV 3) - (_n DIV 3) "
        "ELSE ((_n DIV 2) - (_n DIV 4)) + (_n - ((3 * _n) DIV 4)) END"
    )
    return d.select(
        id_col,
        (F.col("_n") + F.col("_k")).cast("long").alias("n_out"),
        n_sup.cast("long").alias("n_supervised"),
    )


def sft_pack_manifest(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    capacity: int = 256,
    n_shards: int = 4,
) -> DataFrame:
    """The SFT packing report: render every document as its dialog
    (:func:`sft_doc_stats`), greedy-pack the rendered lengths with
    ``curation.pack_sequences`` (whole dialogs never split — a loss
    mask that straddled buffers would need cross-buffer attention), and
    report per (shard, pack_id) how much LOSS-BEARING signal each
    training buffer actually carries: n_seqs, payload_tokens,
    supervised_tokens, fill_frac (payload/capacity), supervised_frac
    (supervised/payload). A pack full of user-turn text wastes its
    forward pass — this is the artifact that catches that before the
    trainer does.

    Scale: the stats side is a zero-shuffle projection; packing is the
    per-shard sequential kernel (its own documented contract); the
    stats→assignment equi join is doc-keyed, then one grid partial-agg
    on (shard, pack_id). supervised_frac is the only float, rounded 6.
    """
    from bistro_spark.operators.curation import pack_sequences

    stats = sft_doc_stats(df, id_col=id_col, text_col=text_col)
    packed = pack_sequences(
        stats,
        id_col=id_col,
        len_col="n_out",
        capacity=capacity,
        n_shards=n_shards,
    )
    return (
        packed.join(stats.select(id_col, "n_supervised"), id_col)
        .groupBy("shard", "pack_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_seqs"),
            F.sum("len").cast("long").alias("payload_tokens"),
            F.sum("n_supervised").cast("long").alias("supervised_tokens"),
        )
        .withColumn(
            "fill_frac",
            F.round(F.col("payload_tokens") / F.lit(int(capacity)), 6),
        )
        .withColumn(
            "supervised_frac",
            F.round(
                F.when(
                    F.col("payload_tokens") > 0,
                    F.col("supervised_tokens") / F.col("payload_tokens"),
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
    )


def _sft_stats_sql(
    table: str, id_col: str = "doc_id", text_col: str = "text"
) -> str:
    h = (
        f"CAST(concat('0x', substr(md5({id_col} || ':turns'), 1, 8)) "
        "AS BIGINT)"
    )
    return f"""
        SELECT {id_col}, n + k AS n_out,
               CASE k WHEN 2 THEN n - n // 2
                      WHEN 3 THEN (2 * n) // 3 - n // 3
                      ELSE (n // 2 - n // 4) + (n - (3 * n) // 4)
               END AS n_supervised
        FROM (
          SELECT {id_col},
                 len(list_filter(string_split({text_col}, ' '),
                                 x -> x <> '')) AS n,
                 2 + {h} % 3 AS k
          FROM {table})
    """


def sft_pack_manifest_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    capacity: int = 256,
    n_shards: int = 4,
) -> str:
    """DuckDB twin of :func:`sft_pack_manifest`: the stats CTE spliced
    into pack_sequences' recursive fold, re-joined and aggregated (the
    stats definition appears twice — once inside the recursive scope,
    once outside — because a CTE defined under WITH RECURSIVE is not
    visible to an enclosing query)."""
    from bistro_spark.operators.curation import pack_sequences_sql

    stats = _sft_stats_sql(table, id_col, text_col)
    pack = pack_sequences_sql(
        table="sftstats",
        id_col=id_col,
        len_expr="n_out",
        capacity=capacity,
        n_shards=n_shards,
        extra_ctes=f"sftstats AS ({stats}),",
    )
    return f"""
      WITH pk AS ({pack}),
      st AS ({stats})
      SELECT pk.shard, pk.pack_id,
             CAST(count(*) AS BIGINT) AS n_seqs,
             CAST(sum(pk.len) AS BIGINT) AS payload_tokens,
             CAST(sum(st.n_supervised) AS BIGINT) AS supervised_tokens,
             round(sum(pk.len) / CAST({int(capacity)} AS DOUBLE), 6)
               AS fill_frac,
             round(CASE WHEN sum(pk.len) > 0
                        THEN sum(st.n_supervised)
                             / CAST(sum(pk.len) AS DOUBLE)
                        ELSE 0.0 END, 6) AS supervised_frac
      FROM pk JOIN st ON pk.{id_col} = st.{id_col}
      GROUP BY pk.shard, pk.pack_id
    """


def sft_corpus_stats(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The SFT dataset-card row: per group, dialog count, total turns,
    rendered/supervised token totals, the supervised fraction (how much
    of the forward pass carries loss), and mean turns per dialog — the
    audit a fine-tuning mix review starts from. All totals exact
    BIGINTs off the same closed forms as :func:`sft_doc_stats`; the two
    fractions are the only floats, rounded 6.

    Scale: one projection + one partial-agg shuffle on the group key;
    output is groups-sized."""
    return sft_corpus_stats_from_counts(
        sft_corpus_counts(df, group_col, id_col, text_col), group_col
    )


def sft_corpus_counts(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The partials of :func:`sft_corpus_stats`: per group, the four
    additive BIGINT totals."""
    wrd = F.filter(
        F.split(F.col(text_col), " "), lambda x: x != F.lit("")
    )
    d = df.select(
        F.col(group_col).alias("_g"),
        F.size(wrd).cast("long").alias("_n"),
        (F.lit(2) + _h(id_col, ":turns") % 3).cast("long").alias("_k"),
    )
    n_sup = F.expr(
        "CASE _k WHEN 2 THEN _n - (_n DIV 2) "
        "WHEN 3 THEN ((2 * _n) DIV 3) - (_n DIV 3) "
        "ELSE ((_n DIV 2) - (_n DIV 4)) + (_n - ((3 * _n) DIV 4)) END"
    )
    return d.select("_g", "_n", "_k", n_sup.alias("_s")).groupBy(
        F.col("_g").alias(group_col)
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_dialogs"),
        F.sum("_k").cast("long").alias("n_turns"),
        F.sum(F.col("_n") + F.col("_k")).cast("long").alias(
            "payload_tokens"
        ),
        F.sum("_s").cast("long").alias("supervised_tokens"),
    )


def sft_corpus_stats_from_counts(
    agg: DataFrame, group_col: str = "source"
) -> DataFrame:
    """The finalizer of :func:`sft_corpus_stats` over a
    :func:`sft_corpus_counts` grid: the two rounded fractions."""
    return agg.select(
        group_col,
        "n_dialogs",
        "n_turns",
        "payload_tokens",
        "supervised_tokens",
        F.round(
            F.when(
                F.col("payload_tokens") > 0,
                F.col("supervised_tokens") / F.col("payload_tokens"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("supervised_frac"),
        F.round(F.col("n_turns") / F.col("n_dialogs"), 6).alias(
            "mean_turns"
        ),
    )


def sft_corpus_stats_sql(
    table: str = "documents",
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`sft_corpus_stats`."""
    h = (
        f"CAST(concat('0x', substr(md5({id_col} || ':turns'), 1, 8)) "
        "AS BIGINT)"
    )
    return f"""
      WITH d AS (
        SELECT {group_col} AS g,
               len(list_filter(string_split({text_col}, ' '),
                               x -> x <> '')) AS n,
               2 + {h} % 3 AS k
        FROM {table}),
      s AS (
        SELECT g, n, k,
               CASE k WHEN 2 THEN n - n // 2
                      WHEN 3 THEN (2 * n) // 3 - n // 3
                      ELSE (n // 2 - n // 4) + (n - (3 * n) // 4)
               END AS sup
        FROM d)
      SELECT g AS {group_col},
             CAST(count(*) AS BIGINT) AS n_dialogs,
             CAST(sum(k) AS BIGINT) AS n_turns,
             CAST(sum(n + k) AS BIGINT) AS payload_tokens,
             CAST(sum(sup) AS BIGINT) AS supervised_tokens,
             round(CASE WHEN sum(n + k) > 0
                        THEN sum(sup) / CAST(sum(n + k) AS DOUBLE)
                        ELSE 0.0 END, 6) AS supervised_frac,
             round(sum(k) / CAST(count(*) AS DOUBLE), 6) AS mean_turns
      FROM s GROUP BY g
    """
