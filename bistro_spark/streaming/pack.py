"""Streaming twins of the tokenize→pack tail of the training-prep
pipeline (``operators/curation.pack_sequences``; the encode stages of
``operators/bpe.py`` / ``unigram.py`` / ``wordpiece.py``).

The north-star pipeline ingests pre-tokenized sequences continuously;
the last mile before a trainer is (a) subword-encode arriving text and
(b) pack whole sequences into fixed-capacity buffers. Streaming shapes:

- :func:`streaming_encode_gate` — every tokenizer encode in this repo is
  a map-only Arrow stage (memoized pandas UDF, vocabulary via closure),
  i.e. PURE PROJECTION: it applies verbatim to a streaming DataFrame
  with no state store, no watermark, and fuses into the source scan.
  This wrapper exists to make that contract explicit and tested on a
  real file-source stream.

- :class:`StreamingPacker` — greedy no-split packing is a sequential
  fold per shard, so its streaming form carries ONE (pack_id, end)
  cursor per shard across micro-batches and runs the batch operator's
  own fold (``curation.pack_shards``) over each delta from it. State is
  exactly ``n_shards`` pairs of BIGINTs — partition-count-sized, not
  stream-sized — held driver-side and snapshot-able into any checkpoint
  (on a real cluster: the foreachBatch epoch's commit log / an Iceberg
  metadata row per shard).

- :class:`StreamingBinidxWriter`, :class:`StreamingConcatChunker`,
  :class:`StreamingChunkReadPlanner` — append-only layouts (``.bin``
  byte offsets, the concatenated token stream, both at once). Each
  shard's cursor is an ADDITIVE mass (documents, bytes, tokens), so the
  cursors live in a shard-keyed :class:`DriverSumGrid` and each trigger
  runs the batch operator's layout (``curation.shard_prefix`` under it)
  over the delta from the carried starts, then adds the delta's totals.

**Parity contract (pytest-pinned):** under id-monotone arrival — each
shard's documents arrive in increasing id order across triggers, the
natural case when ids are assigned at ingest — the union of per-trigger
outputs EQUALS the batch operator over everything seen: a fold (or
prefix sum) over ``a + b`` equals the fold over ``a``, then over ``b``
from ``a``'s end cursor, and the twin runs the batch operator's code.
Out-of-id-order arrival diverges by construction (a later-arriving
smaller id would have laid out earlier in the batch operator); the
divergence is pinned by counter-example, because an emitted buffer,
byte range or chunk cannot be reopened.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bistro_spark.caching import PinOwner
from bistro_spark.operators.curation import (
    binidx_layout,
    fold_end,
    pack_shards,
)
from bistro_spark.operators.trainprep import (
    chunk_reads,
    concat_layout,
    fim_transform,
    sft_corpus_counts,
    sft_corpus_stats_from_counts,
    sft_doc_stats,
    sft_turn_spans,
)
from bistro_spark.streaming.incremental import DriverSumGrid


def streaming_encode_gate(
    stream_df: DataFrame,
    vocab: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    keep: list[str] | None = None,
) -> DataFrame:
    """WordPiece-encode a (streaming or batch) DataFrame: map-only Arrow
    stage, stateless, no watermark — Structured Streaming accepts the
    batch operator unchanged. The same holds for ``bpe_encode`` and
    ``unigram_encode``; WordPiece is wrapped here because its encode is
    additionally hash-checkable batch-side, so the stream twin's parity
    anchor is itself oracle-verified."""
    from bistro_spark.operators.wordpiece import wordpiece_encode

    return wordpiece_encode(stream_df, vocab, id_col, text_col, keep=keep)


class StreamingPacker(PinOwner):
    """Feed micro-batches to :meth:`process_batch`; each call returns the
    batch's pack assignments (id, shard, pack_id, offset, len) — same
    schema as batch ``pack_sequences`` — valid until the next call
    (consumed-within-trigger, the foreachBatch contract)."""

    def __init__(
        self,
        spark: SparkSession,
        capacity: int = 256,
        n_shards: int = 4,
        id_col: str = "doc_id",
        len_col: str = "n_tok",
        max_rows_per_batch_shard: int = 50_000_000,
    ):
        super().__init__(spark)
        self.capacity = capacity
        self.n_shards = n_shards
        self.id_col = id_col
        self.len_col = len_col
        self.max_rows = max_rows_per_batch_shard
        # shard -> (open pack_id, filled length of that pack); absent =
        # shard untouched (first doc opens pack 0 at offset 0)
        self._state: dict[int, tuple[int, int]] = {}
        self.batches_seen = 0

    def state_snapshot(self) -> dict[int, tuple[int, int]]:
        """The full recovery state: one (pack_id, end) cursor per
        touched shard (``n_shards``-bounded)."""
        return dict(self._state)

    def restore_state(self, snapshot: dict[int, tuple[int, int]]) -> None:
        """Resume from a :meth:`state_snapshot` taken after the last
        COMMITTED trigger (foreachBatch epoch semantics: persist the
        snapshot with the epoch's output, restore before reprocessing).
        A restored packer continues the fold exactly where the
        snapshotted one stopped — kill/resume parity is pytest-pinned."""
        self._state = {int(k): (int(v[0]), int(v[1])) for k, v in snapshot.items()}

    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        self.batches_seen += 1
        self._begin()
        guard = (self.max_rows, "max_rows_per_batch_shard", "StreamingPacker")
        packed = pack_shards(
            batch_df,
            self.id_col,
            self.len_col,
            self.capacity,
            self.n_shards,
            guard,
            dict(self._state),  # ships via closure: n_shards-sized
        )
        out = self._pin(packed, trigger=True)
        # advance each shard's cursor to its max-id row — n_shards rows
        ends = out.groupBy("shard").agg(
            fold_end("pack_id", "offset", "len", self.id_col).alias("c")
        )
        for r in ends.collect():
            self._state[r["shard"]] = (r["c"]["pack_id"], r["c"]["end"])
        return out


class _LayoutTwin(DriverSumGrid, PinOwner):
    """A streaming twin of an append-only per-shard layout. Its cursors
    (where each shard's layout stands) are additive masses, so they are a
    shard-keyed :class:`DriverSumGrid`, whose snapshot is the twin's
    recovery state. A trigger runs the batch operator's layout
    (:meth:`_layout`) over the delta from the carried cursors, pins the
    delta's rows for the trigger and adds the delta's totals to the grid.
    The first trigger carries no cursor, so it IS the batch operator."""

    def __init__(self, spark: SparkSession, cursors: tuple[str, ...]):
        DriverSumGrid.__init__(self, spark, ["shard"], cursors, None, "shards")
        PinOwner.__init__(self, spark)

    def _layout(
        self, batch_df: DataFrame, starts: DataFrame | None
    ) -> tuple[DataFrame, DataFrame]:
        """The batch operator's (rows, per-shard totals) from ``starts``."""
        raise NotImplementedError

    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        self._begin()
        starts = None
        if self.rows():
            starts = self.frame(
                "shard long, " + ", ".join(f"{c} long" for c in self._values)
            )
        out, totals = self._layout(batch_df, starts)
        out = self._pin(out, trigger=True)
        self.add(totals)
        return out


class StreamingBinidxWriter(_LayoutTwin):
    """Streaming twin of ``operators/curation.binidx_manifest``: the
    ``.bin``/``.idx`` layout assigned live, so an ingest loop can append
    serialized tokens to shard files as documents arrive instead of
    re-planning offsets from the full corpus. Completes the live
    tokenize → pack → export chain next to ``StreamingPacker``.

    State is ONE ``(seq_index, byte_offset)`` cursor per shard — the
    next document's — ``n_shards``-bounded, never corpus-bounded. Per
    trigger ``curation.binidx_layout`` lays out the DELTA ONLY from the
    carried cursors. Parity: the module's id-monotone contract (a
    serialized file is append-only, so bytes already written cannot
    move)."""

    def __init__(
        self,
        spark: SparkSession,
        n_shards: int = 4,
        bytes_per_token: int = 2,
        id_col: str = "doc_id",
        len_col: str = "n_tok",
    ):
        super().__init__(spark, ("seq_index", "byte_offset"))
        self.n_shards = int(n_shards)
        self.bpt = int(bytes_per_token)
        self.id_col = id_col
        self.len_col = len_col

    def _layout(self, batch_df, starts):
        return binidx_layout(
            batch_df, self.id_col, self.len_col, self.n_shards, self.bpt,
            starts,
        )


def streaming_fim_gate(
    stream_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rate_pct: int = 50,
    min_words: int = 4,
) -> DataFrame:
    """Fill-in-the-middle on a live stream: ``trainprep.fim_transform``
    is a pure per-row projection whose cut points are md5 functions of
    the document id, so the batch operator applies to a streaming
    DataFrame UNCHANGED — no state store, no watermark, and per-document
    output identical to the (oracle-hash-checked) batch transform no
    matter how the stream is micro-batched. The wrapper exists to make
    that contract explicit and tested on a real file-source stream."""
    return fim_transform(
        stream_df, id_col, text_col, rate_pct=rate_pct, min_words=min_words
    )


class StreamingConcatChunker(_LayoutTwin):
    """Streaming twin of ``trainprep.concat_chunks``: the GPT-style
    concat-and-cut chunk layout assigned live as documents arrive.

    State is ONE BIGINT per shard — the next global token offset of the
    shard's concatenated stream (``n_shards``-bounded, never
    corpus-bounded; additive in the delta's token mass). Per trigger
    ``trainprep.concat_layout`` lays out and cuts the DELTA ONLY from the
    carried offsets. Parity: the module's id-monotone contract (tokens
    already laid out cannot move)."""

    def __init__(
        self,
        spark: SparkSession,
        capacity: int = 256,
        n_shards: int = 4,
        sep_tokens: int = 1,
        id_col: str = "doc_id",
        len_col: str = "n_tok",
    ):
        super().__init__(spark, ("token_offset",))
        self.capacity = int(capacity)
        self.n_shards = int(n_shards)
        self.sep = int(sep_tokens)
        self.id_col = id_col
        self.len_col = len_col

    def _layout(self, batch_df, starts):
        return concat_layout(
            batch_df, self.id_col, self.len_col, self.capacity,
            self.n_shards, self.sep, starts,
        )


class StreamingChunkReadPlanner(_LayoutTwin):
    """Streaming twin of ``trainprep.chunk_read_plan``: the loader's
    per-chunk I/O entries emitted LIVE as documents arrive — the read
    side of the live tokenize→pack→export chain
    (``StreamingConcatChunker`` lays out chunks,
    ``StreamingBinidxWriter`` lays out bytes; this planner composes
    BOTH layouts in one pass over each delta, so the two cursors can
    never disagree about a doc).

    State is TWO BIGINTs per shard — the next token offset of the
    shard's concatenated chunk stream (incl. EOD spans) and the next
    byte offset of the shard's ``.bin`` file (real tokens only). Per
    trigger the batch operator's read stage (``trainprep.chunk_reads``)
    runs over the DELTA ONLY from the carried offsets, and read entries
    (shard, chunk_id, doc_id, off, nb) leave append-only — a doc's reads
    are emitted exactly once, at arrival.

    **Parity contract (pytest-pinned):** under id-monotone arrival per
    shard, the union of per-trigger entries, grouped to offset-ordered
    arrays, EQUALS batch ``chunk_read_plan`` over everything seen.
    Out-of-order arrival diverges by construction (bytes and tokens
    already laid out cannot move) — pinned by counter-example."""

    def __init__(
        self,
        spark: SparkSession,
        capacity: int = 256,
        n_shards: int = 4,
        sep_tokens: int = 1,
        bytes_per_token: int = 2,
        id_col: str = "doc_id",
        len_col: str = "n_tok",
    ):
        super().__init__(spark, ("token_offset", "byte_offset"))
        self.capacity = int(capacity)
        self.n_shards = int(n_shards)
        self.sep = int(sep_tokens)
        self.bpt = int(bytes_per_token)
        self.id_col = id_col
        self.len_col = len_col

    def _layout(self, batch_df, starts):
        return chunk_reads(
            batch_df, self.id_col, self.len_col, self.capacity,
            self.n_shards, self.sep, self.bpt, starts,
        )


def streaming_sft_gate(
    stream_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    user_tok: str = "<U>",
    asst_tok: str = "<A>",
) -> DataFrame:
    """The SFT dialog loss-mask manifest on a live stream:
    ``trainprep.sft_turn_spans`` is a pure projection times a bounded
    k≤4 explode whose turn count and cut points are md5/closed-form
    functions of the row itself, so the batch operator applies to a
    streaming DataFrame UNCHANGED — no state store, no watermark,
    per-document rows identical to the (oracle-hash-checked) batch
    manifest no matter how the stream is micro-batched (the
    ``streaming_fim_gate`` contract, extended to a row-multiplying but
    row-local transform)."""
    return sft_turn_spans(
        stream_df, id_col, text_col, user_tok=user_tok, asst_tok=asst_tok
    )


class StreamingSftPackMonitor(DriverSumGrid):
    """The live end of the SFT chain: documents arrive → each delta is
    rendered to its dialog stats by the zero-shuffle closed form
    (``trainprep.sft_doc_stats`` — pure projection, stream-safe) →
    dialogs pack WHOLE through a :class:`StreamingPacker` keyed on the
    rendered length → per-(shard, pack) LOSS-BEARING token counters
    update additively, and :meth:`report` rebuilds the batch
    ``sft_pack_manifest`` rows (fracs computed by the ENGINE with the
    batch expressions, so rows hash-match).

    Parity contract (pytest-pinned): under id-monotone arrival per
    shard, the report EQUALS batch ``sft_pack_manifest`` over
    everything seen — inherited from the packer's cursor argument (an
    emitted assignment never moves, so per-pack sums are append-only)
    plus the stats projection's row-locality. Out-of-id-order arrival
    diverges by the packer's own pinned counter-example. State is the
    packer's n_shards cursor pairs + one integer triple per pack —
    pack-count-bounded (= corpus tokens ÷ capacity), the same
    cardinality the batch report itself emits.
    """

    def __init__(
        self,
        spark: SparkSession,
        capacity: int = 256,
        n_shards: int = 4,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        super().__init__(
            spark, ["shard", "pack_id"], ["n", "pl", "sup"], None, "packs"
        )
        self.capacity = int(capacity)
        self.id_col = id_col
        self.text_col = text_col
        self.packer = StreamingPacker(
            spark,
            capacity=capacity,
            n_shards=n_shards,
            id_col=id_col,
            len_col="n_out",
        )

    # ------------------------------------------------------- recovery --
    # the packer's cursor is bespoke state beside the counter grid
    def state_snapshot(self) -> dict:
        return {
            "packer": {
                str(k): list(v)
                for k, v in self.packer.state_snapshot().items()
            },
            "packs": super().state_snapshot(),
        }

    def restore_state(self, snapshot: dict) -> None:
        super().restore_state(snapshot["packs"])
        self.packer.restore_state(
            {int(k): tuple(v) for k, v in snapshot["packer"].items()}
        )

    # ---------------------------------------------------------- fold --
    def process_batch(self, batch_df: DataFrame) -> int:
        """Render → pack → account one trigger's documents; returns the
        number of pack cells touched."""
        stats = sft_doc_stats(
            batch_df, id_col=self.id_col, text_col=self.text_col
        )
        assigned = self.packer.process_batch(stats)
        cells = (
            assigned.join(
                stats.select(self.id_col, "n_supervised"), self.id_col
            )
            .groupBy("shard", "pack_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("len").cast("long").alias("pl"),
                F.sum("n_supervised").cast("long").alias("sup"),
            )
        )
        return len(self.add(cells))

    def close(self) -> None:
        """Free the packer's pinned output (idempotent)."""
        self.packer.close()

    # --------------------------------------------------------- report --
    def report(self) -> DataFrame:
        """The live manifest — columns and rows exactly as batch
        ``sft_pack_manifest`` emits them."""
        df = self.frame(
            "shard int, pack_id long, n_seqs long, payload_tokens long, "
            "supervised_tokens long",
        )
        return df.withColumn(
            "fill_frac",
            F.round(
                F.col("payload_tokens") / F.lit(self.capacity), 6
            ),
        ).withColumn(
            "supervised_frac",
            F.round(
                F.when(
                    F.col("payload_tokens") > 0,
                    F.col("supervised_tokens") / F.col("payload_tokens"),
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )


_SFT_COUNTS = ("n_dialogs", "n_turns", "payload_tokens", "supervised_tokens")


class StreamingSftCardMonitor(DriverSumGrid):
    """The SFT dataset-card (``trainprep.sft_corpus_stats``) kept live:
    every column is an additive integer sum per source (dialogs, turns,
    rendered and supervised token totals), so the state is four BIGINTs
    per group — groups-bounded, never stream-bounded — and each
    trigger's delta reduces distributed-side through the batch
    operator's own partials; the report is its own finalizer."""

    def __init__(
        self,
        spark: SparkSession,
        group_col: str = "source",
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        super().__init__(spark, [group_col], _SFT_COUNTS, None, "groups")
        self.group_col = group_col
        self.id_col = id_col
        self.text_col = text_col

    def process_batch(self, batch_df: DataFrame) -> int:
        return len(
            self.add(
                sft_corpus_counts(
                    batch_df, self.group_col, self.id_col, self.text_col
                )
            )
        )

    def report(self) -> DataFrame:
        return sft_corpus_stats_from_counts(
            self.frame(
                f"{self.group_col} string, "
                + ", ".join(f"{c} long" for c in _SFT_COUNTS)
            ),
            self.group_col,
        )
