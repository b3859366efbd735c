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
  cursor per shard across micro-batches and resumes the fold where the
  previous trigger stopped. State is exactly ``n_shards`` pairs of
  BIGINTs — partition-count-sized, not stream-sized — held driver-side
  and snapshot-able into any checkpoint (on a real cluster: the
  foreachBatch epoch's commit log / an Iceberg metadata row per shard).

  **Parity contract (pytest-pinned):** under id-monotone arrival — each
  shard's documents arrive in increasing id order across triggers, the
  natural case when ids are assigned at ingest — the union of per-trigger
  outputs EQUALS batch ``pack_sequences`` over everything seen: both run
  the one ``curation.next_fit`` kernel, whose fold depends only on each
  shard's (len) sequence in id order, and monotone arrival makes the
  concatenation of per-batch folds THE single fold. Out-of-id-order
  arrival diverges by construction (a later-arriving smaller id would
  have packed earlier in the batch fold); the divergence is pinned by
  counter-example, mirroring the token-budget twin's documented
  contract, because a packer cannot retroactively reopen an emitted
  buffer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bistro_spark.caching import PinOwner
from bistro_spark.operators.curation import group_lengths, next_fit
from bistro_spark.session import local_frame
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
        import pandas as pd

        self.batches_seen += 1
        self._begin()
        id_col, capacity, max_rows = self.id_col, self.capacity, self.max_rows
        carry = dict(self._state)  # ships via closure: n_shards-sized

        src = batch_df.select(
            F.col(id_col),
            (F.col(id_col) % self.n_shards).cast("int").alias("shard"),
            F.col(self.len_col).cast("long").alias("len"),
        )
        schema = f"{id_col} long, shard int, pack_id long, offset long, len long"

        def pack(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf, lens = group_lengths(
                pdf, id_col, "len", max_rows, "max_rows_per_batch_shard",
                "StreamingPacker",
            )
            cursor = carry.get(int(pdf["shard"].iloc[0]))
            pdf["pack_id"], pdf["offset"] = next_fit(lens, capacity, cursor)
            return pdf[[id_col, "shard", "pack_id", "offset", "len"]]

        out = self._pin(
            src.groupBy("shard").applyInPandas(pack, schema), trigger=True
        )
        # advance each shard's cursor to its max-id row — n_shards rows
        upd = (
            out.groupBy("shard")
            .agg(
                F.max_by(
                    F.struct(
                        F.col("pack_id"),
                        (F.col("offset") + F.col("len")).alias("end"),
                    ),
                    F.col(id_col),
                ).alias("c")
            )
            .collect()
        )
        for r in upd:
            self._state[r["shard"]] = (r["c"]["pack_id"], r["c"]["end"])
        return out


class StreamingBinidxWriter(PinOwner):
    """Streaming twin of ``operators/curation.binidx_manifest``: the
    ``.bin``/``.idx`` layout assigned live, so an ingest loop can append
    serialized tokens to shard files as documents arrive instead of
    re-planning offsets from the full corpus. Completes the live
    tokenize → pack → export chain next to ``StreamingPacker``.

    State is ONE ``(next_index, next_offset)`` cursor per shard —
    ``n_shards``-bounded, never corpus-bounded. Per trigger the delta
    gets in-delta ranks/prefix-sums via a per-shard window over the
    DELTA ONLY, then the carried cursors are added back via a
    shard-grid broadcast join — no pandas kernel, no corpus re-scan.

    **Parity contract (pytest-pinned, the StreamingPacker contract):**
    under id-monotone arrival per shard (ids assigned at commit time —
    the natural case) the union of per-trigger outputs EQUALS batch
    ``binidx_manifest`` over everything seen: a serialized file is
    append-only, so the concatenation of per-batch prefix sums IS the
    single prefix sum. Out-of-order arrival diverges by construction
    (bytes already written cannot be moved) — pinned by counter-example.
    """

    def __init__(
        self,
        spark: SparkSession,
        n_shards: int = 4,
        bytes_per_token: int = 2,
        id_col: str = "doc_id",
        len_col: str = "n_tok",
    ):
        super().__init__(spark)
        self.n_shards = int(n_shards)
        self.bpt = int(bytes_per_token)
        self.id_col = id_col
        self.len_col = len_col
        # shard -> [next_index, next_offset]
        self._state: dict[int, list[int]] = {}
        self.batches_seen = 0

    # ------------------------------------------------------- recovery --
    def state_snapshot(self) -> dict[int, list[int]]:
        return {k: list(v) for k, v in self._state.items()}

    def restore_state(self, snapshot: dict) -> None:
        self._state = {int(k): [int(x) for x in v] for k, v in snapshot.items()}

    # ---------------------------------------------------------- fold --
    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        self.batches_seen += 1
        self._begin()
        base = batch_df.select(
            self.id_col,
            F.expr(f"{self.id_col} % {self.n_shards}")
            .cast("long")
            .alias("shard"),
            F.col(self.len_col).cast("long").alias("n_tokens"),
            (F.col(self.len_col).cast("long") * self.bpt).alias("n_bytes"),
        )
        w = Window.partitionBy("shard").orderBy(self.id_col)
        delta = base.select(
            self.id_col,
            "shard",
            (F.row_number().over(w) - 1).cast("long").alias("_didx"),
            "n_tokens",
            "n_bytes",
            F.coalesce(
                F.sum("n_bytes").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("_doff"),
        )
        cur_rows = [
            (s, v[0], v[1]) for s, v in self._state.items()
        ] or [(-1, 0, 0)]
        cursors = local_frame(
            self.spark, cur_rows, "shard long, _cidx long, _coff long"
        )
        out = self._pin(
            delta.join(F.broadcast(cursors), "shard", "left")
            .select(
                self.id_col,
                "shard",
                (F.col("_didx") + F.coalesce("_cidx", F.lit(0)))
                .cast("long")
                .alias("seq_index"),
                "n_tokens",
                "n_bytes",
                (F.col("_doff") + F.coalesce("_coff", F.lit(0)))
                .cast("long")
                .alias("byte_offset"),
            ),
            trigger=True,
        )
        upd = (
            out.groupBy("shard")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.max(
                    F.struct(
                        F.col("seq_index"),
                        (F.col("byte_offset") + F.col("n_bytes")).alias("e"),
                    )
                ).alias("m"),
            )
            .collect()
        )
        for r in upd:
            self._state[int(r["shard"])] = [
                int(r["m"]["seq_index"]) + 1,
                int(r["m"]["e"]),
            ]
        return out


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
    from bistro_spark.operators.trainprep import fim_transform

    return fim_transform(
        stream_df, id_col, text_col, rate_pct=rate_pct, min_words=min_words
    )


class StreamingConcatChunker(PinOwner):
    """Streaming twin of ``trainprep.concat_chunks``: the GPT-style
    concat-and-cut chunk layout assigned live as documents arrive.

    State is ONE BIGINT per shard — the next global token offset of the
    shard's concatenated stream (``n_shards``-bounded, never
    corpus-bounded; the offset is additive in the delta's token mass, so
    the cursor update is a single n_shards-row aggregate). Per trigger
    the delta gets its in-delta prefix sums via a per-shard window over
    the DELTA ONLY, carried cursors return via a shard-grid broadcast
    join, and the chunk explode/projection reuses the batch operator's
    expressions verbatim.

    **Parity contract (pytest-pinned, the StreamingBinidxWriter
    contract):** under id-monotone arrival per shard, the union of
    per-trigger outputs EQUALS batch ``concat_chunks`` over everything
    seen — a concatenated token stream is append-only, so the
    concatenation of per-batch prefix sums IS the single prefix sum.
    Out-of-order arrival diverges by construction (tokens already laid
    out cannot move) — pinned by counter-example.
    """

    def __init__(
        self,
        spark: SparkSession,
        capacity: int = 256,
        n_shards: int = 4,
        sep_tokens: int = 1,
        id_col: str = "doc_id",
        len_col: str = "n_tok",
    ):
        super().__init__(spark)
        self.capacity = int(capacity)
        self.n_shards = int(n_shards)
        self.sep = int(sep_tokens)
        self.id_col = id_col
        self.len_col = len_col
        self._state: dict[int, int] = {}  # shard -> next token offset
        self.batches_seen = 0

    # ------------------------------------------------------- recovery --
    def state_snapshot(self) -> dict[int, int]:
        """Full recovery state: one token-offset cursor per touched
        shard. Persist with the foreachBatch epoch; restore before
        reprocessing — kill/resume parity is pytest-pinned."""
        return dict(self._state)

    def restore_state(self, snapshot: dict) -> None:
        self._state = {int(k): int(v) for k, v in snapshot.items()}

    # ---------------------------------------------------------- fold --
    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        self.batches_seen += 1
        self._begin()
        cap = self.capacity
        base = batch_df.select(
            self.id_col,
            (F.col(self.id_col) % self.n_shards).cast("int").alias("shard"),
            (F.col(self.len_col).cast("long") + self.sep).alias("_span"),
        )
        w = Window.partitionBy("shard").orderBy(self.id_col)
        delta = base.withColumn(
            "_dstart",
            F.coalesce(
                F.sum("_span").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).cast("long"),
        )
        cur_rows = list(self._state.items()) or [(-1, 0)]
        cursors = local_frame(
            self.spark, cur_rows, "shard int, _coff long"
        )
        laid = delta.join(F.broadcast(cursors), "shard", "left").withColumn(
            "_start", F.col("_dstart") + F.coalesce("_coff", F.lit(0))
        )
        ex = laid.select(
            self.id_col,
            "shard",
            "_span",
            "_start",
            F.explode(
                F.sequence(
                    F.expr(f"_start DIV {cap}"),
                    F.expr(f"(_start + _span - 1) DIV {cap}"),
                )
            ).alias("chunk_id"),
        )
        c0 = F.col("chunk_id") * cap
        lo = F.greatest(F.col("_start"), c0)
        hi = F.least(F.col("_start") + F.col("_span"), c0 + cap)
        out = self._pin(
            ex.select(
                "shard",
                F.col("chunk_id").cast("long").alias("chunk_id"),
                self.id_col,
                (lo - c0).cast("long").alias("start_in_chunk"),
                (lo - F.col("_start")).cast("long").alias("start_in_doc"),
                (hi - lo).cast("long").alias("n_tok"),
                (
                    F.expr(f"(_start + _span - 1) DIV {cap}")
                    == F.col("chunk_id")
                ).alias("has_eod"),
            ),
            trigger=True,
        )
        # each (doc, chunk) row carries the doc's tokens landing in that
        # chunk, so per-shard sum(n_tok) over the pinned output equals
        # the delta's total span mass — no second pass over the delta
        upd = (
            out.groupBy("shard")
            .agg(F.sum("n_tok").cast("long").alias("mass"))
            .collect()
        )
        for r in upd:
            s = int(r["shard"])
            self._state[s] = self._state.get(s, 0) + int(r["mass"])
        return out


class StreamingChunkReadPlanner(PinOwner):
    """Streaming twin of ``trainprep.chunk_read_plan``: the loader's
    per-chunk I/O entries emitted LIVE as documents arrive — the read
    side of the live tokenize→pack→export chain
    (``StreamingConcatChunker`` lays out chunks,
    ``StreamingBinidxWriter`` lays out bytes; this planner composes
    BOTH layouts in one pass over each delta, so the two cursors can
    never disagree about a doc).

    State is TWO BIGINTs per shard — the next token offset of the
    shard's concatenated chunk stream (incl. EOD spans) and the next
    byte offset of the shard's ``.bin`` file (real tokens only) —
    ``n_shards``-bounded, additive in the delta's masses. Per trigger
    the delta gets in-delta token and byte prefix sums via per-shard
    windows over the DELTA ONLY, carried cursors return via a
    shard-grid broadcast join, the chunk explode reuses the batch
    expressions, every read is clamped to the doc's real byte span
    (EOD-only segments emit nothing), and read entries
    (shard, chunk_id, doc_id, off, nb) leave append-only — a doc's
    reads are emitted exactly once, at arrival.

    **Parity contract (pytest-pinned):** under id-monotone arrival per
    shard, the union of per-trigger entries, grouped to offset-ordered
    arrays, EQUALS batch ``chunk_read_plan`` over everything seen.
    Out-of-order arrival diverges by construction (bytes and tokens
    already laid out cannot move) — pinned by counter-example.
    Kill/resume via the JSON-safe two-cursor snapshot."""

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
        super().__init__(spark)
        self.capacity = int(capacity)
        self.n_shards = int(n_shards)
        self.sep = int(sep_tokens)
        self.bpt = int(bytes_per_token)
        self.id_col = id_col
        self.len_col = len_col
        # shard -> [next token offset (incl. EOD), next byte offset]
        self._state: dict[int, list[int]] = {}
        self.batches_seen = 0

    # ------------------------------------------------------- recovery --
    def state_snapshot(self) -> dict:
        """JSON-safe: one (token, byte) cursor pair per touched shard."""
        return {str(s): list(v) for s, v in self._state.items()}

    def restore_state(self, snapshot: dict) -> None:
        self._state = {
            int(k): [int(v[0]), int(v[1])] for k, v in snapshot.items()
        }

    # ---------------------------------------------------------- fold --
    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        self.batches_seen += 1
        self._begin()
        cap, bpt = self.capacity, self.bpt
        base = batch_df.select(
            self.id_col,
            (F.col(self.id_col) % self.n_shards).cast("int").alias("shard"),
            F.col(self.len_col).cast("long").alias("_n"),
            (F.col(self.len_col).cast("long") + self.sep).alias("_span"),
        )
        w = (
            Window.partitionBy("shard")
            .orderBy(self.id_col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        delta = base.withColumn(
            "_dstart",
            F.coalesce(F.sum("_span").over(w), F.lit(0)).cast("long"),
        ).withColumn(
            "_dbytes",
            F.coalesce(F.sum(F.col("_n") * bpt).over(w), F.lit(0)).cast(
                "long"
            ),
        )
        cur_rows = [
            (s, v[0], v[1]) for s, v in self._state.items()
        ] or [(-1, 0, 0)]
        cursors = local_frame(
            self.spark, cur_rows, "shard int, _coff long, _cboff long"
        )
        laid = (
            delta.join(F.broadcast(cursors), "shard", "left")
            .withColumn(
                "_start", F.col("_dstart") + F.coalesce("_coff", F.lit(0))
            )
            .withColumn(
                "_boff", F.col("_dbytes") + F.coalesce("_cboff", F.lit(0))
            )
        )
        ex = laid.select(
            self.id_col,
            "shard",
            "_n",
            "_span",
            "_start",
            "_boff",
            F.explode(
                F.sequence(
                    F.expr(f"_start DIV {cap}"),
                    F.expr(f"(_start + _span - 1) DIV {cap}"),
                )
            ).alias("chunk_id"),
        )
        c0 = F.col("chunk_id") * cap
        sid = F.greatest(F.col("_start"), c0) - F.col("_start")
        send = F.least(F.col("_start") + F.col("_span"), c0 + cap) - F.col(
            "_start"
        )
        nb = (F.least(send, F.col("_n")) - sid) * bpt
        out = self._pin(
            ex.select(
                "shard",
                F.col("chunk_id").cast("long").alias("chunk_id"),
                self.id_col,
                (F.col("_boff") + sid * bpt).cast("long").alias("off"),
                nb.cast("long").alias("nb"),
            ).filter(F.col("nb") > 0),
            trigger=True,
        )
        # cursor update: delta-bounded shard aggregate over the cheap
        # base projection (the emitted reads exclude EOD spans, so the
        # token mass cannot be recovered from them)
        upd = (
            base.groupBy("shard")
            .agg(
                F.sum("_span").cast("long").alias("tmass"),
                (F.sum("_n") * bpt).cast("long").alias("bmass"),
            )
            .collect()
        )
        for r in upd:
            s = int(r["shard"])
            cur = self._state.get(s, [0, 0])
            self._state[s] = [
                cur[0] + int(r["tmass"]),
                cur[1] + int(r["bmass"]),
            ]
        return out


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
    from bistro_spark.operators.trainprep import sft_turn_spans

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
        from bistro_spark.operators.trainprep import sft_doc_stats

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
        from bistro_spark.operators.trainprep import sft_corpus_counts

        return len(
            self.add(
                sft_corpus_counts(
                    batch_df, self.group_col, self.id_col, self.text_col
                )
            )
        )

    def report(self) -> DataFrame:
        from bistro_spark.operators.trainprep import (
            sft_corpus_stats_from_counts,
        )

        return sft_corpus_stats_from_counts(
            self.frame(
                f"{self.group_col} string, "
                + ", ".join(f"{c} long" for c in _SFT_COUNTS)
            ),
            self.group_col,
        )
