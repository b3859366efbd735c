"""Mid-stream dimension growth: the project column (C4) under streaming.

The reference's project (``core/.../core/ColumnDefinitionProj.java``)
appends a new target row the first time a key combination appears and
links the fact to it — the target table grows WHILE the stream populates
it. Structured Streaming cannot express "join against a dim the same
stream is building" in one operator, so this is the documented two-phase
foreachBatch pattern (SURVEY.md §4.2.3):

  phase 1 — upsert: distinct new keys of the batch are appended to the
  dim with surrogate ids assigned in first-appearance order (the Bistro
  row-id analog: deterministic, monotone, stable across replays because
  ordering is by the lineage offset, not arrival wall-time);
  phase 2 — link: broadcast-join the batch against the (now current) dim.

State = the dim itself (one row per distinct key — small by definition of
a dimension), kept localCheckpoint'ed to truncate lineage; on a real
cluster this is an Iceberg MERGE INTO + snapshot read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from bistro_spark.caching import PinOwner


class StreamingProjector(PinOwner):
    def __init__(
        self,
        spark: SparkSession,
        keys: list[str],
        order_col: str = "batch_ofs",
        link_name: str = "dim_id",
    ):
        super().__init__(spark)
        self.keys = keys
        self.order_col = order_col
        self.link_name = link_name
        self._dim: DataFrame | None = None
        self._n = 0  # dim cardinality, tracked driver-side (no per-batch
        # count() over the whole dim — only the small per-batch delta is
        # ever counted)

    def dim(self) -> DataFrame:
        if self._dim is None:
            raise ValueError("no batches processed")
        return self._dim

    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        """Upsert new keys, then link: returns the batch with the surrogate
        ``dim_id`` attached (never null — project cannot miss)."""
        new_keys = batch_df.groupBy(*self.keys).agg(
            F.min(self.order_col).alias("_first_ofs")
        )
        if self._dim is not None:
            new_keys = new_keys.join(
                F.broadcast(self._dim.select(*self.keys)), self.keys, "left_anti"
            )
        base = self._n
        # global sort, but over the per-batch DELTA of new keys only — a
        # dimension grows by few keys per batch by definition, so this is
        # a tiny single-task sort, not a stream-sized one
        w = Window.orderBy("_first_ofs")
        appended = new_keys.withColumn(
            self.link_name, F.row_number().over(w) + F.lit(base) - 1
        ).select(*self.keys, self.link_name, F.col("_first_ofs").alias("first_ofs"))
        dim = (
            appended
            if self._dim is None
            else self._dim.unionByName(appended)
        )
        # the new dim pin reads the old one (union) — pin eagerly first,
        # then free last batch's blocks so a long stream holds exactly one
        # dim checkpoint, not one per micro-batch. The PREVIOUS batch's
        # returned join is invalid after this (consumed within its trigger
        # under foreachBatch, which is the contract here).
        self._dim = self._pin(dim)
        # delta-sized count (the checkpoint materialized the rows already);
        # `appended` still reads the OLD dim, so release only after it
        self._n = base + appended.count()
        self._commit()
        return batch_df.join(
            F.broadcast(self._dim.select(*self.keys, self.link_name)),
            self.keys,
            "left",
        )


def streaming_exact_dedup(
    stream_df: DataFrame,
    keys: list[str],
    time_col: str = "event_time",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival of each key, drop
    replays that arrive within the watermark horizon.

    This is the streaming twin of operators/dedup.exact_dedup and of the
    project column's distinct-key extraction (ColumnDefinitionProj.java
    appends a target row only if the key is new): Spark's
    ``dropDuplicatesWithinWatermark`` keys the state store by ``keys`` and
    expires entries once the watermark passes — state is bounded by the
    horizon, not the stream length (the 10^12-sequence requirement; an
    unbounded ``dropDuplicates`` would grow state forever)."""
    return stream_df.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


# ----------------------------------------- cross-batch span-dedup store ----


class StreamingSpanDeduper(PinOwner):
    """Streaming twin of ``operators.dedup.incremental_span_dedup`` — the
    incremental-crawl flow as a foreachBatch stage: every micro-batch's
    documents are scored against the span-hash store accumulated from all
    previously RETAINED documents; docs at/over the duplicate-fraction
    threshold are flagged, survivors contribute their spans to the store.

    Semantics match repeated application of the batch operator with
    ``old = all surviving docs so far`` (pytest-pinned): documents within
    one micro-batch do not see each other's spans — exactly the batch
    op's new/old split, applied per trigger.

    State = DISTINCT span hashes of the retained corpus, localCheckpoint'ed
    per batch to truncate lineage (on a cluster: an Iceberg/Delta table
    MERGE'd per batch, or a bloom sketch when approximate pruning is
    acceptable). State grows with retained-corpus vocabulary of spans —
    the same asymptote the batch op's old side scans; the probe stays an
    equi-join on the hash.
    """

    def __init__(
        self,
        spark: SparkSession,
        size: int = 8,
        threshold: float = 0.5,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        from fractions import Fraction

        super().__init__(spark)
        self.size = size
        self.id_col = id_col
        self.text_col = text_col
        self._frac = Fraction(threshold).limit_denominator(10**6)
        self._store: DataFrame | None = None  # distinct span hashes

    def store_size(self) -> int:
        return 0 if self._store is None else self._store.count()

    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        """Score the batch, update the store with survivors' spans, and
        return (id, n_spans, n_matched, is_dup) for the batch's docs.
        The returned stats (and any join against them) are valid until the
        NEXT ``process_batch`` call — their pinned blocks are recycled then
        (consumed-within-trigger, the foreachBatch contract)."""
        from bistro_spark.operators.curation import chunk_spans

        spans = chunk_spans(
            batch_df,
            id_col=self.id_col,
            text_col=self.text_col,
            size=self.size,
            overlap=0,
        ).select(
            self.id_col, F.md5(F.col("chunk_text")).alias("_h")
        )
        if self._store is not None:
            probed = spans.join(
                self._store.withColumn("_hit", F.lit(1)), "_h", "left"
            )
        else:
            probed = spans.withColumn("_hit", F.lit(None).cast("int"))
        stats = (
            probed.groupBy(self.id_col)
            .agg(
                F.count("*").cast("long").alias("n_spans"),
                F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
                .cast("long")
                .alias("n_matched"),
            )
            .withColumn(
                "is_dup",
                (
                    F.col("n_matched") * self._frac.denominator
                    >= F.col("n_spans") * self._frac.numerator
                ).cast("int"),
            )
        )
        # score once: read out AND store
        stats = self._pin(stats)
        survivors = stats.filter(F.col("is_dup") == 0).select(self.id_col)
        surv_spans = (
            spans.join(survivors, self.id_col, "left_semi")
            .select("_h")
            .distinct()
        )
        new_store = (
            surv_spans
            if self._store is None
            else self._store.unionByName(surv_spans).distinct()
        )
        self._store = self._pin(new_store)
        # previous batch's store AND stats blocks have no consumers left
        self._commit()
        return stats
