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
