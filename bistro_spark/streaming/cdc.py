"""Streaming twin of CDC changelog application
(``operators/cdc.apply_changelog``): the exactly-once upsert sink's
state, kept queryable.

A foreachBatch upsert sink that maintains an Iceberg table via
``MERGE INTO`` holds exactly one piece of logical state: the current
winner (highest ``seq``) per entity key, tombstones included.  The store
maintains that fold incrementally:

- per trigger, the batch is reduced DISTRIBUTED-side to one candidate
  per key (the same ``max(struct(seq, op, payload...))`` partial
  aggregate as the batch operator), so the driver merge handles
  batch-key-count rows, never batch-row-count rows;
- the driver merge keeps the higher ``version`` per key.  Because max is
  commutative, associative, AND idempotent, the snapshot equals batch
  ``apply_changelog`` over everything seen at EVERY trigger in ANY
  arrival order — and re-delivering a batch (at-least-once replay)
  changes nothing.  Both properties are pytest-pinned.
- tombstones are RETAINED in state (not dropped at delete time): a late
  lower-seq upsert for a deleted key must lose to the tombstone, which
  requires remembering the tombstone's version.  State is therefore
  entity-bounded — the same bound the Iceberg table itself carries — and
  never stream-length-bounded.

Recovery follows the StreamingPacker discipline: persist
:meth:`state_snapshot` with the foreachBatch epoch, restore before
reprocessing; kill/resume parity is pytest-pinned.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bistro_spark.session import local_frame


class StreamingUpsertStore:
    """Feed per-trigger changelog deltas (rows: key, seq, op, payload...)
    to :meth:`process_batch`; read the live table via :meth:`snapshot`
    — same schema and same rows as batch ``apply_changelog`` over the
    full history."""

    def __init__(
        self,
        spark: SparkSession,
        key_col: str = "entity_id",
        seq_col: str = "seq",
        op_col: str = "op",
        payload_cols: Sequence[str] = ("event_type", "value"),
        delete_op: str = "D",
        max_keys: int = 50_000_000,
    ):
        self.spark = spark
        self.key_col = key_col
        self.seq_col = seq_col
        self.op_col = op_col
        self.payload_cols = list(payload_cols)
        self.delete_op = delete_op
        self.max_keys = int(max_keys)
        # key -> [version, op, *payload]  (tombstones retained — see module doc)
        self._state: dict = {}
        self._out_schema: T.StructType | None = None
        self.batches_seen = 0

    # ------------------------------------------------------- recovery --
    def state_snapshot(self) -> dict:
        """Full recovery state: one (version, op, payload...) row per
        entity key ever seen, tombstones included."""
        return {k: list(v) for k, v in self._state.items()}

    def restore_state(self, snapshot: dict) -> None:
        """Resume from a snapshot taken after the last COMMITTED trigger."""
        self._state = {k: list(v) for k, v in snapshot.items()}

    # ---------------------------------------------------------- fold --
    def process_batch(self, batch_df: DataFrame) -> int:
        """Merge one trigger's changelog delta; returns the number of
        keys whose winner advanced (0 on a pure replay)."""
        self.batches_seen += 1
        pays = self.payload_cols
        src = batch_df.select(
            self.key_col,
            F.col(self.seq_col).cast("long").alias("version"),
            F.col(self.op_col).alias("op"),
            *pays,
        )
        if self._out_schema is None:
            self._out_schema = T.StructType(
                [f for f in src.schema.fields if f.name != "op"]
            )
        # distributed partial reduce: one candidate per key in this batch
        cand = (
            src.groupBy(self.key_col)
            .agg(
                F.max(
                    F.struct(
                        "version", "op", *[F.col(c).alias(c) for c in pays]
                    )
                ).alias("w")
            )
            .collect()
        )
        if len(self._state) + len(cand) > self.max_keys:
            raise ValueError(
                f"StreamingUpsertStore: key count would exceed {self.max_keys}; "
                f"shard the store by key range or raise max_keys"
            )
        advanced = 0
        for r in cand:
            k = r[self.key_col]
            w = r["w"]
            new = [w["version"], w["op"], *[w[c] for c in pays]]
            cur = self._state.get(k)
            if cur is None or new[0] > cur[0]:
                self._state[k] = new
                advanced += 1
        return advanced

    # ------------------------------------------------------ snapshot --
    def snapshot(self) -> DataFrame:
        """The live table: every key whose winner is not a tombstone —
        equal to batch ``apply_changelog`` over everything seen, at every
        trigger, in any arrival order."""
        assert self._out_schema is not None, "no batch processed yet"
        rows = [
            (k, v[0], *v[2:])
            for k, v in sorted(self._state.items())
            if v[1] != self.delete_op
        ]
        return local_frame(self.spark, rows, self._out_schema)
