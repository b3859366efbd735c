"""Exactly-once sink: batch-id-idempotent parquet commit.

The reference needs no sink (results live in ColumnData arrays, read via
getValue; its "exactly-once" is trivial because one worker thread owns all
state — ``server/.../server/Server.java``). A distributed engine must earn
it: Structured Streaming checkpoints source offsets per epoch and replays
the last uncommitted batch on recovery, so the sink must be idempotent in
``batch_id``.

Offline stand-in for the north rule's Iceberg commit (an Iceberg sink gets
this from snapshot+summary atomicity; the provider abstraction in
sources/io.py swaps it in on a real cluster): each batch writes to
``root/batch_id=<n>/`` and a commit marker records the highest committed
batch; a replayed batch_id ≤ marker is skipped, torn writes are overwritten.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame


def write_json_atomic(path: str, obj) -> None:
    """Replace ``path`` with ``obj`` as JSON: write a tmp file next to it,
    then ``os.replace`` it over ``path``. A crash mid-write leaves the
    previous file whole; an exception also removes the tmp file."""
    tmp = path + ".tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


class IdempotentParquetSink:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    @property
    def _commit_path(self) -> str:
        return os.path.join(self.root, "_committed.json")

    def committed_through(self) -> int:
        if not os.path.exists(self._commit_path):
            return -1
        with open(self._commit_path) as f:
            return json.load(f)["batch_id"]

    def write(self, batch_df: DataFrame, batch_id: int) -> bool:
        """foreachBatch body. Returns False if the batch was a replay.

        Order matters for the exactly-once guarantee: data lands fully
        (overwrite → torn prior attempt erased) BEFORE the marker advances;
        a crash between the two replays the batch, which overwrites again —
        idempotent. The marker write is :func:`write_json_atomic`.
        """
        if batch_id <= self.committed_through():
            # Replay after recovery — output already committed. The batch
            # must still be EXECUTED (Spark 4.x validates that every state
            # store partition commits per batch; skipping execution fails
            # the query with STATE_STORE_COMMIT_VALIDATION_FAILED), so
            # consume it with the built-in noop sink and drop the output.
            batch_df.write.format("noop").mode("overwrite").save()
            return False
        (
            batch_df.write.mode("overwrite").parquet(
                os.path.join(self.root, f"batch_id={batch_id}")
            )
        )
        write_json_atomic(self._commit_path, {"batch_id": batch_id})
        return True

    def read_committed(self, spark) -> DataFrame:
        """All committed output (ignores torn uncommitted directories)."""
        n = self.committed_through()
        paths = [
            os.path.join(self.root, f"batch_id={i}")
            for i in range(n + 1)
            if os.path.exists(os.path.join(self.root, f"batch_id={i}"))
        ]
        return spark.read.parquet(*paths)


class IcebergMergeSink:
    """Exactly-once sink for a catalog (Iceberg) table: the foreachBatch
    body stages the micro-batch as a temp view and runs one ``MERGE INTO``
    keyed on ``key_cols`` — upsert semantics make a post-recovery replay
    of the last uncommitted batch a no-op (same keys upsert to the same
    values), and Iceberg's snapshot commit makes each MERGE atomic. This
    is the cluster-side twin of IdempotentParquetSink: the parquet sink
    earns idempotence from a batch-id marker, this one from key-upsert +
    snapshot atomicity.

    Requires a MERGE-capable catalog table (Iceberg/Delta); plain parquet
    session-catalog tables cannot MERGE, so offline coverage is the SQL
    contract + routing (tests/test_iceberg_provider.py) and the full
    round-trip is the jar-gated integration test.
    """

    def __init__(self, table: str, key_cols: list[str]):
        if not key_cols:
            raise ValueError("IcebergMergeSink needs at least one key column")
        self.table = table
        self.key_cols = list(key_cols)

    def merge_sql(self, staging_view: str) -> str:
        on = " AND ".join(
            f"t.`{k}` = s.`{k}`" for k in self.key_cols
        )
        return (
            f"MERGE INTO {self.table} t USING {staging_view} s ON {on} "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )

    def write(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body: stage + MERGE (atomic per Iceberg snapshot)."""
        view = f"_bistro_merge_staging_{batch_id}"
        batch_df.createOrReplaceTempView(view)
        batch_df.sparkSession.sql(self.merge_sql(view))
