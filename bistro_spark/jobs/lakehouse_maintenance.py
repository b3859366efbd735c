"""The lakehouse-maintenance streaming job, runnable via spark-submit
--py-files:

    spark-submit --master local[8] --py-files dist/bistro_spark.zip \\
        bistro_spark/jobs/lakehouse_maintenance.py \\
        --commits /tmp/commit_stream --checkpoint /tmp/ck \\
        --actions /tmp/actions --report /tmp/report.json

Drives the live maintenance triangle over a file-stream of COMMIT
records — each arriving parquet file carries the snapshots a trigger
committed plus their manifest edges (snapshot_id → file_id) — the event
stream an Iceberg catalog listener would feed:

- :class:`StreamingExpiryMonitor` (inside the orphan tracker) decides
  which snapshots expire per the retain-last + age policy;
- :class:`StreamingOrphanTracker` keeps per-file live-reference counts;
  expired snapshots' actions are appended to ``--actions`` as JSONL
  (exactly-once per epoch: the foreachBatch epoch id guards replays);
- at shutdown the per-table :func:`tracker_maintenance_report` row and
  the tracker state snapshot are written to ``--report`` so the next
  run resumes instead of re-scanning the lineage.

Commit-record schema (one row per manifest edge; the snapshot row is
carried redundantly on each edge, the natural denormalized listener
feed): ``tbl string, snapshot_id long, committed_at timestamp,
file_id long``.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--commits", required=True, help="dir of commit parquet")
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--actions", required=True, help="JSONL expiry actions")
    ap.add_argument("--report", required=True, help="final report JSON")
    ap.add_argument("--retain-last", type=int, default=3)
    ap.add_argument("--older-than", default="2024-01-25")
    ap.add_argument("--files-per-trigger", type=int, default=1)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from bistro_spark.streaming.maintenance import (
        StreamingOrphanTracker,
        tracker_maintenance_report,
    )
    from bistro_spark.streaming.sink import write_json_atomic

    spark = (
        SparkSession.builder.appName("bistro-lakehouse-maintenance")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    tracker = StreamingOrphanTracker(
        spark, retain_last=args.retain_last, older_than=args.older_than
    )
    state_path = os.path.join(args.checkpoint, "tracker_state.json")
    done_epochs: set[int] = set()
    if os.path.exists(state_path):
        with open(state_path) as fh:
            saved = json.load(fh)
        tracker.restore_state(saved["tracker"])
        done_epochs = set(saved["epochs"])

    os.makedirs(os.path.dirname(os.path.abspath(args.actions)), exist_ok=True)
    t0 = time.time()

    def on_batch(batch_df, epoch_id: int) -> None:
        if epoch_id in done_epochs:  # exactly-once on replay
            return
        snaps = batch_df.select(
            "tbl", "snapshot_id", "committed_at"
        ).dropDuplicates(["tbl", "snapshot_id"])
        refs = batch_df.select("tbl", "snapshot_id", "file_id")
        expired = tracker.process_batch(snaps, refs).collect()
        with open(args.actions, "a") as fh:
            for r in expired:
                fh.write(
                    json.dumps(
                        {
                            "epoch": epoch_id,
                            "tbl": r["tbl"],
                            "snapshot_id": r["snapshot_id"],
                            "action": "expire",
                        }
                    )
                    + "\n"
                )
        done_epochs.add(epoch_id)
        snapshot = tracker.state_snapshot()
        write_json_atomic(
            state_path, {"tracker": snapshot, "epochs": sorted(done_epochs)}
        )

    stream = (
        spark.readStream.schema(
            "tbl string, snapshot_id long, committed_at timestamp, "
            "file_id long"
        )
        .option("maxFilesPerTrigger", args.files_per_trigger)
        .option("recursiveFileLookup", "true")
        .parquet(args.commits)
    )
    q = (
        stream.writeStream.foreachBatch(on_batch)
        .option(
            "checkpointLocation", os.path.join(args.checkpoint, "stream")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    report_rows = [
        r.asDict() for r in tracker_maintenance_report(tracker).collect()
    ]
    orphans = tracker.report().filter(F.col("deletable")).count()
    out = {
        "tables": report_rows,
        "deletable_files": int(orphans),
        "batches": tracker.batches_seen,
        "wall_s": round(time.time() - t0, 3),
    }
    with open(args.report, "w") as fh:
        json.dump(out, fh)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
