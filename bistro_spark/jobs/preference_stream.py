"""The preference-mining streaming job, runnable via spark-submit
--py-files:

    spark-submit --master local[8] --py-files dist/bistro_spark.zip \\
        bistro_spark/jobs/preference_stream.py \\
        --candidates /tmp/cand_stream --checkpoint /tmp/ck \\
        --pairs /tmp/pairs_out --report /tmp/report.json

Drives :class:`StreamingPreferenceMiner` over a file-stream of scored
candidate records — each arriving parquet file carries (prompt_id,
cand_id, reward) rows, the feed a best-of-n sampling loop emits as its
judge scores land:

- every trigger folds the delta into the miner's content-bounded state
  (deduplicated distributed-side; replays are structural no-ops, and
  the foreachBatch epoch guard skips them without even touching the
  state — belt and braces);
- the live pair set is re-emitted per epoch to ``--pairs`` as one
  parquet snapshot directory per epoch (the pair set is a pure function
  of the state, so each snapshot equals the batch operator over
  everything seen — the consumer always reads a complete, consistent
  DPO dataset, never a partial append);
- at shutdown the per-prompt signal stats and the miner state snapshot
  are written to ``--report`` / the checkpoint, so the NEXT run resumes
  the fold exactly (kill/resume parity is the miner's pinned contract).
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--candidates", required=True, help="dir of parquet")
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--pairs", required=True, help="pair snapshots dir")
    ap.add_argument("--report", required=True, help="final report JSON")
    ap.add_argument("--min-margin", type=int, default=1)
    ap.add_argument("--files-per-trigger", type=int, default=1)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from bistro_spark.streaming.preference import StreamingPreferenceMiner
    from bistro_spark.streaming.sink import write_json_atomic

    spark = (
        SparkSession.builder.appName("bistro-preference-stream")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    miner = StreamingPreferenceMiner(spark, min_margin=args.min_margin)
    state_path = os.path.join(args.checkpoint, "miner_state.json")
    done_epochs: set[int] = set()
    if os.path.exists(state_path):
        with open(state_path) as fh:
            saved = json.load(fh)
        miner.restore_state(saved["miner"])
        done_epochs = set(saved["epochs"])

    os.makedirs(args.pairs, exist_ok=True)
    t0 = time.time()

    def on_batch(batch_df, epoch_id: int) -> None:
        if epoch_id in done_epochs:  # exactly-once on replay
            return
        miner.process_batch(batch_df)
        miner.pairs().write.mode("overwrite").parquet(
            os.path.join(args.pairs, f"epoch={epoch_id}")
        )
        done_epochs.add(epoch_id)
        write_json_atomic(
            state_path,
            {"miner": miner.state_snapshot(), "epochs": sorted(done_epochs)},
        )

    stream = (
        spark.readStream.schema(
            "prompt_id long, cand_id long, reward long"
        )
        .option("maxFilesPerTrigger", args.files_per_trigger)
        .option("recursiveFileLookup", "true")
        .parquet(args.candidates)
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

    stats_rows = [r.asDict() for r in miner.stats().collect()]
    out = {
        "prompts": len(stats_rows),
        "candidates": miner.state_size(),
        "pairs": miner.pairs().count(),
        "no_signal_prompts": sum(
            1 for r in stats_rows if (r["gap"] or 0) == 0
        ),
        "batches": miner.batches_seen,
        "wall_s": round(time.time() - t0, 3),
    }
    with open(args.report, "w") as fh:
        json.dump(out, fh)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
