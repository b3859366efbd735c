"""spark-submit E2E for the preference-stream job: a FRESH JVM drives
StreamingPreferenceMiner over a candidate file stream, each epoch's pair
snapshot is a complete DPO dataset, and a second run RESUMES from the
persisted miner state — the final pair set and report equal the batch
operators over everything that ever arrived."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = "/root/testdata/sf0.001/documents.parquet"


def _cands(spark):
    return spark.read.parquet(DOCS).select(
        (F.col("doc_id") % 10).alias("prompt_id"),
        F.col("doc_id").alias("cand_id"),
        F.col("n_chars").alias("reward"),
    )


def _run(zpath, cand_dir, work):
    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--conf", "spark.sql.session.timeZone=UTC",
        "--conf", "spark.ui.enabled=false",
        "--py-files", zpath,
        os.path.join(REPO, "bistro_spark", "jobs", "preference_stream.py"),
        "--candidates", cand_dir,
        "--checkpoint", os.path.join(work, "ck"),
        "--pairs", os.path.join(work, "pairs"),
        "--report", os.path.join(work, "report.json"),
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    assert lines, proc.stderr[-2000:]
    return json.loads(lines[-1])


def test_spark_submit_preference_job_and_resume(spark, tmp_path):
    sys.path.insert(0, REPO)
    from tools.bench_scaling import build_zip

    from bistro_spark.operators.preference import (
        preference_pairs,
        preference_stats,
    )

    zpath = build_zip(str(tmp_path))
    cands = _cands(spark)
    cand_dir = str(tmp_path / "cands")
    work = str(tmp_path / "work")
    # first run: two delta files
    cands.filter("cand_id % 3 = 0").coalesce(1).write.parquet(
        os.path.join(cand_dir, "b0")
    )
    cands.filter("cand_id % 3 = 1").coalesce(1).write.parquet(
        os.path.join(cand_dir, "b1")
    )
    out1 = _run(zpath, cand_dir, work)
    assert out1["batches"] >= 1 and out1["pairs"] > 0
    # second run: the rest arrives; the job resumes the persisted fold
    cands.filter("cand_id % 3 = 2").coalesce(1).write.parquet(
        os.path.join(cand_dir, "b2")
    )
    out2 = _run(zpath, cand_dir, work)
    assert out2["candidates"] == cands.count()

    # the LATEST epoch snapshot equals batch pairs over everything
    pairs_root = os.path.join(work, "pairs")
    epochs = sorted(
        int(d.split("=")[1])
        for d in os.listdir(pairs_root)
        if d.startswith("epoch=")
    )
    last = spark.read.parquet(
        os.path.join(pairs_root, f"epoch={epochs[-1]}")
    )
    want = sorted(tuple(r) for r in preference_pairs(cands).collect())
    assert sorted(tuple(r) for r in last.collect()) == want
    assert out2["pairs"] == len(want)

    # report stats fields agree with the batch audit
    stats = preference_stats(cands).collect()
    assert out2["prompts"] == len(stats)
    assert out2["no_signal_prompts"] == sum(
        1 for r in stats if (r["gap"] or 0) == 0
    )
    # every intermediate epoch snapshot was itself a consistent dataset:
    # chosen always beats rejected by >= the margin floor
    for e in epochs:
        snap = spark.read.parquet(
            os.path.join(pairs_root, f"epoch={e}")
        ).collect()
        assert all(r["margin"] >= 1 for r in snap)
