"""spark-submit E2E for the lakehouse-maintenance job: a FRESH JVM
drives the live maintenance triangle over a commit stream, the expiry
actions and final report match the batch operators, and a second run
RESUMES from the persisted tracker state instead of re-deciding."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RETAIN, CUTOFF = 2, "2024-01-10"


def _commits():
    rows = []
    for t in ("x", "y"):
        for d in range(1, 15):
            for k in range(2):
                rows.append(
                    (t, d, f"2024-01-{d:02d} 06:00:00", (d // 3) * 10 + k)
                )
    return rows


def _cdf(spark, rows):
    return spark.createDataFrame(
        rows,
        "tbl string, snapshot_id long, committed_at string, file_id long",
    ).withColumn("committed_at", F.col("committed_at").cast("timestamp"))


def _run(zpath, commits_dir, work):
    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--conf", "spark.sql.session.timeZone=UTC",
        "--conf", "spark.ui.enabled=false",
        "--py-files", zpath,
        os.path.join(REPO, "bistro_spark", "jobs", "lakehouse_maintenance.py"),
        "--commits", commits_dir,
        "--checkpoint", os.path.join(work, "ck"),
        "--actions", os.path.join(work, "actions.jsonl"),
        "--report", os.path.join(work, "report.json"),
        "--retain-last", str(RETAIN),
        "--older-than", CUTOFF,
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    assert lines, proc.stderr[-2000:]
    return json.loads(lines[-1])


def test_spark_submit_maintenance_job_and_resume(spark, tmp_path):
    sys.path.insert(0, REPO)
    from tools.bench_scaling import build_zip

    from bistro_spark.operators.maintenance import maintenance_report

    zpath = build_zip(str(tmp_path))
    rows = _commits()
    commits = str(tmp_path / "commits")
    work = str(tmp_path / "work")
    # first run: days 1..9 in two delta files
    _cdf(spark, rows[: 9 * 4]).coalesce(1).write.parquet(
        os.path.join(commits, "b0")
    )
    out1 = _run(zpath, commits, work)
    assert out1["batches"] >= 1
    # second run: the remaining days arrive; the job must RESUME (the
    # persisted tracker state) and only decide the new expiries
    _cdf(spark, rows[9 * 4 :]).coalesce(1).write.parquet(
        os.path.join(commits, "b1")
    )
    out2 = _run(zpath, commits, work)

    # final report equals the batch composition over ALL commits
    snaps = _cdf(spark, rows).select(
        "tbl", "snapshot_id", "committed_at"
    ).dropDuplicates(["tbl", "snapshot_id"])
    refs = _cdf(spark, rows).select("tbl", "snapshot_id", "file_id")
    want = sorted(
        tuple(r)
        for r in maintenance_report(
            snaps, refs, retain_last=RETAIN, older_than=CUTOFF
        ).collect()
    )
    got = sorted(
        (
            r["tbl"],
            r["n_snapshots"],
            r["n_expired"],
            r["n_files"],
            r["n_deletable"],
            r["n_refs"],
            r["n_live_refs"],
        )
        for r in out2["tables"]
    )
    assert got == want

    # expiry actions: exactly the batch plan's expired set, no duplicates
    # across the two runs (exactly-once epochs + resumed state)
    with open(os.path.join(work, "actions.jsonl")) as fh:
        actions = [json.loads(l) for l in fh]
    keys = [(a["tbl"], a["snapshot_id"]) for a in actions]
    assert len(keys) == len(set(keys)), "duplicate expiry actions"
    from bistro_spark.operators.maintenance import snapshot_expiry_plan

    expired = {
        (r["tbl"], r["snapshot_id"])
        for r in snapshot_expiry_plan(
            snaps, retain_last=RETAIN, older_than=CUTOFF
        ).collect()
        if r["status"] == "expired"
    }
    assert set(keys) == expired
