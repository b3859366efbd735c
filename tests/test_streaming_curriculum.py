"""StreamingCurriculumMonitor: EXACT any-order full-history parity with
batch curriculum_schedule at every trigger (the report is a pure
function of the signal histogram — ties are interchangeable), kill /
resume via the histogram snapshot, domain guard, and the N < n_steps
edge."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from bistro_spark.operators.trainprep import curriculum_schedule
from bistro_spark.streaming.curriculum import StreamingCurriculumMonitor

DOCS = "/root/testdata/sf0.001/documents.parquet"


def _docs(spark):
    return spark.read.parquet(DOCS).select(
        "doc_id", F.size(F.split("text", " ")).alias("n_words")
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_curriculum_monitor_any_order_parity_at_every_trigger(spark):
    docs = _docs(spark)
    orders = [
        [(0, 170), (170, 340), (340, 10**9)],
        [(340, 10**9), (0, 170), (170, 340)],  # reversed arrival
    ]
    for cuts in orders:
        mon = StreamingCurriculumMonitor(spark, n_steps=12)
        seen = None
        for lo, hi in cuts:
            delta = docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            )
            mon.process_batch(delta)
            seen = delta if seen is None else seen.unionByName(delta)
            want = _rows(curriculum_schedule(seen, n_steps=12))
            assert _rows(mon.report()) == want


def test_curriculum_monitor_kill_resume(spark):
    docs = _docs(spark)
    a = StreamingCurriculumMonitor(spark, n_steps=8)
    a.process_batch(docs.filter("doc_id < 250"))
    snap = json.loads(json.dumps(a.state_snapshot()))  # JSON round trip
    b = StreamingCurriculumMonitor(spark, n_steps=8)
    b.restore_state(snap)
    b.process_batch(docs.filter("doc_id >= 250"))
    assert _rows(b.report()) == _rows(curriculum_schedule(docs, n_steps=8))


def test_curriculum_monitor_domain_guard_and_small_n(spark):
    import pytest

    mon = StreamingCurriculumMonitor(spark, n_steps=5, max_domain=3)
    df = spark.createDataFrame(
        [(i, i) for i in range(10)], "doc_id long, n_words long"
    )
    with pytest.raises(ValueError, match="domain exceeds"):
        mon.process_batch(df)
    # N < n_steps: only non-empty steps appear, matching batch
    small = spark.createDataFrame(
        [(1, 5), (2, 9)], "doc_id long, n_words long"
    )
    mon2 = StreamingCurriculumMonitor(spark, n_steps=5)
    mon2.process_batch(small)
    assert _rows(mon2.report()) == _rows(
        curriculum_schedule(small, n_steps=5)
    )
    # state is value-domain-bounded, not corpus-bounded
    assert len(mon2.state_snapshot()["rows"]) == 2
