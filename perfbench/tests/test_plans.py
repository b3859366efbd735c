"""Each timed action executes the whole plan it claims to measure.

Runs every workload once at its minimum step count with the event log on,
then reads the executed (post-AQE) plans back: the batch facts write must
compute the ``xxhash64`` fingerprint and the ``tok_sum`` fold (a ``count()``
would let Catalyst prune both), the rollup must aggregate, the stream job
must run the Arrow sketch stage and the state store, and the incremental
steps must scan their delta and aggregate. Slow: about a minute a workload.
"""

from __future__ import annotations

import os

import eventlog
import run


def executed(workload: str, tmp_path) -> list[dict]:
    work = str(tmp_path / workload)
    res = run.run_once(workload, seed=7, seconds=1, trace=True, work=work)
    assert not res["error"], res["error"]
    assert res["checks"] and all(res["checks"])
    events = eventlog.read_events(os.path.join(work, "eventlog"))
    t0, t1 = res["region"]
    timed = {
        e["Properties"]["spark.sql.execution.id"]
        for e in events
        if e["Event"] == "SparkListenerJobStart"
        and t0 <= e["Submission Time"] / 1e3 <= t1
        and "spark.sql.execution.id" in (e.get("Properties") or {})
    }
    plans = eventlog.executed_plans(events)
    return [plans[int(x)] for x in timed if int(x) in plans]


def test_batch_facts_write_computes_every_calc(tmp_path):
    plans = executed("batch_calculus", tmp_path)
    writes = [p for p in plans if "OverwriteByExpression" in p["nodes"]]
    assert writes, [p["nodes"][:3] for p in plans]
    for p in writes:
        assert "xxhash64" in p["text"] and "aggregate(" in p["text"]
        assert "Scan parquet" in " ".join(p["nodes"])
    rollups = [p for p in plans if "HashAggregate" in p["nodes"]]
    assert rollups and all("BroadcastHashJoin" in p["nodes"] for p in rollups)


def test_stream_runs_sketch_stage_and_state(tmp_path):
    nodes = {n for p in executed("stream_sketch", tmp_path) for n in p["nodes"]}
    assert {"MapInArrow", "StateStoreSave", "StateStoreRestore"} <= nodes


def test_incremental_scans_delta_and_aggregates(tmp_path):
    plans = executed("incremental_retention", tmp_path)
    nodes = [" ".join(p["nodes"]) for p in plans]
    assert any("Scan parquet" in n and "HashAggregate" in n for n in nodes)
