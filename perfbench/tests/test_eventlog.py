"""The event-log folds on a small recorded run (``record_eventlog.py``):
a parquet write, its schema read, a scan through ``mapInArrow`` into a
grouped aggregate, and a ``noop`` write of the same scan."""

from __future__ import annotations

import gzip
import json
import os
import shutil

import pytest

import eventlog

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@pytest.fixture(scope="module")
def recorded(tmp_path_factory):
    logs = tmp_path_factory.mktemp("eventlog")
    with gzip.open(os.path.join(DATA, "small_eventlog.json.gz"), "rb") as src, open(
        logs / "events_1_app", "wb"
    ) as dst:
        shutil.copyfileobj(src, dst)
    with open(os.path.join(DATA, "small_spans.json")) as f:
        spans = json.load(f)
    return eventlog.read_events(str(logs)), spans


def test_totals_cover_every_task(recorded):
    events, spans = recorded
    tasks = [e for e in events if e["Event"] == "SparkListenerTaskEnd"]
    whole = eventlog.summarize(events)
    assert whole["tasks.count"] == len(tasks)
    parts = [eventlog.summarize(events, [w]) for w in spans.values()]
    assert sum(p["tasks.count"] for p in parts) == whole["tasks.count"]
    assert sum(p["jobs.count"] for p in parts) == whole["jobs.count"]


def test_python_stage_and_shuffle(recorded):
    events, spans = recorded
    m = eventlog.summarize(events, [spans["aggregate"]])
    assert m["python.bytes_sent"] > 0 and m["python.bytes_received"] > 0
    assert 0 < m["python.stage_s"] <= m["tasks.run_s"]
    assert m["exchange.shuffle_write_bytes"] > 0
    assert m["exchange.shuffle_read_bytes"] == m["exchange.shuffle_write_bytes"]
    assert m["sources.scan_rows"] == 2000 and m["sources.scan_bytes"] > 0
    assert m["driver.plan_s"] >= 0 and m["driver.tail_s"] >= 0
    assert m["tasks.skew"] >= 1.0


def test_write_has_no_python_and_writes_output(recorded):
    events, spans = recorded
    m = eventlog.summarize(events, [spans["write"]])
    assert m["python.bytes_sent"] == 0 and m["python.stage_s"] == 0
    assert m["sink.write_s"] > 0
    assert m["sources.scan_bytes"] == 0


def test_windows_outside_the_run_fold_nothing(recorded):
    events, _ = recorded
    m = eventlog.summarize(events, [[0.0, 1.0]])
    assert all(v == 0 for v in m.values())


def test_executed_plans_are_final(recorded):
    events, _ = recorded
    plans = eventlog.executed_plans(events).values()
    assert any("MapInArrow" in p["nodes"] and "HashAggregate" in p["nodes"] for p in plans)
    noop = [p for p in plans if "OverwriteByExpression" in p["nodes"]]
    assert noop and all("MapInArrow" in p["nodes"] for p in noop)
    assert all("isFinalPlan=false" not in p["text"] for p in plans if "AdaptiveSparkPlan" in p["nodes"])
