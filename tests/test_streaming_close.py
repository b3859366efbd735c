"""Every streaming twin that pins executor blocks frees all of them on
``close()``: after two triggers and a close, the session's pinned ids are
back at the baseline taken before the twin was built, and a second
``close()`` changes nothing."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from bistro_spark.caching import pinned_ids
from bistro_spark.streaming import cep, incremental, maintenance, pack
from bistro_spark.streaming import project, select, web

RUNNER = (
    lambda df: df, ["source"], [incremental.AggSpec("n", "count(1)", "sum")]
)

# name -> (input table, twin factory); every twin is fed through
# process_batch(delta), except the runner (add_batch)
CASES = {
    "IncrementalRunner": (
        "docs", lambda s: incremental.IncrementalRunner(s, *RUNNER)
    ),
    "IncrementalRunner_retention": (
        "docs",
        lambda s: incremental.IncrementalRunner(
            s, *RUNNER, retention_count=100
        ),
    ),
    "StreamingCepMatcher": ("events", cep.StreamingCepMatcher),
    "StreamingCompactionMonitor": (
        "docs",
        lambda s: maintenance.StreamingCompactionMonitor(
            s, target_bytes=4096
        ),
    ),
    "StreamingPacker": ("docs", pack.StreamingPacker),
    "StreamingBinidxWriter": ("docs", pack.StreamingBinidxWriter),
    "StreamingConcatChunker": ("docs", pack.StreamingConcatChunker),
    "StreamingChunkReadPlanner": ("docs", pack.StreamingChunkReadPlanner),
    "StreamingSftPackMonitor": (
        "docs", lambda s: pack.StreamingSftPackMonitor(s, capacity=64)
    ),
    "StreamingProjector": (
        "docs", lambda s: project.StreamingProjector(s, keys=["source"])
    ),
    "StreamingQuotaSelector": (
        "docs",
        lambda s: select.StreamingQuotaSelector(s, "source", "n_chars", n=5),
    ),
    "StreamingSkylineSelector": ("docs", select.StreamingSkylineSelector),
    "StreamingTokenBudgetSelector": (
        "raw",
        lambda s: select.StreamingTokenBudgetSelector(
            s, "source", "n_chars", budget=2000
        ),
    ),
    "StreamingDomainStats": ("docs", web.StreamingDomainStats),
}


def _table(spark, data, name):
    """(id column, id cut between the two triggers, frame)."""
    df = spark.read.parquet(f"{data}/documents.parquet")
    if name == "raw":  # the token-budget op derives its own n_tok
        return "doc_id", 250, df
    if name == "docs":
        return "doc_id", 250, df.select(
            "*",
            (F.col("n_chars") % 97 + 1).alias("n_tok"),
            F.col("doc_id").alias("batch_ofs"),
            F.col("n_chars").alias("x"),
            (-F.col("doc_id")).alias("y"),
            F.col("source").alias("part"),
            F.col("doc_id").alias("file_id"),
            F.col("n_chars").alias("bytes"),
        )
    return "event_id", 500, spark.read.parquet(f"{data}/events.parquet")


@pytest.mark.parametrize("name", sorted(CASES))
def test_close_returns_pins_to_baseline(spark, sf_dir, name):
    table, factory = CASES[name]
    id_col, cut, df = _table(spark, sf_dir, table)
    # id order is event-time order, the arrival the CEP matcher assumes
    ids = F.col(id_col)
    halves = [df.filter(ids < cut), df.filter(ids >= cut)]
    before = pinned_ids(spark)
    twin = factory(spark)
    for delta in halves:
        if name.startswith("IncrementalRunner"):
            twin.add_batch(delta)
        else:
            twin.process_batch(delta)
    assert pinned_ids(spark) - before  # the twin holds pinned state
    twin.close()
    assert pinned_ids(spark) == before
    twin.close()
    assert pinned_ids(spark) == before


def _streaming_modules():
    root = Path(__file__).resolve().parents[1] / "bistro_spark" / "streaming"
    for path in sorted(root.glob("*.py")):
        yield path.name, ast.parse(path.read_text())


def _method(call: ast.AST) -> str | None:
    if isinstance(call, ast.Call) and isinstance(call.func, ast.Attribute):
        return call.func.attr
    return None


def test_streaming_twins_leave_pins_to_the_owner():
    """No streaming module pins or releases by hand or keeps its own id
    sets: every pin goes through ``caching.PinOwner``."""
    bad = []
    for name, tree in _streaming_modules():
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module == (
                "bistro_spark.caching"
            ):
                bad += [
                    (name, node.lineno, a.name)
                    for a in node.names
                    if a.name in ("pin", "release", "release_new_pins")
                ]
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
                targets = [node.target]
            else:
                targets = []
            bad += [
                (name, node.lineno, t.attr)
                for t in targets
                if isinstance(t, ast.Attribute)
                and t.attr in ("_pin_ids", "_trigger_ids")
            ]
    assert bad == []


def test_additive_grid_merge_has_one_home():
    """A union directly regrouped (the additive grid merge) appears only
    in ``incremental.merge_grid``."""
    sites = []
    for name, tree in _streaming_modules():
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if _method(node) == "groupBy" and _method(
                    node.func.value
                ) in ("union", "unionByName"):
                    sites.append((name, fn.name))
    assert set(sites) == {("incremental.py", "merge_grid")}
