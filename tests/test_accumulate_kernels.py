"""The two accumulate kernels behind the additive streaming monitors.

``DriverSumGrid`` (driver-held BIGINT grid) must equal the partials of the
union of its deltas whatever the delta split, arrival order and
kill/resume cut; its cap counts distinct keys and refuses before the
state changes. ``IncrementalRunner.close()`` frees what the add-only
merge pinned. An AST guard keeps the monitors on the kernels."""

from __future__ import annotations

import ast
import json
from pathlib import Path

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bistro_spark.caching import pinned_ids
from bistro_spark.session import local_frame
from bistro_spark.streaming.incremental import (
    AggSpec,
    DriverSumGrid,
    IncrementalRunner,
)

PKG = Path(__file__).resolve().parent.parent / "bistro_spark"

ROWS = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c", "d", None]),
        st.integers(min_value=0, max_value=3),
        st.integers(min_value=-(2**40), max_value=2**40),
    ),
    max_size=30,
)


def _partials(rows) -> dict:
    """(k1, k2) -> [count, sum] over a row multiset, in Python."""
    out: dict = {}
    for k1, k2, v in rows:
        c = out.setdefault((k1, k2), [0, 0])
        c[0] += 1
        c[1] += v
    return out


def _split(data, rows):
    """Cut ``rows`` into 1-4 deltas and shuffle their arrival order."""
    k = data.draw(st.integers(min_value=1, max_value=4))
    cuts = sorted(
        data.draw(st.integers(min_value=0, max_value=len(rows)))
        for _ in range(k - 1)
    )
    bounds = [0, *cuts, len(rows)]
    deltas = [rows[lo:hi] for lo, hi in zip(bounds, bounds[1:])]
    return data.draw(st.permutations(deltas))


def _grid() -> DriverSumGrid:
    return DriverSumGrid(None, ["k1", "k2"], ["n", "s"], None, "cells")


@settings(max_examples=200, deadline=None)
@given(rows=ROWS, data=st.data())
def test_driver_grid_equals_partials_of_union(rows, data):
    """Any split, any order, a JSON kill/resume at any cut: the grid is
    the partial aggregate of the whole multiset."""
    deltas = _split(data, rows)
    cut = data.draw(st.integers(min_value=0, max_value=len(deltas)))
    grid = _grid()
    for i, delta in enumerate(deltas):
        if i == cut:
            snap = json.loads(json.dumps(grid.state_snapshot()))
            grid = _grid()
            grid.restore_state(snap)
        grid.absorb(
            [
                {"k1": k1, "k2": k2, "n": n, "s": s}
                for (k1, k2), (n, s) in _partials(delta).items()
            ]
        )
    assert {r[:2]: list(r[2:]) for r in grid.rows()} == _partials(rows)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=ROWS, data=st.data())
def test_driver_grid_add_matches_engine_partials(spark, rows, data):
    """The same property through ``add``: each delta's partial is an
    engine aggregate, collected under the cap."""
    schema = "k1 string, k2 long, v long"
    grid = DriverSumGrid(spark, ["k1", "k2"], ["n", "s"], 20, "cells")
    for delta in _split(data, rows):
        grid.add(
            local_frame(spark, delta, schema)
            .groupBy("k1", "k2")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        )
    assert {r[:2]: list(r[2:]) for r in grid.rows()} == _partials(rows)


def test_driver_grid_cap_guard_and_snapshot_columns():
    grid = DriverSumGrid(None, ["k"], ["n"], 2, "key count")
    grid.absorb([{"k": "x", "n": 1}, {"k": "y", "n": None}])
    grid.absorb([{"k": "x", "n": 1}, {"k": "y", "n": 5}])  # same keys: fine
    before = grid.state_snapshot()
    assert before == {"columns": ["k", "n"], "rows": [["x", 2], ["y", 5]]}
    with pytest.raises(ValueError, match="key count exceeds 2"):
        grid.absorb([{"k": "x", "n": 1}, {"k": "z", "n": 1}])
    assert grid.state_snapshot() == before
    with pytest.raises(ValueError, match="no rows absorbed yet"):
        DriverSumGrid(None, ["k"], ["n"], 2, "key count").require_rows()
    other = DriverSumGrid(None, ["k"], ["m"], 2, "key count")
    with pytest.raises(ValueError, match="snapshot grid"):
        other.restore_state(before)
    with pytest.raises(ValueError, match="exceeds 1"):
        DriverSumGrid(None, ["k"], ["n"], 1, "key count").restore_state(before)


# ------------------------------------------------ monitor cap guards ----


def _games(spark, pairs):
    return spark.createDataFrame(pairs, "winner string, loser string")


def _cap_cases():
    """(name, make(spark, cap), delta within cap, delta over it, cap)."""
    from bistro_spark.streaming.curriculum import StreamingCurriculumMonitor
    from bistro_spark.streaming.mixture import StreamingMixtureScheduler
    from bistro_spark.streaming.quantiles import StreamingQuantileMonitor
    from bistro_spark.streaming.skew import StreamingSkewMonitor

    def src(spark, names):
        return spark.createDataFrame(
            [(i, s) for i, s in enumerate(names)], "doc_id long, source string"
        )

    def vals(spark, col, vs):
        return spark.createDataFrame(
            [(i, v) for i, v in enumerate(vs)], f"doc_id long, {col} long"
        )

    four = ["w", "x", "y", "z", "w"]
    return [
        (
            "skew",
            lambda s, cap: StreamingSkewMonitor(s, "source", max_keys=cap),
            lambda s: src(s, four),
            lambda s: src(s, ["v"]),
            4,
        ),
        (
            "mixture",
            lambda s, cap: StreamingMixtureScheduler(s, max_sources=cap),
            lambda s: src(s, four),
            lambda s: src(s, ["v"]),
            4,
        ),
        (
            "quantiles",
            lambda s, cap: StreamingQuantileMonitor(s, max_domain=cap),
            lambda s: vals(s, "n_chars", range(40)),
            lambda s: vals(s, "n_chars", [40]),
            40,
        ),
        (
            "curriculum",
            lambda s, cap: StreamingCurriculumMonitor(s, max_domain=cap),
            lambda s: vals(s, "n_words", [1, 2, 3, 3]),
            lambda s: vals(s, "n_words", [4]),
            3,
        ),
    ]


@pytest.mark.parametrize("case", _cap_cases(), ids=lambda c: c[0])
def test_monitor_cap_counts_distinct_keys_and_refuses_cleanly(spark, case):
    """cap == #keys: replaying the same keys never raises; one key more
    raises ValueError and leaves the snapshot as it was."""
    _name, make, within, over, cap = case
    mon = make(spark, cap)
    mon.process_batch(within(spark))
    mon.process_batch(within(spark))  # same keys again: still within cap
    before = mon.state_snapshot()
    with pytest.raises(ValueError, match="exceed"):
        mon.process_batch(over(spark))
    assert mon.state_snapshot() == before


def test_read_outs_raise_value_error_before_any_row(spark):
    from bistro_spark.streaming.curriculum import StreamingCurriculumMonitor
    from bistro_spark.streaming.mixture import StreamingMixtureScheduler
    from bistro_spark.streaming.quantiles import StreamingQuantileMonitor
    from bistro_spark.streaming.skew import StreamingSkewMonitor

    for read_out in (
        StreamingSkewMonitor(spark, "source").report,
        StreamingMixtureScheduler(spark).schedule,
        StreamingCurriculumMonitor(spark).report,
        StreamingQuantileMonitor(spark).report,
    ):
        with pytest.raises(ValueError, match="no rows absorbed yet"):
            read_out()


def test_bt_ratings_guard_fires_before_the_full_collect(spark, monkeypatch):
    """bt_ratings refuses more than max_items² grid cells having
    collected at most max_items² + 1 of them."""
    from bistro_spark.operators.preference import bt_ratings

    items = [f"m{i}" for i in range(8)]
    pairs = _games(spark, [(a, b) for a in items for b in items if a != b])
    sizes = []
    cls = type(pairs)
    collect = cls.collect

    def counting_collect(self):
        rows = collect(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(cls, "collect", counting_collect)
    with pytest.raises(ValueError, match="max_items=2"):
        bt_ratings(pairs, max_items=2)
    assert sizes and max(sizes) <= 2**2 + 1


def test_incremental_runner_close_returns_pins_to_baseline(spark):
    before = pinned_ids(spark)
    runner = IncrementalRunner(
        spark, lambda df: df, ["k"], [AggSpec("n", "count(1)", "sum")]
    )
    for lo in (0, 10, 20):
        runner.add_batch(spark.range(lo, lo + 10).selectExpr("id % 3 AS k"))
    assert pinned_ids(spark) - before
    assert sorted(tuple(r) for r in runner.result().collect()) == [
        (0, 10),
        (1, 10),
        (2, 10),
    ]
    runner.close()
    assert pinned_ids(spark) == before
    runner.close()  # idempotent


def test_bm25_model_resumes_from_its_grid_snapshot(spark):
    """StreamingBM25's (N, Σdl, df_t) model is one zero-key grid cell:
    it starts at zero counts and resumes from a JSON snapshot."""
    from bistro_spark.streaming.bm25 import StreamingBM25

    docs = local_frame(
        spark,
        [(i, f"spark join w{i % 5}") for i in range(12)],
        "doc_id long, text string",
    )
    queries = {0: ["spark", "w1"]}
    a = StreamingBM25(spark, queries)
    assert a.rows() == [(0, 0, 0, 0)]
    a.process_batch(docs.filter("doc_id < 5"))
    b = StreamingBM25(spark, queries)
    b.restore_state(json.loads(json.dumps(a.state_snapshot())))
    for mon in (a, b):
        mon.process_batch(docs.filter("doc_id >= 5"))
    assert b.state_snapshot() == a.state_snapshot()
    assert (b.n_docs, b.sum_dl, b.df_t) == (12, 36, {"spark": 12, "w1": 3})
    assert sorted(b.rescore(docs).collect()) == sorted(
        a.rescore(docs).collect()
    )


# ------------------------------------------------------------ guard ----

MIGRATED = {
    "funnel.py": ["StreamingFunnelMonitor"],
    "drift.py": ["StreamingDriftMonitor", "StreamingKSMonitor"],
    "cube.py": ["StreamingCubeMonitor", "StreamingHeatmap"],
    "select.py": ["StreamingCalibrationMonitor"],
    "truncation.py": ["StreamingTruncationMonitor"],
    "mixture.py": ["StreamingMixtureScheduler"],
    "skew.py": ["StreamingSkewMonitor"],
    "curriculum.py": ["StreamingCurriculumMonitor"],
    "quantiles.py": ["StreamingQuantileMonitor"],
    "pack.py": ["StreamingSftCardMonitor", "StreamingSftPackMonitor"],
    "dsir.py": ["StreamingDSIR"],
}
# its snapshot wraps the kernel's with the packer cursor, which stays bespoke
OWN_SNAPSHOT = {"StreamingSftPackMonitor"}


def test_additive_monitors_stay_on_the_kernels():
    """None of the 14 additive monitors merges, pins or snapshots by
    hand: the kernels in ``streaming/incremental.py`` do it."""
    found, offenders = set(), []
    for module, names in MIGRATED.items():
        tree = ast.parse((PKG / "streaming" / module).read_text())
        for cls in ast.walk(tree):
            if not (isinstance(cls, ast.ClassDef) and cls.name in names):
                continue
            found.add(cls.name)
            bases = {b.id for b in cls.bases if isinstance(b, ast.Name)}
            if not bases & {"IncrementalRunner", "DriverSumGrid"}:
                offenders.append(f"{cls.name}: not on a kernel")
            for node in ast.walk(cls):
                if (
                    isinstance(node, ast.FunctionDef)
                    and node.name in ("state_snapshot", "restore_state")
                    and cls.name not in OWN_SNAPSHOT
                ):
                    offenders.append(f"{cls.name}.{node.name}")
                if isinstance(node, ast.Call):
                    f = node.func
                    name = f.attr if isinstance(f, ast.Attribute) else getattr(
                        f, "id", None
                    )
                    if name in ("pin", "unionByName"):
                        offenders.append(f"{cls.name} calls {name}(")
    assert found == {n for names in MIGRATED.values() for n in names}
    assert offenders == []
    assert sum(len(v) for v in MIGRATED.values()) == 14
