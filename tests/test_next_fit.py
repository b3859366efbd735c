"""The one next-fit kernel behind the six greedy packing folds.

``curation.next_fit`` holds the rule. The two capacity sweeps call it;
``pack_sequences``, ``compaction_plan``, ``StreamingPacker`` and
``StreamingCompactionMonitor`` call it through the one per-group fold
``curation.fold_groups``. The property tests state, on pure
Python, the batch = stream identity the streaming parity rests on; the
row-guard test covers the shared one-group-per-task bound at all six
callers; an AST guard keeps the sites on the kernel."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bistro_spark.operators import curation
from bistro_spark.operators.curation import next_fit
from bistro_spark.session import local_frame

PKG = Path(__file__).resolve().parent.parent / "bistro_spark"


def _end_of(lens, pack_ids, offsets, cursor=None):
    """The cursor a fold leaves behind (the streaming classes' state)."""
    if not lens:
        return cursor
    return int(pack_ids[-1]), int(offsets[-1]) + lens[-1]


@st.composite
def _folds(draw):
    cap = draw(st.integers(1, 30))
    lens = draw(st.lists(st.integers(0, 2 * cap), max_size=40))
    return cap, lens


@settings(max_examples=300, deadline=None)
@given(case=_folds(), data=st.data())
def test_fold_of_concat_is_fold_from_cursor(case, data):
    """next_fit(a + b) == next_fit(a) then next_fit(b, cursor=end_of(a)),
    at any cut and from any starting cursor."""
    cap, lens = case
    cut = data.draw(st.integers(0, len(lens)))
    start = data.draw(
        st.none() | st.tuples(st.integers(0, 5), st.integers(0, 2 * cap))
    )
    ids, offs = next_fit(lens, cap, start)
    ids_a, offs_a = next_fit(lens[:cut], cap, start)
    cursor = _end_of(lens[:cut], ids_a, offs_a, start)
    ids_b, offs_b = next_fit(lens[cut:], cap, cursor)
    assert ids.tolist() == ids_a.tolist() + ids_b.tolist()
    assert offs.tolist() == offs_a.tolist() + offs_b.tolist()
    assert ids.dtype == offs.dtype == "int64"


@settings(max_examples=300, deadline=None)
@given(case=_folds())
def test_fold_invariants(case):
    cap, lens = case
    ids, offs = (a.tolist() for a in next_fit(lens, cap))
    assert ids[:1] in ([], [0])
    assert all(b - a in (0, 1) for a, b in zip(ids, ids[1:]))
    for i, (pid, off, ln) in enumerate(zip(ids, offs, lens)):
        opens = i == 0 or ids[i - 1] != pid
        if opens:
            assert off == 0
            # greedy: a pack is only closed by an item that does not fit
            assert i == 0 or offs[i - 1] + lens[i - 1] + ln > cap
        else:
            # a continuing item starts where the previous one ended, so
            # its offset is 0 only behind zero-length items
            assert off == offs[i - 1] + lens[i - 1]
            assert (off == 0) == all(
                lens[j] == 0 for j in range(i) if ids[j] == pid
            )
        alone = ids.count(pid) == 1
        assert off + ln <= cap or alone, (i, off, ln, cap)


def test_fold_worked_example():
    # 7 fits after 3 (10 <= 10); 5 does not; 25 is oversize and alone;
    # the cursor's open pack (4, 8) takes a 2 but not a 3
    assert [a.tolist() for a in next_fit([3, 7, 5, 25, 1], 10)] == [
        [0, 0, 1, 2, 3],
        [0, 3, 0, 0, 0],
    ]
    assert [a.tolist() for a in next_fit([2, 3], 10, (4, 8))] == [
        [4, 5],
        [8, 0],
    ]
    assert [a.tolist() for a in next_fit([], 10)] == [[], []]


# ---------------------------------------------------------- row guard ----

BOUND = 5


def _docs(spark, n):
    # even ids only, so id % n_shards funnels every row into shard 0
    return local_frame(
        spark, [(2 * i, 3) for i in range(n)], "doc_id long, n_words long"
    )


def _files(spark, n):
    return local_frame(
        spark, [("p", i, 10) for i in range(n)],
        "part string, file_id long, bytes long",
    )


def _pack(spark, n):
    # auto-sized shards: ceil(6 / 5) = 2, yet all rows land in shard 0
    return curation.pack_sequences(
        _docs(spark, n), n_shards=None, max_rows_per_shard=BOUND
    )


def _capacity_sweep(spark, n):
    return curation.pack_capacity_sweep(
        _docs(spark, n), capacities=(8,), len_col="n_words", n_shards=1
    )


def _attention_sweep(spark, n):
    return curation.attention_cost_sweep(
        _docs(spark, n), capacities=(8,), len_col="n_words", n_shards=1
    )


def _compaction(spark, n):
    from bistro_spark.operators.maintenance import compaction_plan

    return compaction_plan(_files(spark, n), partition_col="part")


def _stream_pack(spark, n):
    from bistro_spark.streaming.pack import StreamingPacker

    packer = StreamingPacker(
        spark, n_shards=1, len_col="n_words", max_rows_per_batch_shard=BOUND
    )
    return packer.process_batch(_docs(spark, n))


def _stream_compaction(spark, n):
    from bistro_spark.streaming.maintenance import StreamingCompactionMonitor

    mon = StreamingCompactionMonitor(
        spark, max_files_per_batch_partition=BOUND
    )
    return mon.process_batch(_files(spark, n))


CALLERS = {
    "pack_sequences": (_pack, "max_rows_per_shard"),
    "pack_capacity_sweep": (_capacity_sweep, "MAX_ROWS_PER_SHARD"),
    "attention_cost_sweep": (_attention_sweep, "MAX_ROWS_PER_SHARD"),
    "compaction_plan": (_compaction, "MAX_ROWS_PER_SHARD"),
    "StreamingPacker": (_stream_pack, "max_rows_per_batch_shard"),
    "StreamingCompactionMonitor": (
        _stream_compaction,
        "max_files_per_batch_partition",
    ),
}


@pytest.mark.parametrize("caller", sorted(CALLERS))
def test_row_guard_names_the_bound(spark, monkeypatch, caller):
    """One shard or partition over the bound raises with a message that
    names the bound; a group of exactly the bound runs."""
    run, bound_name = CALLERS[caller]
    monkeypatch.setattr(curation, "MAX_ROWS_PER_SHARD", BOUND)
    assert run(spark, BOUND).count() > 0
    with pytest.raises(Exception, match=f"{bound_name}={BOUND}"):
        run(spark, BOUND + 1).collect()


# -------------------------------------------------------------- guard ----

# pack_sequences, compaction_plan and their streaming twins fold through
# fold_groups (their references to it are guarded in
# test_cursor_twins.py)
SITES = {
    "operators/curation.py": [
        "fold_groups",
        "pack_capacity_sweep",
        "attention_cost_sweep",
    ],
}


def _lookup(tree, dotted):
    node = tree
    for name in dotted.split("."):
        node = next(
            n
            for n in node.body
            if isinstance(n, (ast.FunctionDef, ast.ClassDef)) and n.name == name
        )
    return node


def test_greedy_folds_run_through_next_fit():
    """Each site calls next_fit, and its per-group functions loop over no
    length vector (the sweeps keep their loop over capacities)."""
    offenders = []
    for module, names in SITES.items():
        tree = ast.parse((PKG / module).read_text())
        for dotted in names:
            site = _lookup(tree, dotted)
            calls = {
                getattr(n.func, "attr", getattr(n.func, "id", None))
                for n in ast.walk(site)
                if isinstance(n, ast.Call)
            }
            if "next_fit" not in calls:
                offenders.append(f"{dotted}: no next_fit call")
            nested = [
                n
                for n in ast.walk(site)
                if isinstance(n, ast.FunctionDef) and n is not site
            ]
            if not nested:
                offenders.append(f"{dotted}: no per-group function")
            for fn in nested:
                for n in ast.walk(fn):
                    over_caps = (
                        isinstance(n, ast.For)
                        and isinstance(n.iter, ast.Name)
                        and n.iter.id == "caps"
                    )
                    loop = (ast.For, ast.While, ast.comprehension)
                    if isinstance(n, loop) and not over_caps:
                        offenders.append(f"{dotted}.{fn.name}: {type(n).__name__}")
    assert offenders == []
