"""The five cursor twins run their batch operator from a carried cursor.

Each id-monotone twin (the packer, the three append-only layout twins
and the compaction monitor) runs its batch operator's own code over the
delta, starting where the previous trigger left the shard. So under
id-monotone arrival, cut anywhere and killed/resumed anywhere, the union
of its trigger outputs equals the batch operator over the union. The
AST guard keeps the twins on that code: no window, explode, pandas
kernel or fold of their own, and the layout twins' recovery state is
their cursor grid's."""

from __future__ import annotations

import ast
import json
import random
from pathlib import Path

import pytest

from bistro_spark.operators.curation import binidx_manifest, pack_sequences
from bistro_spark.operators.maintenance import compaction_plan
from bistro_spark.operators.trainprep import chunk_read_plan, concat_chunks
from bistro_spark.session import local_frame
from bistro_spark.streaming.maintenance import StreamingCompactionMonitor
from bistro_spark.streaming.pack import (
    StreamingBinidxWriter,
    StreamingChunkReadPlanner,
    StreamingConcatChunker,
    StreamingPacker,
)

PKG = Path(__file__).resolve().parents[1] / "bistro_spark"
N = 160


def _docs(rng):
    return [(i, rng.randint(1, 90)) for i in range(N)]


def _files(rng):
    return [(f"p{i % 3}", i, rng.randint(1, 120)) for i in range(N)]


def _reads(rows):
    """Read entries grouped to chunk_read_plan's offset-ordered arrays."""
    plans: dict = {}
    for shard, chunk_id, _doc, off, nb in rows:
        plans.setdefault((shard, chunk_id), []).append((off, nb))
    return sorted((k, tuple(sorted(v))) for k, v in plans.items())


def _plan_rows(rows):
    return sorted(
        ((r[0], r[1]), tuple(zip(r[4], r[5]))) for r in rows
    )


DOC = "doc_id long, n_tok long"
# twin factory, input rows, input schema, id column, batch operator,
# canonical form of the twin's rows, canonical form of the batch rows
CASES = {
    "StreamingPacker": (
        lambda s: StreamingPacker(s, capacity=100, n_shards=4),
        _docs, DOC, "doc_id",
        lambda df: pack_sequences(df, len_col="n_tok", capacity=100),
        sorted, sorted,
    ),
    "StreamingBinidxWriter": (
        lambda s: StreamingBinidxWriter(s, n_shards=4),
        _docs, DOC, "doc_id",
        lambda df: binidx_manifest(df, len_col="n_tok"),
        sorted, sorted,
    ),
    "StreamingConcatChunker": (
        lambda s: StreamingConcatChunker(s, capacity=64, n_shards=4),
        _docs, DOC, "doc_id",
        lambda df: concat_chunks(df, len_col="n_tok", capacity=64),
        sorted, sorted,
    ),
    "StreamingChunkReadPlanner": (
        lambda s: StreamingChunkReadPlanner(s, capacity=64, n_shards=4),
        _docs, DOC, "doc_id",
        lambda df: chunk_read_plan(df, len_col="n_tok", capacity=64),
        _reads, _plan_rows,
    ),
    "StreamingCompactionMonitor": (
        lambda s: StreamingCompactionMonitor(s, target_bytes=300),
        _files, "part string, file_id long, bytes long", "file_id",
        lambda df: compaction_plan(df, partition_col="part", target_bytes=300),
        sorted, sorted,
    ),
}


@pytest.mark.parametrize("seed", [3, 11])
@pytest.mark.parametrize("name", sorted(CASES))
def test_trigger_union_equals_batch_over_union(spark, name, seed):
    """Seeded random id-monotone cuts, a JSON kill/resume at a random
    cut: the union of the trigger outputs is the batch operator's output
    over the union of the deltas."""
    make, data, schema, id_col, batch, canon_twin, canon_batch = CASES[name]
    rng = random.Random(seed)
    rows = data(rng)  # id order
    cuts = [0, *sorted(rng.sample(range(1, N), 4)), N]
    kill = rng.randrange(1, len(cuts) - 1)
    twin, got = make(spark), []
    for k, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
        if k == kill:
            snap = json.loads(json.dumps(twin.state_snapshot()))
            twin.close()
            twin = make(spark)
            twin.restore_state(snap)
        delta = local_frame(spark, rows[lo:hi], schema)
        got += [tuple(r) for r in twin.process_batch(delta).collect()]
    twin.close()
    want = [tuple(r) for r in batch(local_frame(spark, rows, schema)).collect()]
    assert canon_twin(got) == canon_batch(want)


# ------------------------------------------------------------- guard ----

KERNELS = {
    "streaming/pack.py": {
        "StreamingPacker": "pack_shards",
        "StreamingBinidxWriter": "binidx_layout",
        "StreamingConcatChunker": "concat_layout",
        "StreamingChunkReadPlanner": "chunk_reads",
    },
    "streaming/maintenance.py": {
        "StreamingCompactionMonitor": "compaction_groups",
    },
}
PREFIX_TWINS = {
    "StreamingBinidxWriter",
    "StreamingConcatChunker",
    "StreamingChunkReadPlanner",
}
OWN_CODE = {
    "Window", "sequence", "explode", "applyInPandas", "next_fit",
    "group_lengths",
}


def test_cursor_twins_run_their_batch_kernel():
    """Each twin names its batch kernel and re-writes none of it; the
    layout twins keep no snapshot format of their own."""
    found, offenders = set(), []
    for module, kernels in KERNELS.items():
        tree = ast.parse((PKG / module).read_text())
        for cls in ast.walk(tree):
            if not (isinstance(cls, ast.ClassDef) and cls.name in kernels):
                continue
            found.add(cls.name)
            names = {
                n.id if isinstance(n, ast.Name) else n.attr
                for n in ast.walk(cls)
                if isinstance(n, (ast.Name, ast.Attribute))
            }
            if kernels[cls.name] not in names:
                offenders.append(f"{cls.name}: no {kernels[cls.name]}")
            offenders += [f"{cls.name}: {n}" for n in sorted(names & OWN_CODE)]
            if cls.name in PREFIX_TWINS:
                offenders += [
                    f"{cls.name}.{n.name}"
                    for n in cls.body
                    if isinstance(n, ast.FunctionDef)
                    and n.name in ("state_snapshot", "restore_state")
                ]
    assert found == {n for k in KERNELS.values() for n in k}
    assert offenders == []


# the batch operators reach the shared kernels: the greedy folds through
# fold_groups, the prefix-sum layouts through shard_prefix
BATCH_KERNELS = {
    "operators/curation.py": {
        "pack_sequences": "pack_shards",
        "pack_shards": "fold_groups",
        "binidx_manifest": "binidx_layout",
        "binidx_layout": "shard_prefix",
    },
    "operators/trainprep.py": {
        "concat_chunks": "concat_layout",
        "concat_layout": "shard_prefix",
        "chunk_read_plan": "chunk_reads",
        "chunk_reads": "shard_prefix",
    },
    "operators/maintenance.py": {
        "compaction_plan": "compaction_groups",
        "compaction_groups": "fold_groups",
    },
}


def test_batch_operators_call_the_shared_kernels():
    offenders = []
    for module, kernels in BATCH_KERNELS.items():
        tree = ast.parse((PKG / module).read_text())
        defs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
        for name, kernel in kernels.items():
            calls = {
                getattr(n.func, "attr", getattr(n.func, "id", None))
                for n in ast.walk(defs[name])
                if isinstance(n, ast.Call)
            }
            if kernel not in calls:
                offenders.append(f"{name}: no {kernel}(")
    assert offenders == []
