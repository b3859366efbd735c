"""Load generator: F1 token tables (FIXTURES.md) written as parquet files.

The rows follow the recipe of ``bistro_spark.sources.tokens`` exactly
(``perfbench/tests/test_loadgen.py`` checks them against
``token_table_fast``), but are made here with numpy and pyarrow, in the
benchmark's own process, so the system under test receives only finished
files. The seed picks which span of row indices a run gets; the same seed
and size always give the same files.

Each file is one delta: the stream job reads one file per entry of its
backlog and the incremental workload adds one file per step. Files are
written in row order and their modification times increase with it, which
is the order Spark's file stream source lists them in.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
MAX_LEN = 512
MIX = 2654435761
TOK_A = 1_000_003
TOK_B = 7919
SOURCES = ("web", "code", "books", "wiki")
# link-target weights of ``sources_dim``; used only by the closed-form oracle
WEIGHTS = {"web": 1.0, "code": 0.5, "books": 2.0, "wiki": 1.5}
EPOCH_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z in microseconds
EVENT_STEP_US = 250_000  # event_time advances 250 ms per row

SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
        ("event_time", pa.timestamp("us", tz="UTC")),
        ("batch_ofs", pa.int64()),
    ]
)


def first_row(seed: int, n: int) -> int:
    """First row index of a seed's span. Bounded so that ``i * MIX`` stays
    inside int64, as the Spark-side recipe requires."""
    return (seed % 1024) * n


def lengths(ids: np.ndarray) -> np.ndarray:
    return (ids * MIX) % MAX_LEN + 1


def sources(ids: np.ndarray) -> np.ndarray:
    bucket = (ids * MIX) % 15
    return np.select(
        [bucket < 8, bucket < 12, bucket < 14],
        list(SOURCES[:3]),
        default=SOURCES[3],
    )


def table(first: int, n: int) -> pa.Table:
    """Rows ``first .. first + n - 1`` of the F1 table."""
    ids = np.arange(first, first + n, dtype=np.int64)
    length = lengths(ids)
    offs = np.concatenate(([0], np.cumsum(length)))
    row_i = np.repeat(ids, length)
    j = np.arange(offs[-1], dtype=np.int64) - np.repeat(offs[:-1], length)
    vals = ((row_i * TOK_A + j * TOK_B) % VOCAB).astype(np.int32)
    tokens = pa.ListArray.from_arrays(pa.array(offs.astype(np.int32)), pa.array(vals))
    return pa.table(
        [
            pa.array([f"d{i:08d}" for i in ids.tolist()], pa.string()),
            tokens,
            pa.array(length.astype(np.int32)),
            pa.array(sources(ids).tolist(), pa.string()),
            pa.array(EPOCH_US + ids * EVENT_STEP_US, pa.timestamp("us", tz="UTC")),
            pa.array(ids),
        ],
        schema=SCHEMA,
    )


def write_files(dest: str, first: int, n: int, n_files: int) -> list[str]:
    """Write rows ``first .. first + n - 1`` as ``n_files`` parquet files of
    contiguous rows under ``dest``; reuse them if a complete set exists."""
    done = os.path.join(dest, "_DONE")
    paths = [os.path.join(dest, f"part-{k:05d}.parquet") for k in range(n_files)]
    if os.path.exists(done):
        return paths
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    bounds = np.linspace(0, n, n_files + 1).astype(np.int64)
    for k, path in enumerate(paths):
        lo, hi = int(bounds[k]), int(bounds[k + 1])
        pq.write_table(table(first + lo, hi - lo), path, row_group_size=16384)
        os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))
        # flushed now, so that its write-back does not overlap the measured run
        fd = os.open(path, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
    with open(done, "w"):
        pass
    return paths


def _rollup(ids: np.ndarray, group: np.ndarray) -> dict:
    """(group, source) -> (n_seq, sum_tok, sum_weighted) over rows ``ids``,
    the closed form of the flagship accumulate columns."""
    length = lengths(ids)
    src = sources(ids)
    out = {}
    for g in np.unique(group):
        in_g = group == g
        for s in SOURCES:
            mask = in_g & (src == s)
            if mask.any():
                tok = int(length[mask].sum())
                out[(int(g), s)] = (int(mask.sum()), tok, tok * WEIGHTS[s])
    return out


def expected_rollup(first: int, n: int) -> dict[str, tuple[int, int, float]]:
    """Closed-form flagship rollup of rows ``first .. first + n - 1``:
    source -> (n_seq, sum_tok, sum_weighted). Sources without rows are
    absent."""
    ids = np.arange(first, first + n, dtype=np.int64)
    return {s: v for (_, s), v in _rollup(ids, np.zeros_like(ids)).items()}


def expected_windows(first: int, n: int, window_us: int) -> dict:
    """Closed-form tumbling-window rollup of rows ``first .. first + n - 1``:
    (window start in epoch microseconds, source) -> (n_seq, sum_tok,
    sum_weighted)."""
    ids = np.arange(first, first + n, dtype=np.int64)
    return _rollup(ids, (EPOCH_US + ids * EVENT_STEP_US) // window_us * window_us)


def token_count(first: int, n: int) -> int:
    return int(lengths(np.arange(first, first + n, dtype=np.int64)).sum())
