"""The load generator writes the F1 table of ``token_table_fast`` exactly,
and its closed-form rollup is the rollup of those rows."""

from __future__ import annotations

import numpy as np
import pytest

import loadgen


def test_rollup_matches_rows():
    t = loadgen.table(1234, 500).to_pydict()
    want = {}
    for src, n in zip(t["source"], t["n_tok"]):
        c, s, w = want.get(src, (0, 0, 0.0))
        want[src] = (c + 1, s + n, w + n * loadgen.WEIGHTS[src])
    assert loadgen.expected_rollup(1234, 500) == want
    assert loadgen.token_count(1234, 500) == sum(t["n_tok"])
    assert all(len(tok) == n for tok, n in zip(t["tokens"], t["n_tok"]))


def test_first_row_stays_in_int64():
    worst = loadgen.first_row(1023, 1_000_000) + 1_000_000
    assert worst * loadgen.MIX < np.iinfo(np.int64).max


def test_write_files_contiguous_and_cached(tmp_path):
    import pyarrow.parquet as pq

    paths = loadgen.write_files(str(tmp_path / "d"), 10, 100, 3)
    ofs = [pq.read_table(p).column("batch_ofs").to_pylist() for p in paths]
    assert sum(ofs, []) == list(range(10, 110))
    mtimes = [(tmp_path / "d" / p.rsplit("/", 1)[1]).stat().st_mtime for p in paths]
    assert mtimes == sorted(mtimes)
    assert loadgen.write_files(str(tmp_path / "d"), 10, 100, 3) == paths


@pytest.fixture(scope="module")
def spark():
    from bistro_spark.session import get_spark

    s = get_spark(master="local[2]", app_name="perfbench_tests",
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_rows_equal_token_table_fast(spark, tmp_path):
    from bistro_spark.sources.tokens import token_table_fast

    n = 300
    path = loadgen.write_files(str(tmp_path / "t"), 0, n, 2)
    got = spark.read.parquet(*path).orderBy("batch_ofs").collect()
    want = token_table_fast(spark, n).orderBy("batch_ofs").collect()
    assert [r.asDict() for r in got] == [r.asDict() for r in want]
