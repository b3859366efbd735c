"""The contract registry (__spark_entry__._contracts): each query is
registered once with its oracle, queries()/oracle_sql() derive from it in
the driver's order, and every output column is a type the driver hashes
(the boundary check on Spark, the oracle types on DuckDB)."""

from __future__ import annotations

import hashlib
import inspect
import re

import duckdb
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as ent
from bistro_spark.sources.io import TESTDATA_TABLES

ROWS_ONLY = {"bpe_encode", "partition_lineage"}
# the queries whose arrays / wide decimal are projected to text
TEXT_PROJECTED = [
    "centroid_shift", "chunk_read_plan", "chunk_manifest",
    "step_read_plan", "pack_segments",
]


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb.connect()
    for t in TESTDATA_TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return c


def test_query_names_and_order_pinned():
    """The driver picks its correctness window by position, so the 179
    names and their order are part of the contract."""
    names = list(ent.queries())
    assert len(names) == 179
    digest = hashlib.sha256(",".join(names).encode()).hexdigest()[:16]
    assert digest == "b796a59cda871139"


def test_oracles_are_registered_queries():
    qs, oracles = ent.queries(), ent.oracle_sql()
    assert set(oracles) <= set(qs) and len(oracles) == 177
    assert set(qs) - set(oracles) == ROWS_ONLY
    # oracle_sql() follows the registry order too
    assert list(oracles) == [n for n in qs if n in oracles]


def test_every_builder_registered_once():
    """One registration per query: each module-level q_* builder appears
    exactly once in the registry, and nothing else does."""
    builders = [fn for fn, _ in ent._contracts()]
    defined = {
        name for name, obj in vars(ent).items()
        if name.startswith("q_") and inspect.isfunction(obj)
    }
    assert len(builders) == len({fn.__name__ for fn in builders})
    assert {fn.__name__ for fn in builders} == defined


def test_oracle_types_driver_hashable(con):
    """Binding each oracle yields its types without running it."""
    bad = {}
    for name, sql in ent.oracle_sql().items():
        types = [str(t) for t in con.sql(sql).types]
        hit = [
            t for t in types
            if re.search(r"\[\]|STRUCT|MAP|DECIMAL|HUGEINT|BLOB", t)
        ]
        if hit:
            bad[name] = hit
    assert bad == {}


def test_boundary_rejects_array_column(spark):
    def q_fake(spark, sf):
        return spark.range(2).select("id", F.array("id").alias("ids"))

    with pytest.raises(TypeError, match=r"'fake'.*ids \(array<bigint>\)"):
        ent._driver_hashable(q_fake)(spark, "unused")

    def q_flat(spark, sf):
        return spark.range(2).select("id", F.to_json(F.array("id")))

    assert len(ent._driver_hashable(q_flat)(spark, "unused").columns) == 2


@pytest.mark.parametrize("name", TEXT_PROJECTED)
def test_text_projected_queries_hash_equal(spark, sf_dir, con, name):
    """Arrays as JSON text and the DECIMAL(38,0) numerator as a digit
    string print alike on both engines, under the driver's strict canon."""
    from tools.verify_contract import table_sig

    sdf = ent.queries()[name](spark, sf_dir)
    srows = [list(r) for r in sdf.collect()]
    rel = con.sql(ent.oracle_sql()[name])
    orows = rel.fetchall()
    assert srows and len(srows) == len(orows)
    assert table_sig(sdf.columns, srows) == table_sig(rel.columns, orows)
