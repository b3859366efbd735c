"""Shared pytest fixtures — ONE SparkSession for the whole run (JVM start is
~20 s; per-test sessions would dominate runtime)."""

from __future__ import annotations

import os

import pytest

from bistro_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    s = get_spark(master=f"local[{cpus}]", app_name="bistro_spark_tests",
                  shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


def rows_as_dicts(df):
    return [r.asDict(recursive=True) for r in df.collect()]
