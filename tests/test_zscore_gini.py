"""Expanding z-score and per-group length Gini — closed-form pins, the
prior-exclusive contract and the global-rank-offset equivalence for
Gini."""

from __future__ import annotations

from pyspark.sql import functions as F

from bistro_spark.operators.olap import length_gini
from bistro_spark.operators.temporal import expanding_zscore


def _events(spark):
    return spark.read.parquet("/root/testdata/sf0.001/events.parquet")


# --------------------------------------------------- expanding z-score ----
def test_zscore_prior_exclusive_closed_form(spark):
    """Key with values 1,2,3,4: the 4th event's baseline is {1,2,3} →
    mean 2, population std sqrt(2/3); first two rows NULL (min_prev)."""
    import datetime as dt
    import math

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(seconds=i), 1, float(i)) for i in (1, 2, 3, 4)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    out = {r.event_id: r for r in expanding_zscore(df).collect()}
    assert out[1].z is None and out[2].z is None
    assert out[1].n_prev == 0 and out[4].n_prev == 3
    want = (4.0 - 2.0) / math.sqrt(((1 + 4 + 9) - 36 / 3) / 3)
    assert abs(out[4].z - round(want, 6)) < 1e-9
    # constant prior history → zero variance → NULL, not inf
    const = spark.createDataFrame(
        [(i, t0 + dt.timedelta(seconds=i), 1, 5.0) for i in range(5)],
        "event_id long, ts timestamp, user_id long, value double",
    )
    assert all(r.z is None for r in expanding_zscore(const).collect())


def test_zscore_partitioning_invariant(spark):
    ev = _events(spark)
    a = sorted(tuple(r) for r in expanding_zscore(ev).collect())
    b = sorted(tuple(r) for r in expanding_zscore(ev.repartition(13)).collect())
    assert a == b


# ---------------------------------------------------------- length Gini ----
def test_gini_closed_forms(spark):
    """Equal lengths → 0 (up to the (n+1)/n finite-sample term exactly:
    G = (2·Σr·x − (n+1)·Σx)/(n·Σx) = 0 when all x equal); a single
    dominant document pushes G toward (n-1)/n."""
    rows = [("eq", i, 10) for i in range(4)] + [
        ("dom", 10 + i, 1 if i < 9 else 10_000) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_chars long")
    got = {r.source: r for r in length_gini(df).collect()}
    assert got["eq"].gini == 0.0
    assert got["eq"].n == 4 and got["eq"].total_len == 40
    assert got["dom"].gini > 0.85


def test_gini_offset_rank_equals_per_group_window(spark):
    """The global-rank-minus-offset trick must equal a plain per-group
    row_number Gini (the oracle formula) on real data."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {r.source: r.gini for r in length_gini(docs).collect()}
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ref = (
        docs.select(
            "source",
            F.col("n_chars").cast("long").alias("x"),
            F.row_number().over(w).alias("r"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.col("r") * F.col("x")).alias("srx"),
        )
        .select(
            "source",
            F.round(
                (2 * F.col("srx") - (F.col("n") + 1) * F.col("sx"))
                / (F.col("n") * F.col("sx")),
                6,
            ).alias("gini"),
        )
    )
    want = {r.source: r.gini for r in ref.collect()}
    assert got == want
