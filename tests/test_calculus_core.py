"""1:1 ports of the reference's core unit tests
(core/src/test/java/org/conceptoriented/bistro/core/Tests.java) to the
PySpark calculus: calc, link (incl. miss→null), project, accu (incl. empty
group → default), roll (rows + range frames), prod+where, range binning.

Fixtures follow FIXTURES.md F2 — tiny literal tables, hand-computed expected
values, exactly as the reference asserts via getValue(id).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bistro_spark import Schema


def _by(rows, key):
    return {r[key]: r for r in (x.asDict() for x in rows)}


# ---------------------------------------------------------------- calc ----


def test_calc_column(spark):
    """Tests.java calc case: T(a,b); c = a + b (per-row)."""
    s = Schema(spark)
    t = s.table(
        "T",
        spark.createDataFrame(
            [(1, 1.0, 10.0), (2, 2.0, 20.0), (3, 3.0, 30.0), (4, 4.0, 40.0)],
            "id long, a double, b double",
        ),
    )
    t.calc("c", "a + b")
    got = _by(t.df().collect(), "id")
    assert [got[i]["c"] for i in (1, 2, 3, 4)] == [11.0, 22.0, 33.0, 44.0]


def test_calc_pandas_udf(spark):
    """calc with an arbitrary vectorized lambda (the reference's Evaluator
    lambda, Arrow path instead of per-row Java)."""
    s = Schema(spark)
    t = s.table(
        "T",
        spark.createDataFrame([(1, 2.0), (2, 5.0)], "id long, a double"),
    )
    t.calc_pandas("sq", lambda a: a * a, ["a"], "double")
    got = _by(t.df().collect(), "id")
    assert got[1]["sq"] == 4.0 and got[2]["sq"] == 25.0


# ---------------------------------------------------------------- link ----


@pytest.fixture()
def groups_facts(spark):
    s = Schema(spark)
    groups = s.table(
        "GROUPS",
        spark.createDataFrame(
            [("g1", 10.0), ("g2", 20.0), ("g3", 30.0)], "name string, v double"
        ),
        key=["name"],
    )
    facts = s.table(
        "FACTS",
        spark.createDataFrame(
            [
                (1, "g1", 1.0),
                (2, "g1", 2.0),
                (3, "g2", 3.0),
                (4, "g2", 4.0),
                (5, "g2", 5.0),
                (6, "gX", 6.0),  # unmatched group: link miss -> null
            ],
            "fid long, grp string, measure double",
        ),
    )
    return s, groups, facts


def test_link_column(spark, groups_facts):
    """Tests.java link case: facts.group -> GROUPS by name; miss -> null."""
    s, groups, facts = groups_facts
    facts.link("group", groups, on={"grp": "name"})
    got = _by(facts.df().collect(), "fid")
    assert got[1]["group"] == "g1"
    assert got[5]["group"] == "g2"
    assert got[6]["group"] is None  # unresolved link (reference: null id)


def test_link_path_hop(spark, groups_facts):
    """ColumnPath hop facts.group.v (ColumnPath.java#getValue)."""
    s, groups, facts = groups_facts
    facts.link("group", groups, on={"grp": "name"}).bring("group", "v")
    facts.calc("scaled", "measure * group__v")
    got = _by(facts.df().collect(), "fid")
    assert got[1]["scaled"] == 10.0  # 1.0 * g1.v(10)
    assert got[3]["scaled"] == 60.0  # 3.0 * g2.v(20)
    assert got[6]["scaled"] is None


# ------------------------------------------------------------- project ----


def test_project_column(spark):
    """Tests.java project case: target populated with distinct keys, link
    never misses (ColumnDefinitionProj.java)."""
    s = Schema(spark)
    facts = s.table(
        "FACTS",
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "a"), (4, "c")], "fid long, k string"
        ),
    )
    facts.project("dim", "DIM", keys={"k": "k"})
    dim_rows = sorted(r["k"] for r in s.table("DIM").df().collect())
    assert dim_rows == ["a", "b", "c"]
    got = _by(facts.df().collect(), "fid")
    assert [got[i]["dim"] for i in (1, 2, 3, 4)] == ["a", "b", "a", "c"]


# ---------------------------------------------------------------- accu ----


def test_accu_column(spark, groups_facts):
    """Tests.java accu case: sum(measure) per group; g3 has no facts ->
    default (0.0); facts with unresolved link do not contribute."""
    s, groups, facts = groups_facts
    facts.link("group", groups, on={"grp": "name"})
    groups.accu("total", facts, "group", "sum(measure)", default=0.0)
    got = _by(groups.df().collect(), "name")
    assert got["g1"]["total"] == 3.0
    assert got["g2"]["total"] == 12.0
    assert got["g3"]["total"] == 0.0  # empty group -> initial/default value


def test_accu_count(spark, groups_facts):
    s, groups, facts = groups_facts
    facts.link("group", groups, on={"grp": "name"})
    groups.accu("n", facts, "group", "count(*)", default=0)
    got = _by(groups.df().collect(), "name")
    assert (got["g1"]["n"], got["g2"]["n"], got["g3"]["n"]) == (2, 3, 0)


# ---------------------------------------------------------------- roll ----


def test_roll_rows_window(spark):
    """Tests.java roll case: moving sum over rowsBetween(-2, 0) in id order
    (count-based window, sizePast=2, sizeFuture=0)."""
    s = Schema(spark)
    t = s.table(
        "T",
        spark.createDataFrame(
            [(1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0), (5, 5.0)], "id long, a double"
        ),
    )
    t.roll("msum", "sum(a)", order_by="id", size_past=2, size_future=0)
    got = _by(t.df().collect(), "id")
    assert [got[i]["msum"] for i in (1, 2, 3, 4, 5)] == [1.0, 3.0, 6.0, 9.0, 12.0]


def test_roll_range_window(spark):
    """roll distance-based variant: rangeBetween over a numeric distance
    column (ColumnDefinitionRoll distance path)."""
    s = Schema(spark)
    t = s.table(
        "T",
        spark.createDataFrame(
            [(0, 1.0), (10, 2.0), (15, 3.0), (40, 4.0)], "ts long, a double"
        ),
    )
    t.roll("rsum", "sum(a)", order_by="ts", size_past=10, size_future=0, mode="range")
    got = _by(t.df().collect(), "ts")
    assert got[0]["rsum"] == 1.0
    assert got[10]["rsum"] == 3.0  # rows at ts 0,10
    assert got[15]["rsum"] == 5.0  # rows at ts 10,15 (0 outside [5,15])
    assert got[40]["rsum"] == 4.0


# -------------------------------------------------------- prod + where ----


def test_prod_where(spark):
    """Tests.java prod case: product table over two dims + where predicate
    (TableDefinitionProd.java#populate)."""
    s = Schema(spark)
    a = s.table("A", spark.createDataFrame([(1,), (2,), (3,)], "x long"))
    b = s.table("B", spark.createDataFrame([(10,), (20,)], "y long"))
    p = s.prod("P", a, b, where="x + y < 23")
    rows = sorted((r["x"], r["y"]) for r in p.df().collect())
    assert rows == [(1, 10), (1, 20), (2, 10), (2, 20), (3, 10)]


# --------------------------------------------------------------- range ----


def test_range_table_numeric(spark):
    """TableDefinitionRange.java: numeric intervals [o+k*p, o+(k+1)*p)."""
    s = Schema(spark)
    r = s.range("R", origin=0.0, period=10.0, length=3)
    rows = sorted(
        (x["interval_start"], x["interval_end"]) for x in r.df().collect()
    )
    assert rows == [(0.0, 10.0), (10.0, 20.0), (20.0, 30.0)]


def test_project_to_range_binning(spark):
    """Project facts into a range table (interval membership) then accu per
    bin — the reference's group-by-interval pattern (range + proj + accu)."""
    s = Schema(spark)
    r = s.range("R", origin=0.0, period=10.0, length=3)
    facts = s.table(
        "F",
        spark.createDataFrame(
            [(1, 1.0, 5.0), (2, 9.9, 6.0), (3, 10.0, 7.0), (4, 25.0, 8.0), (5, 99.0, 9.0)],
            "fid long, v double, m double",
        ),
    )
    s.project_to_range(facts, "bin", r, value="v")
    got = _by(facts.df().collect(), "fid")
    assert got[1]["bin"] == 0.0
    assert got[2]["bin"] == 0.0
    assert got[3]["bin"] == 10.0
    assert got[4]["bin"] == 20.0
    assert got[5]["bin"] is None  # outside the range population

    r.accu("msum", facts, "bin", "sum(m)", default=0.0)
    bins = _by(r.df().collect(), "interval_start")
    assert bins[0.0]["msum"] == 11.0
    assert bins[10.0]["msum"] == 7.0
    assert bins[20.0]["msum"] == 8.0


# ------------------------------------------------- deeper path semantics --


def test_two_hop_column_path(spark):
    """ColumnPath with two link hops (ColumnPath.java#getValue walks any
    depth): facts.mid.top.v — the middle table's own link column compiles
    inside the dim side of the first link."""
    s = Schema(spark)
    top = s.table(
        "TOP",
        spark.createDataFrame([("c1", 100.0), ("c2", 200.0)], "cat string, v double"),
        key=["cat"],
    )
    mid = s.table(
        "MID",
        spark.createDataFrame(
            [("g1", "c1"), ("g2", "c2"), ("g3", "c1")], "name string, cat string"
        ),
        key=["name"],
    )
    mid.link("t", top, on={"cat": "cat"}).bring("t", "v")
    facts = s.table(
        "FACTS",
        spark.createDataFrame(
            [(1, "g1"), (2, "g2"), (3, "g3"), (4, "gX")], "fid long, grp string"
        ),
    )
    facts.link("m", mid, on={"grp": "name"}).bring("m", "t__v")
    got = _by(facts.df().collect(), "fid")
    assert got[1]["m__t__v"] == 100.0
    assert got[2]["m__t__v"] == 200.0
    assert got[3]["m__t__v"] == 100.0
    assert got[4]["m__t__v"] is None  # miss propagates through the path


def test_multi_key_link(spark):
    """Link on a composite key (Column.java#link takes Column[] keys)."""
    s = Schema(spark)
    dim = s.table(
        "DIM",
        spark.createDataFrame(
            [("a", 1, "x"), ("a", 2, "y"), ("b", 1, "z")],
            "k1 string, k2 int, val string",
        ),
        key=["k1", "k2"],
    )
    facts = s.table(
        "FACTS",
        spark.createDataFrame(
            [(1, "a", 1), (2, "a", 2), (3, "b", 1), (4, "b", 9)],
            "fid long, f1 string, f2 int",
        ),
    )
    facts.link("d", dim, on={"f1": "k1", "f2": "k2"}).bring("d", "val")
    got = _by(facts.df().collect(), "fid")
    assert got[1]["d__val"] == "x"
    assert got[2]["d__val"] == "y"
    assert got[3]["d__val"] == "z"
    assert got[4]["d__val"] is None


def test_project_expression_keys(spark):
    """Project keyed on an expression of the source row (the reference's
    value-path variant, ColumnDefinitionProj with expressions)."""
    s = Schema(spark)
    facts = s.table(
        "FACTS",
        spark.createDataFrame(
            [(1, "Ab"), (2, "aB"), (3, "cd")], "fid long, k string"
        ),
    )
    facts.project("dim", "DIMU", keys={"upper(k)": "ku"})
    assert sorted(r["ku"] for r in s.table("DIMU").df().collect()) == ["AB", "CD"]
    got = _by(facts.df().collect(), "fid")
    assert got[1]["dim"] == "AB" and got[2]["dim"] == "AB" and got[3]["dim"] == "CD"


def test_accu_requires_key_error(spark):
    """Definition error surfaces eagerly (BistroError analog): accumulate
    into a table with no declared key is rejected at compile time."""
    s = Schema(spark)
    groups = s.table(
        "G", spark.createDataFrame([("g1",)], "name string")  # no key
    )
    facts = s.table("F", spark.createDataFrame([(1, "g1")], "fid long, grp string"))
    groups.accu("n", facts, "grp", "count(*)", default=0)
    with pytest.raises(ValueError, match="needs a key"):
        groups.df().collect()


def test_formula_bracket_grammar(spark):
    """F1 formula bracket surface (formula/.../FormulaExp4j.java): bracketed
    column references — spaced names, chained formula columns, link-path
    hops — evaluate like their plain-SQL twins, and SQL subscripts are
    untouched by the shim."""
    from bistro_spark.schema import Schema, parse_formula

    assert parse_formula("[Column A] + [B]") == "`Column A` + `B`"
    assert parse_formula("sig[0] + [A]") == "sig[0] + `A`"
    # Quoted spans are never rewritten: a '[' inside a string literal after
    # a space/comma/paren must survive (regex char-classes), as must
    # brackets inside backticked identifiers and ''-escaped literals.
    assert (
        parse_formula("regexp_replace(text, ' [a-z]+', '')")
        == "regexp_replace(text, ' [a-z]+', '')"
    )
    assert parse_formula("concat('[x]', [y])") == "concat('[x]', `y`)"
    assert parse_formula('concat("[x]", [y])') == 'concat("[x]", `y`)'
    assert parse_formula("`weird [name]` + [a]") == "`weird [name]` + `a`"
    assert parse_formula("'it''s [ok]' || [b]") == "'it''s [ok]' || `b`"

    base = spark.createDataFrame(
        [(1, 10.0, 4, "web"), (2, 30.0, 2, "code")],
        ["id", "unit price", "pack size", "source"],
    )
    s = Schema(spark, "formula")
    dim = s.table(
        "dim",
        spark.createDataFrame(
            [("web", 2.0), ("code", 0.5)], ["source", "weight"]
        ),
        key=["source"],
    )
    t = s.table("t", base)
    t.calc("density", "[unit price] / ([pack size] + 1)")
    t.calc("double_density", "[density] * 2")
    t.link("src", dim, on={"source": "source"}).bring("src", "weight")
    t.calc("weighted", "[density] * [src.weight]")
    t.calc("consonants", "regexp_replace(source, '[aeiou]', '')")
    got = {r["id"]: r.asDict() for r in t.df().collect()}
    assert got[1]["consonants"] == "wb"
    assert got[2]["consonants"] == "cd"
    assert got[1]["density"] == 2.0
    assert got[1]["double_density"] == 4.0
    assert got[1]["weighted"] == 4.0
    assert got[2]["density"] == 10.0
    assert got[2]["weighted"] == 5.0


# ------------------------------------------- link: lookup vs join parity ----

LINK_DIM_SCHEMA = "k1 string, k2 int, weight double, origin string"
LINK_DIM_ROWS = [
    ("web", 1, 1.0, "crawl"),
    ("web", 2, 0.5, None),
    ("code", 1, 2.0, "github"),
    (None, 1, 9.5, "null key"),
    ("wiki", None, 1.5, "null k2"),
]
LINK_FACT_ROWS = [
    (1, "web", 1),
    (2, "web", 2),
    (3, "code", 1),
    (4, "zzz", 1),  # missing from the dim
    (5, None, 1),  # NULL key: eqNullSafe finds the NULL dim key
    (6, "wiki", None),
    (7, "code", 7),
    (8, None, None),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "on, bring",
    [
        ({"f1": "k1"}, ["origin"]),  # keys repeat: only k1 = 'code' is unique
        ({"f1": "k1", "f2": "k2"}, ["weight", "origin"]),
    ],
    ids=["one-key", "two-keys"],
)
def test_link_lookup_matches_broadcast_join(spark, tmp_path, on, bring):
    """The same dim rows as a ``local_frame`` (an in-plan lookup) and read
    from parquet (a broadcast join) link the same facts to the same rows
    and the same StructType, nullability included: a missing key links
    NULL with NULL brought columns, a NULL fact key matches a NULL dim key
    (eqNullSafe), and a two-column key matches on both."""
    from bistro_spark.session import local_frame

    rows = LINK_DIM_ROWS
    if len(on) == 1:  # a one-key link needs unique k1
        rows = [r for r in rows if r[1] == 1 or r[0] == "wiki"]
    local = local_frame(spark, rows, LINK_DIM_SCHEMA)
    path = str(tmp_path / "dim")
    local.write.parquet(path)
    out = []
    for dim_df in (local, spark.read.parquet(path)):
        s = Schema(spark)
        dim = s.table("dim", dim_df, key=list(on.values()))
        facts = s.table(
            "facts", local_frame(spark, LINK_FACT_ROWS, "fid long, f1 string, f2 int")
        )
        facts.link("lk", dim, on=on).bring("lk", *bring)
        out.append(facts.df())
    lookup, join = out
    assert "Join" not in _plan(lookup)
    assert "BroadcastHashJoin" in _plan(join)
    assert lookup.schema == join.schema
    got, want = sorted(lookup.collect()), sorted(join.collect())
    assert got == want
    by = _by(got, "fid")
    link = "lk" if len(on) == 1 else "lk__k1"
    assert by[4][link] is None and by[4]["lk__origin"] is None
    assert by[5][link] is None and by[5]["lk__origin"] == "null key"
    if len(on) == 2:
        assert by[2]["lk__weight"] == 0.5 and by[2]["lk__origin"] is None
        assert by[6]["lk__origin"] == "null k2"
        assert by[7]["lk__k1"] is None


def test_link_lookup_refuses_duplicated_key(spark):
    """A link is many-to-one: a driver-side dim whose key repeats raises,
    naming the link, instead of multiplying fact rows."""
    from bistro_spark.session import local_frame

    s = Schema(spark)
    dim = s.table(
        "dim", local_frame(spark, LINK_DIM_ROWS, LINK_DIM_SCHEMA), key=["k1"]
    )
    facts = s.table("facts", local_frame(spark, LINK_FACT_ROWS, "fid long, f1 string, f2 int"))
    facts.link("lk", dim, on={"f1": "k1"})
    with pytest.raises(ValueError, match="link 'lk'.*many-to-one"):
        facts.df()


def test_sources_dim_is_one_frame_per_session(spark):
    """``sources_dim`` returns one frame per session, and a link to it
    compiles its lookup once: a later schema reuses the cached map."""
    from bistro_spark.pipeline import prepare_facts
    from bistro_spark.sources.tokens import sources_dim, token_table

    dim = sources_dim(spark)
    assert sources_dim(spark) is dim
    assert sources_dim(spark.newSession()) is not dim
    batch = token_table(spark, 10)
    prepare_facts(spark, batch)
    cached = dict(dim._link_lookups)
    prepare_facts(spark, batch)
    assert dim._link_lookups.keys() == cached.keys()
    assert all(v is cached[k] for k, v in dim._link_lookups.items())
