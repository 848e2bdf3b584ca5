"""Operator-level unit tests (SURVEY §5 strategy item 1)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sales_azure_data_engineer_project_spark.operators.dimensions import (
    DimensionSpec,
    assign_surrogate_keys,
    build_scd1_dimension,
)
from sales_azure_data_engineer_project_spark.operators.upsert import merge_upsert
from sales_azure_data_engineer_project_spark.plans.pipeline import transform_silver


def _silver(spark, rows):
    """``transform_silver`` over raw rows of (Model_ID, Revenue, Units_Sold)."""
    raw = spark.createDataFrame(rows, "Model_ID string, Revenue long, Units_Sold long")
    return transform_silver(
        raw.select("*", *(F.lit(1).alias(c) for c in ("Day", "Month", "Year")))
    )


def test_split_part(spark):
    rows = [(m, 1, 1) for m in ("BMW-M1", "KIA-M9", "NODELIM")]
    out = _silver(spark, rows)
    got = {r["Model_ID"]: r["model_category"] for r in out.collect()}
    assert got == {"BMW-M1": "BMW", "KIA-M9": "KIA", "NODELIM": "NODELIM"}


def test_safe_div_types_and_null(spark):
    out = _silver(spark, [("A-1", 10, 4), ("B-1", 3, 0)])
    assert dict(out.dtypes)["Rev_Per_unit"] == "double"
    vals = {r["Model_ID"]: r["Rev_Per_unit"] for r in out.collect()}
    assert vals == {"A-1": 2.5, "B-1": None}  # long/long → double; x/0 → NULL


def test_assign_surrogate_keys_deterministic(spark):
    def keyed(rows):
        df = spark.createDataFrame(rows, "id long, k string").repartition(3)
        return {r["k"]: r["id"] for r in assign_surrogate_keys(df, "id", ["k"]).collect()}

    # a keyed row holding 10 keys the new rows from 11, on every call
    rows = [(None, "b"), (None, "a"), (10, "z"), (None, "c")]
    assert keyed(rows) == keyed(rows) == {"a": 11, "b": 12, "c": 13, "z": 10}
    # no keyed row: keys start at 1
    assert keyed([(None, "b"), (None, "a")]) == {"a": 1, "b": 2}
    # keys 5 and 9 held: new rows key from 10 whatever their order
    assert keyed([(5, "b"), (None, "a"), (9, "c"), (None, "d")]) == {
        "a": 10, "b": 5, "c": 9, "d": 11
    }


def test_merge_upsert_semantics(spark):
    target = spark.createDataFrame([(1, "old1"), (2, "old2")], ["k", "v"])
    source = spark.createDataFrame([(2, "new2"), (3, "new3")], ["k", "v"])
    got = {r["k"]: r["v"] for r in merge_upsert(target, source, ["k"]).collect()}
    # matched updated, unmatched-source inserted, unmatched-target kept
    assert got == {1: "old1", 2: "new2", 3: "new3"}

    # a NULL key never matches: the target's and the source's rows both stay
    target = spark.createDataFrame([(1, "old1"), (None, "oldnull")], "k long, v string")
    source = spark.createDataFrame([(None, "newnull")], "k long, v string")
    got = sorted(map(tuple, merge_upsert(target, source, ["k"]).collect()), key=str)
    assert got == sorted([(1, "old1"), (None, "oldnull"), (None, "newnull")], key=str)


def test_merge_upsert_duplicate_source_raises(spark):
    target = spark.createDataFrame([(1, "x")], ["k", "v"])
    source = spark.createDataFrame([(1, "a"), (1, "b")], ["k", "v"])
    merged = merge_upsert(target, source, ["k"])  # a plan: the check runs in it
    with pytest.raises(Exception, match="multiple source rows"):
        merged.collect()


def test_scd1_dimension_initial_and_incremental(spark):
    spec = DimensionSpec("dim_x", "dim_x_key", "nk", ("attr",))
    empty = spark.createDataFrame([], "dim_x_key long, nk string, attr string")
    s1 = spark.createDataFrame([("b", "B"), ("a", "A")], ["nk", "attr"])
    d1 = build_scd1_dimension(s1, empty, spec)
    got1 = {r["nk"]: (r["dim_x_key"], r["attr"]) for r in d1.collect()}
    assert got1 == {"a": (1, "A"), "b": (2, "B")}

    # incremental: update a's attr, add c; b vanishes from batch but is kept
    s2 = spark.createDataFrame([("a", "A2"), ("c", "C")], ["nk", "attr"])
    d2 = build_scd1_dimension(s2, d1, spec)
    got2 = {r["nk"]: (r["dim_x_key"], r["attr"]) for r in d2.collect()}
    assert got2 == {"a": (1, "A2"), "b": (2, "B"), "c": (3, "C")}

    # a committed but empty sink takes the incremental path: keys from 1
    d3 = build_scd1_dimension(s2, empty, spec)
    got3 = {r["nk"]: (r["dim_x_key"], r["attr"]) for r in d3.collect()}
    assert got3 == {"a": (1, "A2"), "c": (2, "C")}

    # a sink holding two keys for one natural key (initial-load variants)
    # and a batch with one variant: both keys stay, both take its attr
    s4 = spark.createDataFrame([("v", "V1"), ("v", "V2")], ["nk", "attr"])
    d4 = build_scd1_dimension(s4, empty, spec)
    s5 = spark.createDataFrame([("v", "V3")], ["nk", "attr"])
    d5 = build_scd1_dimension(s5, d4, spec)
    got5 = sorted((r["dim_x_key"], r["nk"], r["attr"]) for r in d5.collect())
    assert got5 == [(1, "v", "V3"), (2, "v", "V3")]


def test_incremental_dimension_and_gold_read_start_no_job(spark, tmp_path):
    """Over a committed, non-empty sink, reading the snapshot and
    building the next dimension are pure plan builders: the dimension's
    plan runs once, in the commit that writes it."""
    from conftest import count_jobs

    from sales_azure_data_engineer_project_spark.operators.versioned import VersionedTable

    spec = DimensionSpec("dim_x", "dim_x_key", "nk", ("attr",))
    table = VersionedTable(spark, str(tmp_path / "dim_x"))
    s1 = spark.createDataFrame([("b", "B"), ("a", "A")], ["nk", "attr"])
    empty = spark.createDataFrame([], "dim_x_key long, nk string, attr string")
    table.overwrite(build_scd1_dimension(s1, empty, spec))
    s2 = spark.createDataFrame([("a", "A2"), ("c", "C")], ["nk", "attr"])

    dim, jobs = count_jobs(spark, lambda: build_scd1_dimension(s2, table.read(), spec))
    assert jobs == 0
    got = {r["nk"]: (r["dim_x_key"], r["attr"]) for r in dim.collect()}
    assert got == {"a": (1, "A2"), "b": (2, "B"), "c": (3, "C")}


def test_scd1_dimension_keys_dense_unique(spark):
    spec = DimensionSpec("d", "key", "nk", ())
    src = spark.createDataFrame([(f"k{i:03d}",) for i in range(57)], ["nk"]).repartition(8)
    dim = build_scd1_dimension(src, spark.createDataFrame([], "key long, nk string"), spec)
    keys = sorted(r["key"] for r in dim.collect())
    assert keys == list(range(1, 58))


def test_union_by_name_order_insensitive(spark):
    a = spark.createDataFrame([(1, "x")], ["k", "v"])
    b = spark.createDataFrame([("y", 2)], ["v", "k"])
    out = a.unionByName(b).collect()
    assert {(r["k"], r["v"]) for r in out} == {(1, "x"), (2, "y")}


def test_assign_surrogate_keys_initial_load_scale(spark):
    """At initial-load size (every key new) the window yields the dense
    global sequence in key order, identical across calls."""
    df = spark.range(0, 50_000).select(
        F.lit(None).cast("long").alias("sk"),
        ((F.col("id") * 2654435761) % 1_000_003).alias("nk"),
    ).distinct().union(spark.createDataFrame([(100, -1)], "sk long, nk long"))

    def keyed():  # the keyed row at nk = -1 holds key 100: new keys from 101
        return assign_surrogate_keys(df, "sk", ["nk"]).where("nk >= 0").collect()

    rows = sorted((r["nk"], r["sk"]) for r in keyed())
    n = len(rows)
    assert [sk for _, sk in rows] == list(range(101, 101 + n)), "keys not dense"
    assert all(rows[i][0] < rows[i + 1][0] for i in range(n - 1))
    again = {r["nk"]: r["sk"] for r in keyed()}
    assert again == dict(rows), "not deterministic across invocations"


def test_grid_quantiles_matches_percentile_disc(spark):
    """operators/quantiles.grid_quantiles vs plain-Python
    percentile_disc on a synthetic grouped frame with ties, negative
    values, and a singleton group."""
    from pyspark.sql import functions as F

    from sales_azure_data_engineer_project_spark.operators.quantiles import (
        grid_quantiles,
    )

    data = (
        [("a", v) for v in [5, 1, 1, -3, 9, 9, 9, 2, 0, 7]]
        + [("b", v) for v in [100, -100, 0, 0]]
        + [("c", 42)]
    )
    df = spark.createDataFrame(data, ["g", "v"]).repartition(8)
    got = {
        r["g"]: r
        for r in grid_quantiles(df, ["g"], "v", [25, 50, 75, 95]).collect()
    }
    per = {}
    for g, v in data:
        per.setdefault(g, []).append(v)
    for g, vs in per.items():
        vs.sort()
        n = len(vs)
        r = got[g]
        assert r["n"] == n
        for p in (25, 50, 75, 95):
            assert r[f"p{p}"] == vs[(p * n + 99) // 100 - 1], (g, p)
