"""Core relational queries — SURVEY §2 operator coverage on the driver corpus.

Every entry here is registered in ``__spark_entry__.py::queries()`` with a
DuckDB ``oracle_sql()`` twin.  Determinism/hash-stability rules:

- Aggregates over doubles are cast to DECIMAL *before* summing on BOTH
  sides: decimal arithmetic is exact, so the result is independent of
  partial-aggregation order (a double sum is not).
- Final projected columns are never DECIMAL: the exact decimal result
  gets one outer CAST(... AS DOUBLE) on BOTH sides.  Spark's toPandas
  keeps decimals as ``decimal.Decimal`` (scale-preserving, '2547.40')
  while DuckDB's pandas path yields float64 ('2547.4'), so a DECIMAL
  output can never hash-match in the driver's pandas-level canonical
  compare.  decimal→double is the correctly-rounded IEEE conversion in
  both engines, so identical exact decimals become identical doubles.
- Integer sums are cast to BIGINT (DuckDB sums integers into HUGEINT).
- Every computed column is aliased identically in Spark and SQL.
- Ties in any top-k / window ordering are broken by a unique column.

The mapping back to the reference's operators (SURVEY §2) is noted per
query; the sales-domain operators are exercised on their testdata
equivalents (orders/customer/nation as the star, part as a dim source).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io import load_testdata

SparkQuery = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, SparkQuery] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None):
    def deco(fn: SparkQuery) -> SparkQuery:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# Flagship — the reference's one analytics query (`2_Silver_Notebook.py:63`:
# groupBy(branch, year).sum(units).sort) generalized to the corpus star:
# revenue by customer nation and order year.  Covers S1, J2 (broadcast dim
# joins), A1 (grouped sum), O1 (multi-key mixed-direction sort), P4.
# ---------------------------------------------------------------------------


@register(
    "flagship_revenue_by_nation_year",
    """
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS INTEGER) AS order_year,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total_revenue,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name, CAST(year(o.o_orderdate) AS INTEGER)
    ORDER BY order_year ASC, total_revenue DESC, nation ASC
    """,
)
def flagship_revenue_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_testdata(spark, sf_dir, "orders")
    customer = load_testdata(spark, sf_dir, "customer")
    nation = load_testdata(spark, sf_dir, "nation")
    return (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
            "inner",
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey, "inner")
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("order_year"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
            .cast("double")
            .alias("total_revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(
            F.col("order_year").asc(),
            F.col("total_revenue").desc(),
            F.col("nation").asc(),
        )
    )


# ---------------------------------------------------------------------------
# A1: TPC-H-Q1-style pricing summary (multi-agg hash aggregate).
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_testdata(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# P1 + P3: DISTINCT projection with a derived split column (the
# `3(1)_Gold_dim_model.py:44-46` distinct-project + `2_Silver:33` split).
# ---------------------------------------------------------------------------


@register(
    "distinct_projection_split",
    """
    SELECT DISTINCT p_brand,
           string_split(p_type, ' ')[1] AS type_head
    FROM part
    ORDER BY p_brand, type_head
    """,
)
def distinct_projection_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_testdata(spark, sf_dir, "part")
    return (
        part.select("p_brand", F.split("p_type", " ").getItem(0).alias("type_head"))
        .distinct()
        .orderBy("p_brand", "type_head")
    )


# ---------------------------------------------------------------------------
# J1 + P6: the reference's hand-rolled anti/semi split (left join +
# isNull/isNotNull at `3(1)_Gold_dim_model.py:79-102`), expressed with
# the idiomatic left_anti / left_semi joins.
# ---------------------------------------------------------------------------


@register(
    "customers_without_orders",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_testdata(spark, sf_dir, "customer")
    orders = load_testdata(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


@register(
    "customers_with_orders",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
)
def customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_testdata(spark, sf_dir, "customer")
    orders = load_testdata(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# U1: positional union of two disjoint slices (UNION ALL semantics,
# `3(1)_Gold_dim_model.py:146`) — done with unionByName per hazard H7.
# ---------------------------------------------------------------------------


@register(
    "union_segments",
    """
    SELECT c_custkey, c_mktsegment AS segment, c_acctbal AS acctbal
    FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION ALL
    SELECT c_custkey, c_mktsegment AS segment, c_acctbal AS acctbal
    FROM customer WHERE c_mktsegment = 'MACHINERY'
    ORDER BY c_custkey
    """,
)
def union_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_testdata(spark, sf_dir, "customer")

    def slice_of(seg: str) -> DataFrame:
        return customer.filter(F.col("c_mktsegment") == seg).select(
            "c_custkey",
            F.col("c_mktsegment").alias("segment"),
            F.col("c_acctbal").alias("acctbal"),
        )

    return slice_of("BUILDING").unionByName(slice_of("MACHINERY")).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# A2: ungrouped scalar max (`3(1)_Gold_dim_model.py:123-124`) — as a
# 1-row query (the driver-side .collect()[0][0] is exercised by the
# pipeline, not the oracle).
# ---------------------------------------------------------------------------


@register(
    "max_order_key",
    """
    SELECT CAST(MAX(o_orderkey) AS BIGINT) AS max_orderkey,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders
    """,
)
def max_order_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_testdata(spark, sf_dir, "orders")
    return orders.agg(
        F.max("o_orderkey").cast("bigint").alias("max_orderkey"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


# ---------------------------------------------------------------------------
# J2: multi-way broadcast star join (the `4_Gold_fact_sales_table.py:46-51`
# pattern — fact ⟕ 3 dims, swap to dim attributes, aggregate).
# ---------------------------------------------------------------------------


@register(
    "star_join_sales",
    """
    SELECT p.p_brand, s.s_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS units
    FROM lineitem l
    LEFT JOIN part p ON l.l_partkey = p.p_partkey
    LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY p.p_brand, s.s_name
    ORDER BY p_brand, s_name
    """,
)
def star_join_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_testdata(spark, sf_dir, "lineitem")
    part = load_testdata(spark, sf_dir, "part")
    supplier = load_testdata(spark, sf_dir, "supplier")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li.l_partkey == F.col("p_partkey"),
            "left",
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            li.l_suppkey == F.col("s_suppkey"),
            "left",
        )
        .groupBy("p_brand", "s_name")
        .agg(
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"),
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("units"),
        )
        .orderBy("p_brand", "s_name")
    )


# ---------------------------------------------------------------------------
# P3/P4/P5: derived columns — split-derive, arithmetic ratio, cast.
# ---------------------------------------------------------------------------


@register(
    "derived_columns",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS net_price,
           CAST(l_quantity AS VARCHAR) AS qty_str,
           CAST(CAST(l_tax AS DECIMAL(4,2)) + CAST(l_discount AS DECIMAL(4,2)) AS DOUBLE) AS tax_plus_disc
    FROM lineitem
    WHERE l_orderkey < 50
    ORDER BY l_orderkey, l_linenumber
    """,
)
def derived_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_testdata(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    return (
        li.filter(F.col("l_orderkey") < 50)
        .select(
            "l_orderkey",
            "l_linenumber",
            (price * (F.lit(1) - disc)).cast("double").alias("net_price"),
            F.col("l_quantity").cast("string").alias("qty_str"),
            (tax + disc).cast("double").alias("tax_plus_disc"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------------------
# O1 + top-k: global sort with deterministic tie-break + limit.
# ---------------------------------------------------------------------------


@register(
    "top_orders",
    """
    SELECT o_orderkey, o_totalprice AS totalprice, o_orderpriority
    FROM orders
    ORDER BY totalprice DESC, o_orderkey ASC
    LIMIT 25
    """,
)
def top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_testdata(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey",
            F.col("o_totalprice").alias("totalprice"),
            "o_orderpriority",
        )
        .orderBy(F.col("totalprice").desc(), F.col("o_orderkey").asc())
        .limit(25)
    )


# ---------------------------------------------------------------------------
# HAVING + exact percentiles (neither appears in the
# reference — §2 notes their absence — but a complete engine needs them)
# ---------------------------------------------------------------------------


@register(
    "having_filter",
    """
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
    FROM customer
    GROUP BY c_mktsegment
    HAVING COUNT(*) > 200
    ORDER BY c_mktsegment
    """,
)
def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_testdata(spark, sf_dir, "customer")
    return (
        customer.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(12,2)"))
            .cast("double")
            .alias("total_bal"),
        )
        .filter(F.col("n_customers") > 200)
        .orderBy("c_mktsegment")
    )


@register(
    "price_percentiles",
    """
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.25) AS p25,
           quantile_cont(l_extendedprice, 0.50) AS p50,
           quantile_cont(l_extendedprice, 0.75) AS p75,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (interpolating) percentiles — Spark ``percentile`` and
    DuckDB ``quantile_cont`` share the (n−1)p linear-interpolation
    definition; verified bitwise-identical on this corpus."""
    li = load_testdata(spark, sf_dir, "lineitem")
    # one percentile(col, array(...)) call, not three: the exact
    # percentile aggregate buffers the group's values once per CALL, so
    # the array form is ~3× cheaper in both memory and sort time
    # (measured 4.8 s → expected ~1.7 s at sf0.1)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile(l_extendedprice, array(0.25D, 0.50D, 0.75D))"
            ).alias("ps"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "l_returnflag",
            F.element_at("ps", 1).alias("p25"),
            F.element_at("ps", 2).alias("p50"),
            F.element_at("ps", 3).alias("p75"),
            "n",
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Scalar-function breadth: string / date / conditional / sorted array_agg
# (the reference's scalar surface is tiny — §2.7 — these cover the rest
# of a standard engine's expression library, oracle-checked)
# ---------------------------------------------------------------------------


@register(
    "string_functions",
    """
    SELECT p_partkey,
           upper(p_brand) AS brand_up,
           lower(p_type) AS type_low,
           substr(p_name, 1, 8) AS name8,
           replace(p_type, ' ', '_') AS type_snake,
           CAST(length(p_name) AS BIGINT) AS name_len,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
           trim(concat('  ', p_brand, '  ')) AS brand_trim,
           regexp_extract(p_type, '([A-Z]+)', 1) AS first_word
    FROM part
    WHERE p_partkey < 60
    ORDER BY p_partkey
    """,
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_testdata(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_partkey") < 60)
        .select(
            "p_partkey",
            F.upper("p_brand").alias("brand_up"),
            F.lower("p_type").alias("type_low"),
            F.substring("p_name", 1, 8).alias("name8"),
            F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
            F.length("p_name").cast("bigint").alias("name_len"),
            F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
            F.trim(F.concat(F.lit("  "), F.col("p_brand"), F.lit("  "))).alias("brand_trim"),
            F.regexp_extract("p_type", "([A-Z]+)", 1).alias("first_word"),
        )
        .orderBy("p_partkey")
    )


@register(
    "date_functions",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS y,
           CAST(month(o_orderdate) AS INTEGER) AS m,
           CAST(day(o_orderdate) AS INTEGER) AS d,
           CAST(dayofweek(o_orderdate) AS INTEGER) AS dow,
           strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d') AS iso,
           strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
           CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_95
    FROM orders
    WHERE o_orderkey < 40
    ORDER BY o_orderkey
    """,
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_testdata(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return (
        orders.filter(F.col("o_orderkey") < 40)
        .select(
            "o_orderkey",
            F.year("o_orderdate").alias("y"),
            F.month("o_orderdate").alias("m"),
            F.dayofmonth("o_orderdate").alias("d"),
            # Spark dayofweek: 1=Sunday..7=Saturday; DuckDB dayofweek:
            # 0=Sunday..6 — shift to agree
            (F.dayofweek("o_orderdate")).alias("dow_spark"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("iso"),
            F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("plus30"),
            F.datediff(d, F.lit("1995-01-01").cast("date")).cast("bigint").alias("days_since_95"),
        )
        .withColumn("dow", (F.col("dow_spark") - 1).cast("int"))
        .drop("dow_spark")
        .select("o_orderkey", "y", "m", "d", "dow", "iso", "plus30", "days_since_95")
        .orderBy("o_orderkey")
    )


@register(
    "conditional_functions",
    """
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'overdrawn'
                WHEN c_acctbal < 5000 THEN 'standard'
                ELSE 'premium' END AS tier,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'DEFAULTED') AS seg_or_default,
           greatest(c_acctbal, CAST(0.0 AS DOUBLE)) AS bal_floor,
           CASE WHEN c_nationkey % 2 = 0 THEN TRUE ELSE FALSE END AS even_nation
    FROM customer
    WHERE c_custkey < 200
    ORDER BY c_custkey
    """,
)
def conditional_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_testdata(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    return (
        customer.filter(F.col("c_custkey") < 200)
        .select(
            "c_custkey",
            F.when(bal < 0, "overdrawn")
            .when(bal < 5000, "standard")
            .otherwise("premium")
            .alias("tier"),
            F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("DEFAULTED")).alias(
                "seg_or_default"
            ),
            F.greatest(bal, F.lit(0.0)).alias("bal_floor"),
            (F.col("c_nationkey") % 2 == 0).alias("even_nation"),
        )
        .orderBy("c_custkey")
    )


@register(
    "orders_per_customer_array",
    """
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           array_to_string(list_sort(list(c_mktsegment)), '|') AS segments
    FROM customer
    WHERE c_custkey < 40
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def orders_per_customer_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic array aggregation: collect_list is unordered in a
    distributed engine, so sort_array makes it comparable (DuckDB
    list() preserves arrival order — also made deterministic by the
    sort).  The sorted array is projected as a '|'-joined string: the
    driver's pandas canonicalizer cannot hash list cells (unhashable),
    so the comparison surface is a scalar while the operator under test
    stays sorted array_agg."""
    customer = load_testdata(spark, sf_dir, "customer")
    return (
        customer.filter(F.col("c_custkey") < 40)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.concat_ws("|", F.sort_array(F.collect_list("c_mktsegment"))).alias("segments"),
        )
        .orderBy("c_nationkey")
    )


# ---------------------------------------------------------------------------
# S2: SQL-over-path scan — querying parquet by URI with no registered
# table, the reference's dominant access pattern
# (``select * from parquet.`abfss://…``` at `2_Silver:87`, `3_model:30`).
# ---------------------------------------------------------------------------


@register(
    "sql_over_path_scan",
    """
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation
    ORDER BY n_nationkey
    """,
)
def sql_over_path_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        f"SELECT n_nationkey, n_name, n_regionkey "
        f"FROM parquet.`{sf_dir}/nation.parquet` ORDER BY n_nationkey"
    )


# ---------------------------------------------------------------------------
# P7: constant-false predicate — the reference's schema-only select for
# an empty, correctly-typed sink frame on initial load
# (``select 1 as dim_model_key, … where 1=0`` at `3_model:64-68`);
# Catalyst folds it to LocalRelation <empty>.
# ---------------------------------------------------------------------------


@register(
    "empty_schema_select",
    """
    SELECT CAST(1 AS BIGINT) AS dim_key, n_name AS natural_key
    FROM nation
    WHERE 1 = 0
    """,
)
def empty_schema_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_testdata(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(
        "SELECT CAST(1 AS BIGINT) AS dim_key, n_name AS natural_key "
        "FROM nation WHERE 1 = 0"
    )


# ---------------------------------------------------------------------------
# Join-type completeness: FULL OUTER and CROSS (absent from the
# reference — §2.3 — but part of any complete engine surface)
# ---------------------------------------------------------------------------


@register(
    "full_outer_nation_presence",
    """
    WITH c AS (SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_cust
               FROM customer GROUP BY c_nationkey),
         s AS (SELECT s_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_supp
               FROM supplier GROUP BY s_nationkey)
    SELECT coalesce(c.nk, s.nk) AS nationkey, c.n_cust, s.n_supp
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    ORDER BY nationkey
    """,
)
def full_outer_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_testdata(spark, sf_dir, "customer")
    supplier = load_testdata(spark, sf_dir, "supplier")
    c = customer.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    s = supplier.groupBy(F.col("s_nationkey").alias("nk_s")).agg(
        F.count(F.lit(1)).alias("n_supp")
    )
    return (
        c.join(s, c.nk == s.nk_s, "full_outer")
        .select(
            F.coalesce("nk", "nk_s").alias("nationkey"),
            "n_cust",
            "n_supp",
        )
        .orderBy("nationkey")
    )


@register(
    "cross_join_region_priority",
    """
    SELECT r.r_name, p.prio,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS n
    FROM region r
    CROSS JOIN (SELECT DISTINCT o_orderpriority AS prio FROM orders) p
    LEFT JOIN (
        SELECT o.o_orderkey, o.o_orderpriority, n.n_regionkey
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
    ) o ON o.n_regionkey = r.r_regionkey AND o.o_orderpriority = p.prio
    GROUP BY r.r_name, p.prio
    ORDER BY r_name, prio
    """,
)
def cross_join_region_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense (region × priority) grid via CROSS JOIN, zero-filled with a
    left join — the dense-dimension-grid reporting pattern."""
    region = load_testdata(spark, sf_dir, "region")
    orders = load_testdata(spark, sf_dir, "orders")
    customer = load_testdata(spark, sf_dir, "customer")
    nation = load_testdata(spark, sf_dir, "nation")
    prios = orders.select(F.col("o_orderpriority").alias("prio")).distinct()
    grid = region.crossJoin(prios)
    facts = (
        orders.join(F.broadcast(customer.select("c_custkey", "c_nationkey")),
                    orders.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_regionkey")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select("o_orderkey", "o_orderpriority", "n_regionkey")
    )
    return (
        grid.join(
            facts,
            (facts.n_regionkey == grid.r_regionkey)
            & (facts.o_orderpriority == grid.prio),
            "left",
        )
        .groupBy("r_name", "prio")
        .agg(F.count("o_orderkey").alias("n"))
        .orderBy("r_name", "prio")
    )


@register(
    "q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-side predicate aggregation — every filter
    pushes to the parquet reader, no joins, no shuffle beyond one
    scalar combine."""
    li = load_testdata(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * F.col("l_discount").cast("decimal(4,2)")
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )
