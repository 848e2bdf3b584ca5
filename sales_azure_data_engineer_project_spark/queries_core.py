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

from pyspark.sql import DataFrame, SparkSession, Window
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
# Subquery shapes + HAVING + exact percentiles (none appear in the
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
    "richest_customer_per_nation",
    """
    SELECT c_nationkey, c_custkey, c_name,
           c_acctbal AS acctbal
    FROM customer c
    WHERE c_acctbal = (SELECT MAX(c2.c_acctbal) FROM customer c2
                       WHERE c2.c_nationkey = c.c_nationkey)
    ORDER BY c_nationkey, c_custkey
    """,
)
def richest_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H Q2 shape).  Equality compares a
    stored double against MAX of stored doubles — no arithmetic, so the
    engines agree exactly."""
    load_testdata(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c_nationkey, c_custkey, c_name,
               c_acctbal AS acctbal
        FROM customer c
        WHERE c_acctbal = (SELECT MAX(c2.c_acctbal) FROM customer c2
                           WHERE c2.c_nationkey = c.c_nationkey)
        ORDER BY c_nationkey, c_custkey
        """
    )


@register(
    "orders_of_overdrawn_customers",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def orders_of_overdrawn_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_testdata(spark, sf_dir, "orders")
    customer = load_testdata(spark, sf_dir, "customer")
    overdrawn = customer.filter(F.col("c_acctbal") < 0).select("c_custkey")
    return (
        orders.join(
            overdrawn, orders.o_custkey == overdrawn.c_custkey, "left_semi"
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("o_orderstatus")
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
# TPC-H classic shapes (Q3 shipping-priority, Q5 local-supplier volume)
# on the corpus subset of columns — familiar benchmarks for plan review
# ---------------------------------------------------------------------------


@register(
    "q3_shipping_priority",
    """
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           strftime(CAST(o.o_orderdate AS TIMESTAMP), '%Y-%m-%d') AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-06-01'
      AND l.l_shipdate > TIMESTAMP '1997-06-01'
    GROUP BY l.l_orderkey, strftime(CAST(o.o_orderdate AS TIMESTAMP), '%Y-%m-%d'), o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 20
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_testdata(spark, sf_dir, "customer")
    orders = load_testdata(spark, sf_dir, "orders")
    li = load_testdata(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (
        li.filter(F.col("l_shipdate") > "1997-06-01")
        .join(
            orders.filter(F.col("o_orderdate") < "1997-06-01"),
            li.l_orderkey == orders.o_orderkey,
            "inner",
        )
        .join(
            F.broadcast(
                customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
            "inner",
        )
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(20)
    )


@register(
    "q5_supplier_volume_by_region",
    """
    SELECT r.r_name AS region, n.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    ORDER BY region, revenue DESC, nation
    """,
)
def q5_supplier_volume_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_testdata(spark, sf_dir, "lineitem")
    supplier = load_testdata(spark, sf_dir, "supplier")
    nation = load_testdata(spark, sf_dir, "nation")
    region = load_testdata(spark, sf_dir, "region")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    dim = (
        supplier.select("s_suppkey", "s_nationkey")
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .select("s_suppkey", F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
    )
    return (
        li.join(F.broadcast(dim), li.l_suppkey == dim.s_suppkey, "inner")
        .groupBy("region", "nation")
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
        .orderBy("region", F.col("revenue").desc(), "nation")
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
    "grouping_sets_revenue",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INTEGER) AS gid
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_testdata(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty,
               CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INTEGER) AS gid
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
        """
    )


@register(
    "posexplode_tokens",
    r"""
    SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, toks[i] AS tok
    FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks
          FROM documents WHERE doc_id < 5) t,
         unnest(generate_series(1, len(toks))) AS u(i)
    ORDER BY doc_id, pos
    """,
)
def posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode (lateral view) — token positions survive the
    flatten, which chunkers and aligners need."""
    docs = load_testdata(spark, sf_dir, "documents").filter(F.col("doc_id") < 5)
    return (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), r"\s+")).alias("pos", "tok"),
        )
        .select("doc_id", F.col("pos").cast("int").alias("pos"), "tok")
        .orderBy("doc_id", "pos")
    )


@register(
    "map_functions",
    """
    SELECT event_type,
           CAST(map_extract(map {'click': 1, 'view': 2, 'purchase': 3, 'signup': 4, 'error': 5},
                event_type)[1] AS INTEGER) AS type_code,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed literal lookup (MapType surface; the corpus has no map
    columns, so the map is constructed)."""
    ev = load_testdata(spark, sf_dir, "events")
    code_map = F.create_map(
        F.lit("click"), F.lit(1), F.lit("view"), F.lit(2), F.lit("purchase"),
        F.lit(3), F.lit("signup"), F.lit(4), F.lit("error"), F.lit(5),
    )
    return (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            F.element_at(code_map, F.col("event_type")).cast("int").alias("type_code"),
            "n",
        )
        .orderBy("event_type")
    )


@register(
    "q19_disjunctive_predicates",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'BRAND_1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 10)
       OR (p_brand = 'BRAND_2' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 20)
       OR (p_brand = 'BRAND_3' AND p_size BETWEEN 20 AND 50 AND l_quantity >= 30)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicates spanning both join sides —
    the optimizer must keep the join predicate clean and evaluate the
    disjunction post-join."""
    li = load_testdata(spark, sf_dir, "lineitem")
    part = load_testdata(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    cond = (
        ((F.col("p_brand") == "BRAND_1") & F.col("p_size").between(1, 15) & (F.col("l_quantity") >= 10))
        | ((F.col("p_brand") == "BRAND_2") & F.col("p_size").between(10, 30) & (F.col("l_quantity") >= 20))
        | ((F.col("p_brand") == "BRAND_3") & F.col("p_size").between(20, 50) & (F.col("l_quantity") >= 30))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "q16_supplier_counts",
    """
    SELECT p_brand, p_type,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'BRAND_1'
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type
    HAVING COUNT(DISTINCT l_suppkey) >= 8
    ORDER BY supplier_cnt DESC, p_brand, p_type
    """,
)
def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN anti-join + count-distinct + HAVING."""
    li = load_testdata(spark, sf_dir, "lineitem")
    part = load_testdata(spark, sf_dir, "part")
    supplier = load_testdata(spark, sf_dir, "supplier")
    bad = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(
            F.broadcast(part.filter(F.col("p_brand") != "BRAND_1")),
            li.l_partkey == part.p_partkey,
        )
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .filter(F.col("supplier_cnt") >= 8)
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type")
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


@register(
    "range_band_join",
    """
    WITH bands(band, lo, hi) AS (
        VALUES ('small', 0.0, 100000.0),
               ('medium', 100000.0, 300000.0),
               ('large', 300000.0, 1000000.0)
    )
    SELECT b.band,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
    FROM orders o JOIN bands b
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    ORDER BY b.band
    """,
)
def range_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join: rows matched to value intervals — the binning
    join Spark executes as a broadcast nested loop over the tiny band
    table (at scale: pre-compute the band with width_bucket/CASE to keep
    it a narrow map; the join form generalizes to overlapping bands)."""
    orders = load_testdata(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [("small", 0.0, 100000.0), ("medium", 100000.0, 300000.0), ("large", 300000.0, 1000000.0)],
        ["band", "lo", "hi"],
    )
    return (
        orders.join(
            F.broadcast(bands),
            (orders.o_totalprice >= bands.lo) & (orders.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("band")
    )


@register(
    "array_regex_functions",
    r"""
    WITH t AS (SELECT doc_id, text, string_split_regex(text, '\s+') AS toks
               FROM documents WHERE doc_id < 20)
    SELECT doc_id,
           CAST(list_contains(toks, 'data') AS BOOLEAN) AS has_data,
           CAST(len(list_filter(toks, x -> length(x) > 4)) AS BIGINT) AS n_long_tokens,
           toks[1] AS first_tok,
           toks[len(toks)] AS last_tok,
           CAST(len(regexp_extract_all(text, '[a-z]+a[a-z]*')) AS BIGINT) AS n_a_words,
           array_to_string(list_slice(toks, 1, 3), '_') AS head3
    FROM t
    ORDER BY doc_id
    """,
)
def array_regex_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array + regex function surface: contains / filter / head / tail /
    slice / regexp_extract_all — the collection API a training pipeline
    leans on between tokenize and featurize."""
    docs = load_testdata(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    toks = F.split(F.col("text"), r"\s+")
    t = docs.select("doc_id", "text", toks.alias("toks"))
    return t.select(
        "doc_id",
        F.array_contains("toks", "data").alias("has_data"),
        F.size(F.filter("toks", lambda x: F.length(x) > 4)).cast("bigint").alias("n_long_tokens"),
        F.element_at("toks", 1).alias("first_tok"),
        F.element_at("toks", -1).alias("last_tok"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+a[a-z]*"), 0)).cast("bigint").alias("n_a_words"),
        F.concat_ws("_", F.slice("toks", 1, 3)).alias("head3"),
    ).orderBy("doc_id")


@register(
    "q13_customer_order_distribution",
    """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
        SELECT c.c_custkey,
               CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: outer-join distribution histogram.  The LEFT
    join's extra non-key predicate must live in the JOIN condition (a
    WHERE would drop the zero-order customers the histogram exists to
    count).  Two aggregations, but the second groups ~50 distinct
    counts — its Exchange is trivial; the first shuffles on c_custkey
    only because the join itself already did (AQE reuses the
    partitioning)."""
    customer = load_testdata(spark, sf_dir, "customer")
    orders = load_testdata(spark, sf_dir, "orders")
    per_cust = (
        customer.join(
            orders,
            (customer.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy(customer.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "q17_small_quantity_revenue",
    """
    WITH brand_lines AS (
        SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand = 'BRAND_1'
    ),
    avg_qty AS (
        SELECT l_partkey, 0.2 * AVG(l_quantity) AS threshold
        FROM brand_lines GROUP BY l_partkey
    )
    SELECT CAST(CAST(SUM(CAST(b.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM brand_lines b JOIN avg_qty a ON b.l_partkey = a.l_partkey
    WHERE b.l_quantity < a.threshold
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: per-key average threshold applied back to the
    same rows.  The textbook decorrelation (aggregate + join back, the
    oracle's CTE form) makes the part-filtered lineitem slice feed TWO
    consumers — at 100 TB that is two lineitem scans (Spark won't reuse
    the subtree: one side aggregates).  The window formulation computes
    the per-partkey AVG with a WINDOW over the single broadcast-pruned
    scan: one scan, ONE Exchange(l_partkey), no self-join.  Quantities
    are integral doubles, so AVG is exact and the 0.2× threshold
    compares identically in both engines."""
    part = load_testdata(spark, sf_dir, "part").filter(
        F.col("p_brand") == "BRAND_1"
    ).select("p_partkey")
    li = load_testdata(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    brand_lines = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).drop(
        "p_partkey"
    )
    w = Window.partitionBy("l_partkey")
    return (
        brand_lines.withColumn(
            "threshold", F.lit(0.2) * F.avg("l_quantity").over(w)
        )
        .filter(F.col("l_quantity") < F.col("threshold"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast("double")
                / F.lit(7.0)
            )
            .cast("double")
            .alias("avg_yearly"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "q18_large_volume_customers",
    """
    WITH big AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 300
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           strftime(CAST(o.o_orderdate AS TIMESTAMP), '%Y-%m-%d') AS orderdate,
           o.o_totalprice AS totalprice,
           big.sum_qty
    FROM big
    JOIN orders o ON big.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate driving a star probe.
    The big-order set is tiny after the >300 filter (sub-percent of
    orders), so it is the BROADCAST side into orders — the plan never
    shuffles orders or customer on the join key.  At 100 TB the same
    holds: the aggregate shrinks lineitem by ~4× lines/order, the
    HAVING by another ~100×, so the broadcast stays MB-sized."""
    li = load_testdata(spark, sf_dir, "lineitem")
    orders = load_testdata(spark, sf_dir, "orders")
    customer = load_testdata(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("sq"))
        .filter(F.col("sq") > 300)
        .select("l_orderkey", F.col("sq").cast("double").alias("sum_qty"))
    )
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_totalprice").alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.col("totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@register(
    "q9_product_profit_adapted",
    """
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))
                    - CAST(p.p_retailprice AS DECIMAL(12,2)) * CAST(l.l_quantity AS DECIMAL(12,2)) * CAST(0.10 AS DECIMAL(4,2))
               ) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q9_product_profit_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape, adapted: the corpus has no partsupp table, so
    ps_supplycost is proxied by 10% of p_retailprice (cost model noted,
    not hidden — the PLAN shape is the thing under test: a five-table
    join where part/supplier/nation broadcast and lineitem-orders is the
    one shuffle pair).  All arithmetic stays in exact decimals until the
    final DOUBLE cast."""
    li = load_testdata(spark, sf_dir, "lineitem")
    part = load_testdata(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    supplier = load_testdata(spark, sf_dir, "supplier")
    nation = load_testdata(spark, sf_dir, "nation")
    orders = load_testdata(spark, sf_dir, "orders")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    cost = (
        F.col("p_retailprice").cast("decimal(12,2)")
        * F.col("l_quantity").cast("decimal(12,2)")
        * F.lit("0.10").cast("decimal(4,2)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(price * (F.lit(1) - disc) - cost).cast("double").alias("profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


@register(
    "json_functions",
    """
    WITH j AS (
        SELECT p_partkey,
               '{"brand":"' || p_brand || '","size":' || CAST(p_size AS VARCHAR) ||
               ',"tags":["' || lower(p_type) || '","' || p_name || '"]}' AS doc
        FROM part WHERE p_partkey < 80
    )
    SELECT p_partkey,
           json_extract_string(doc, '$.brand') AS brand,
           CAST(json_extract(doc, '$.size') AS BIGINT) AS size,
           json_extract_string(doc, '$.tags[0]') AS tag0,
           CAST(json_array_length(json_extract(doc, '$.tags')) AS BIGINT) AS n_tags
    FROM j
    ORDER BY p_partkey
    """,
)
def json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured surface: JSON path extraction over an in-row
    document.  The document is CONSTRUCTED by identical string concat on
    both sides (engine-native to_json key order/whitespace differ, so
    serializer output is never compared — only parse results).
    get_json_object stays JVM-side (Jackson) — no UDF."""
    part = load_testdata(spark, sf_dir, "part").filter(F.col("p_partkey") < 80)
    doc = F.concat(
        F.lit('{"brand":"'), F.col("p_brand"),
        F.lit('","size":'), F.col("p_size").cast("string"),
        F.lit(',"tags":["'), F.lower(F.col("p_type")),
        F.lit('","'), F.col("p_name"), F.lit('"]}'),
    )
    j = part.select("p_partkey", doc.alias("doc"))
    return (
        j.select(
            "p_partkey",
            F.get_json_object("doc", "$.brand").alias("brand"),
            F.get_json_object("doc", "$.size").cast("bigint").alias("size"),
            F.get_json_object("doc", "$.tags[0]").alias("tag0"),
            F.json_array_length(F.get_json_object("doc", "$.tags"))
            .cast("bigint")
            .alias("n_tags"),
        )
        .orderBy("p_partkey")
    )
