"""Analytic / windowed / event-time queries.

The reference has zero window functions (SURVEY §2.8) — its surrogate-key
generation is the textbook ``row_number`` use-case done the fragile way
(hazard H2) — and its only "stream" is rerunnable batch (§2.9).  This
module supplies the idiomatic Spark coverage for both gaps plus the
event-table operators a training-data pipeline needs (sessionization,
latest-per-key dedup, JSON extraction, time-bucket rollups).

Hash-stability rules are the same as ``queries_core`` (decimals for
sums, BIGINT for integer aggregates, epoch-microsecond BIGINTs instead
of printed timestamps, unique tie-breakers in every window ORDER BY).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .io import load_testdata
from .queries_core import register

# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@register(
    "running_total_by_supplier",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) OVER (
                PARTITION BY l_suppkey
                ORDER BY l_shipdate, l_orderkey, l_linenumber
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_qty
    FROM lineitem
    WHERE l_suppkey <= 5
    ORDER BY l_suppkey, l_orderkey, l_linenumber
    """,
)
def running_total_by_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_testdata(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 5)
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        li.select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            F.sum(F.col("l_quantity").cast("decimal(12,2)"))
            .over(w)
            .cast("double")
            .alias("running_qty"),
        )
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    )


@register(
    "topk_parts_per_brand",
    """
    SELECT p_brand, p_partkey, p_retailprice AS retailprice, rk
    FROM (
        SELECT p_brand, p_partkey, p_retailprice,
               CAST(ROW_NUMBER() OVER (
                    PARTITION BY p_brand
                    ORDER BY p_retailprice DESC, p_partkey ASC) AS INTEGER) AS rk
        FROM part
    )
    WHERE rk <= 3
    ORDER BY p_brand, rk
    """,
)
def topk_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_testdata(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey").asc()
    )
    return (
        part.select(
            "p_brand",
            "p_partkey",
            "p_retailprice",
            F.row_number().over(w).cast("int").alias("rk"),
        )
        .filter(F.col("rk") <= 3)
        .select(
            "p_brand",
            "p_partkey",
            F.col("p_retailprice").alias("retailprice"),
            "rk",
        )
        .orderBy("p_brand", "rk")
    )


@register(
    "price_delta_vs_prev_order",
    """
    SELECT o_custkey, o_orderkey,
           o_totalprice AS totalprice,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) -
                LAG(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
                    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
                AS DOUBLE) AS delta_prev
    FROM orders
    WHERE o_custkey <= 50
    ORDER BY o_custkey, o_orderkey
    """,
)
def price_delta_vs_prev_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_testdata(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 50)
    price = F.col("o_totalprice").cast("decimal(12,2)")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.col("o_totalprice").alias("totalprice"),
            (price - F.lag(price).over(w)).cast("double").alias("delta_prev"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# Scalar subquery (multiply-compare keeps arithmetic exact in decimal —
# dividing decimals has engine-specific result scales)
# ---------------------------------------------------------------------------


@register(
    "orders_above_avg_price",
    """
    SELECT o_orderkey, o_totalprice AS totalprice
    FROM orders
    WHERE CAST(o_totalprice AS DECIMAL(12,2)) * (SELECT CAST(COUNT(*) AS BIGINT) FROM orders)
          > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(28,2)) FROM orders)
    ORDER BY o_orderkey
    """,
)
def orders_above_avg_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows above the global average, in exact integer/decimal algebra
    (price·n > Σprice avoids division).  The two scalar subqueries of
    the SQL form each re-scan orders (3 fact scans); here BOTH scalars
    come from ONE aggregation pass, broadcast back — 2 scans total, and
    the broadcast side is a single row."""
    orders = load_testdata(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(12,2)")
    stats = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(price).cast("decimal(28,2)").alias("s"),
    )
    return (
        orders.join(F.broadcast(stats))
        .filter(price * F.col("n") > F.col("s"))
        .select("o_orderkey", F.col("o_totalprice").alias("totalprice"))
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# Grouping-set aggregates (pivot / rollup) — absent from the reference,
# standard OLAP surface
# ---------------------------------------------------------------------------


@register(
    "pivot_returnflag_status",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_o,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_f
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def pivot_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_testdata(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(qty))
    )
    return (
        piv.select(
            "l_returnflag",
            F.col("O").cast("double").alias("qty_o"),
            F.col("F").cast("double").alias("qty_f"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "rollup_revenue",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_testdata(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


# ---------------------------------------------------------------------------
# Event-table operators (events: event_id, ts, user_id, event_type, value,
# props JSON-string).  Timestamps are compared as epoch microseconds —
# engine-neutral, no format-string parity games.
# ---------------------------------------------------------------------------


@register(
    "events_hourly_rollup",
    """
    SELECT CAST(epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS hour_us,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY hour_us, event_type
    """,
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_testdata(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.unix_micros(F.date_trunc("hour", F.col("ts"))).alias("hour_us"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("hour_us", "event_type")
    )


@register(
    "events_sessionization",
    """
    WITH gaps AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        FROM events
    ), flagged AS (
        SELECT user_id, event_id, ts_us,
               CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM gaps
    ), sessions AS (
        SELECT user_id, event_id, ts_us,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(session_id AS BIGINT) AS session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(ts_us) AS BIGINT) AS session_start_us,
           CAST(MAX(ts_us) AS BIGINT) AS session_end_us
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session gap = 30 min, the gap rule Spark's ``session_window``
    applies, computed as a batch running sum over gap flags."""
    ev = load_testdata(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts"))
    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id", "event_id", ts_us.alias("ts_us"),
        F.lag(ts_us).over(w_order).alias("prev_us"),
    )
    flagged = gaps.withColumn(
        "new_session",
        F.when(
            F.col("prev_us").isNull() | (F.col("ts_us") - F.col("prev_us") > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(w_cum))
    return (
        sessions.groupBy(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.col("session_id").cast("bigint").alias("session_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts_us").cast("bigint").alias("session_start_us"),
            F.max("ts_us").cast("bigint").alias("session_end_us"),
        )
        .orderBy("user_id", "session_id")
    )


@register(
    "events_json_extract",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_testdata(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.groupBy("event_type")
        .agg(F.sum(k).cast("bigint").alias("sum_k"), F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


@register(
    "events_latest_per_user",
    """
    SELECT user_id, event_id, event_type,
           CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_us
    FROM (
        SELECT user_id, event_id, event_type, ts,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk
        FROM events
    )
    WHERE rk = 1
    ORDER BY user_id
    """,
)
def events_latest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-event-per-key dedup — the keep-newest pattern every
    training-data ingestion pipeline needs (CDC compaction)."""
    ev = load_testdata(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# As-of join — custom temporal operator (see operators/asof.py for the
# union-window formulation and its scale rationale)
# ---------------------------------------------------------------------------


@register(
    "events_asof_last_purchase",
    """
    WITH ev AS (
        SELECT event_id, user_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               value
        FROM events
    ),
    tagged AS (
        SELECT user_id AS k, ts_us AS wts, 0 AS side, event_id AS tie,
               ts_us AS p_ts, value AS p_value,
               NULL::BIGINT AS event_id, NULL::BIGINT AS l_ts
        FROM ev WHERE event_type = 'purchase'
        UNION ALL
        SELECT user_id AS k, ts_us AS wts, 1 AS side, 0 AS tie,
               NULL::BIGINT AS p_ts, NULL::DOUBLE AS p_value,
               event_id, ts_us AS l_ts
        FROM ev WHERE event_type = 'click'
    ),
    matched AS (
        SELECT *,
               last_value(p_ts IGNORE NULLS) OVER w AS last_purchase_ts_us,
               last_value(p_value IGNORE NULLS) OVER w AS last_purchase_value
        FROM tagged
        WINDOW w AS (PARTITION BY k ORDER BY wts, side, tie
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, CAST(k AS BIGINT) AS user_id, l_ts AS ts_us,
           last_purchase_ts_us, last_purchase_value
    FROM matched WHERE side = 1
    ORDER BY event_id
    """,
)
def events_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every click, the user's most recent purchase at-or-before it
    (backward as-of join, composed scalably — one shuffle, no range
    join).  Both sides are subsets of the SAME events table, so the
    same-source fast path does it in ONE scan (the generic two-frame
    operator unions two filtered branches = two full fact scans; see
    ``operators/asof.py::asof_join_same_source``)."""
    from .operators.asof import asof_join_same_source

    ev = load_testdata(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "value",
    )
    out = asof_join_same_source(
        ev,
        on="user_id",
        ts="ts_us",
        is_left=F.col("event_type") == "click",
        is_right=F.col("event_type") == "purchase",
        left_cols=["event_id", "user_id", "ts_us"],
        payload={"last_purchase_ts_us": "ts_us", "last_purchase_value": "value"},
        right_tiebreak="event_id",
    )
    return out.select(
        "event_id",
        F.col("user_id").cast("bigint").alias("user_id"),
        "ts_us",
        "last_purchase_ts_us",
        "last_purchase_value",
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Range-frame rolling aggregate (time-interval window)
# ---------------------------------------------------------------------------


@register(
    "events_rolling_1h_value",
    """
    WITH ev AS (
        SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               CAST(value AS DECIMAL(12,2)) AS value
        FROM events
    )
    SELECT event_id, user_id, ts_us,
           CAST(SUM(value) OVER (
                PARTITION BY user_id ORDER BY ts_us
                RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS rolling_1h_value
    FROM ev
    ORDER BY event_id
    """,
)
def events_rolling_1h_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_testdata(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.col("value").cast("decimal(12,2)").alias("value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            "ts_us",
            F.sum("value").over(w).cast("double").alias("rolling_1h_value"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Set operations: INTERSECT / EXCEPT (distinct semantics)
# ---------------------------------------------------------------------------


@register(
    "segments_intersect_except",
    """
    WITH b AS (SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'),
         m AS (SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY')
    SELECT c_nationkey, 'both' AS tag FROM (SELECT * FROM b INTERSECT SELECT * FROM m)
    UNION ALL
    SELECT c_nationkey, 'building_only' AS tag FROM (SELECT * FROM b EXCEPT SELECT * FROM m)
    ORDER BY tag, c_nationkey
    """,
)
def segments_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_testdata(spark, sf_dir, "customer")

    def seg(s: str) -> DataFrame:
        return customer.filter(F.col("c_mktsegment") == s).select("c_nationkey").distinct()

    b, m = seg("BUILDING"), seg("MACHINERY")
    both = b.intersect(m).withColumn("tag", F.lit("both"))
    only = b.exceptAll(m).withColumn("tag", F.lit("building_only"))
    return both.unionByName(only).orderBy("tag", "c_nationkey")


# ---------------------------------------------------------------------------
# Funnel analysis — ordered multi-step conversion (signup → click →
# purchase), the canonical product-analytics operator
# ---------------------------------------------------------------------------


@register(
    "events_funnel",
    """
    WITH ev AS (
        SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        FROM events
    ),
    s1 AS (SELECT user_id, MIN(ts_us) AS t FROM ev WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(e.ts_us) AS t
           FROM ev e JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts_us > s1.t GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(e.ts_us) AS t
           FROM ev e JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts_us > s2.t GROUP BY e.user_id)
    SELECT 'step1_signup' AS step, CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
    UNION ALL
    SELECT 'step2_click' AS step, CAST(COUNT(*) AS BIGINT) AS n_users FROM s2
    UNION ALL
    SELECT 'step3_purchase' AS step, CAST(COUNT(*) AS BIGINT) AS n_users FROM s3
    ORDER BY step
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-step min-funnel in ONE scan + ONE Exchange(user_id).

    The step-by-step formulation (filter each stage, join back the
    previous stage's min) scans events once PER STAGE.  Instead, a
    window chain over the ts-ordered stream computes, per row, the
    running min signup ts, then the running min of clicks qualified
    against it, then purchases qualified against that.  Running-min
    qualification is exact for min-funnels with strict '>':
    ts-ordering guarantees any globally earlier stage-k event is
    already inside the running window at the stage-k+1 row, and equal
    timestamps never qualify under '>' either way.  All three windows
    and the per-user aggregate share one partitioning, so Catalyst
    plans a single shuffle."""
    ev = load_testdata(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_ = lambda t: F.col("event_type") == t  # noqa: E731
    run_signup = F.min(F.when(is_("signup"), F.col("ts_us"))).over(w)
    staged = ev.withColumn(
        "q_click",
        F.when(is_("click") & (F.col("ts_us") > run_signup), F.col("ts_us")),
    ).withColumn("run_signup", run_signup)
    run_click = F.min("q_click").over(w)
    staged = staged.withColumn(
        "q_purchase",
        F.when(is_("purchase") & (F.col("ts_us") > run_click), F.col("ts_us")),
    )
    per_user = staged.groupBy("user_id").agg(
        F.min(F.when(is_("signup"), F.col("ts_us"))).alias("t1"),
        F.min("q_click").alias("t2"),
        F.min("q_purchase").alias("t3"),
    )
    counts = per_user.agg(
        F.count("t1").alias("step1_signup"),
        F.count("t2").alias("step2_click"),
        F.count("t3").alias("step3_purchase"),
    )
    return (
        counts.unpivot([], ["step1_signup", "step2_click", "step3_purchase"],
                       "step", "n_users")
        .select("step", F.col("n_users").cast("bigint").alias("n_users"))
        .orderBy("step")
    )


@register(
    "q10_returned_item_losses",
    """
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_item_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items per customer."""
    customer = load_testdata(spark, sf_dir, "customer")
    orders = load_testdata(spark, sf_dir, "orders")
    li = load_testdata(spark, sf_dir, "lineitem")
    nation = load_testdata(spark, sf_dir, "nation")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), F.col("o_custkey") == customer.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "q12_shipmode_priority",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate < o_orderdate + INTERVAL 90 DAY
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: priority mix of lines shipped within 90 days."""
    li = load_testdata(spark, sf_dir, "lineitem")
    orders = load_testdata(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") < F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "unpivot_measures",
    """
    SELECT o_orderkey, measure, CAST(val AS DOUBLE) AS val
    FROM (
        SELECT o_orderkey,
               CAST(o_totalprice AS DECIMAL(14,2)) AS totalprice,
               CAST(o_custkey AS DECIMAL(14,2)) AS custkey
        FROM orders WHERE o_orderkey < 30
    ) UNPIVOT (val FOR measure IN (totalprice, custkey))
    ORDER BY o_orderkey, measure
    """,
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (stack) — the melt operation feature stores
    need; Spark spells it ``stack``/``unpivot``."""
    orders = load_testdata(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 30)
    wide = orders.select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(14,2)").alias("totalprice"),
        F.col("o_custkey").cast("decimal(14,2)").alias("custkey"),
    )
    return (
        wide.unpivot("o_orderkey", ["totalprice", "custkey"], "measure", "val")
        .withColumn("val", F.col("val").cast("double"))
        .orderBy("o_orderkey", "measure")
    )


@register(
    "events_value_anomalies",
    """
    WITH ev AS (
        SELECT event_id, user_id, CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    stats AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s,
               CAST(SUM(cents * cents) AS BIGINT) AS ss
        FROM ev GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, e.cents,
           CAST(st.n * e.cents - st.s AS BIGINT) AS dev_scaled
    FROM ev e JOIN stats st ON e.user_id = st.user_id
    WHERE st.n >= 2
      AND (st.n * e.cents - st.s) * (st.n * e.cents - st.s)
          > 4 * (st.n * st.ss - st.s * st.s)
    ORDER BY e.event_id
    """,
)
def events_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user outlier detection with EXACT integer arithmetic:
    |x - mean| > 2·stddev rewritten shuffle-free of floats as
    (n·x − Σ)² > 4·(n·Σx² − Σ²) — both sides integers, so the oracle
    matches exactly (float stddev formulas would not)."""
    ev = load_testdata(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    # per-user stats as a WINDOW over the single scan, not an
    # aggregate-and-join-back (which scans events twice — the two
    # consumers' subtrees differ so the exchange is never reused):
    # one scan, one Exchange(user_id)
    w = Window.partitionBy("user_id")
    ev = ev.select(
        "event_id",
        "user_id",
        "cents",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("cents").over(w).cast("bigint").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).over(w).cast("bigint").alias("ss"),
    )
    dev = F.col("n") * F.col("cents") - F.col("s")
    var_n2 = F.col("n") * F.col("ss") - F.col("s") * F.col("s")
    return (
        ev.filter((F.col("n") >= 2) & (dev * dev > 4 * var_n2))
        .select("event_id", "user_id", "cents", dev.cast("bigint").alias("dev_scaled"))
        .orderBy("event_id")
    )


@register(
    "q7_nation_trade_volume",
    """
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS ship_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS volume
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation nc ON c.c_nationkey = nc.n_nationkey
    JOIN nation ns ON s.s_nationkey = ns.n_nationkey
    WHERE ns.n_name < nc.n_name
    GROUP BY ns.n_name, nc.n_name, CAST(year(l.l_shipdate) AS INTEGER)
    ORDER BY supp_nation, cust_nation, ship_year
    """,
)
def q7_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between (supplier, customer)
    nation pairs by year — two broadcast nation lookups on opposite
    sides of the fact."""
    li = load_testdata(spark, sf_dir, "lineitem")
    orders = load_testdata(spark, sf_dir, "orders")
    customer = load_testdata(spark, sf_dir, "customer")
    supplier = load_testdata(spark, sf_dir, "supplier")
    nation = load_testdata(spark, sf_dir, "nation")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    nc = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    ns = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    return (
        li.join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")), li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nk"))
        .filter(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("volume"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


@register(
    "q8_market_share",
    """
    WITH volumes AS (
        SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
               CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS volume,
               ns.n_name AS supp_nation
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation ns ON s.s_nationkey = ns.n_nationkey
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume END) AS DOUBLE) AS nation_volume,
           CAST(SUM(volume) AS DOUBLE) AS total_volume
    FROM volumes
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of yearly volume (numerator
    and denominator as exact decimals; the ratio is the caller's
    division — decimal division scales differ between engines)."""
    li = load_testdata(spark, sf_dir, "lineitem")
    orders = load_testdata(spark, sf_dir, "orders")
    supplier = load_testdata(spark, sf_dir, "supplier")
    nation = load_testdata(spark, sf_dir, "nation")
    vol = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        li.join(orders.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")), li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("n_name") == "NATION_3", vol))
            .cast("double")
            .alias("nation_volume"),
            F.sum(vol).cast("double").alias("total_volume"),
        )
        .orderBy("o_year")
    )


@register(
    "q4_order_priority_check",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS over the fact, realized as a
    left-semi join with a non-key predicate."""
    orders = load_testdata(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_testdata(spark, sf_dir, "lineitem")
    late = li.select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            late,
            (orders.o_orderkey == late.l_orderkey)
            & (late.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q14_promo_revenue",
    """
    SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
           CAST(SUM(CASE WHEN p_type LIKE 'TYPE_1%'
                    THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) END)
                AS DOUBLE) AS promo_revenue,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))))
                AS DOUBLE) AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY CAST(year(l_shipdate) AS INTEGER)
    ORDER BY ship_year
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo-class revenue vs total per ship year
    (numerator/denominator exact; ratio left to the caller)."""
    li = load_testdata(spark, sf_dir, "lineitem")
    part = load_testdata(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        li.join(F.broadcast(part.select("p_partkey", "p_type")), li.l_partkey == F.col("p_partkey"))
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.sum(F.when(F.col("p_type").like("TYPE_1%"), rev))
            .cast("double")
            .alias("promo_revenue"),
            F.sum(rev).cast("double").alias("total_revenue"),
        )
        .orderBy("ship_year")
    )


@register(
    "q15_top_supplier",
    """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS total_revenue
        FROM lineitem
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: aggregate view + scalar-max self-reference.
    Decimal revenue makes the MAX equality exact (the float version of
    this query is notoriously engine-divergent)."""
    li = load_testdata(spark, sf_dir, "lineitem")
    supplier = load_testdata(spark, sf_dir, "supplier")
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
            )
            .cast("double")
            .alias("total_revenue")
        )
    )
    # rev (per-supplier aggregate, |suppliers| rows) feeds two consumers
    # — the scalar max and the probe join.  Unpersisted, each would
    # re-run the full lineitem aggregation (two fact scans at 100 TB);
    # persisting the SMALL aggregate keeps one pass and both the max
    # and the join read the cache.
    from pyspark import StorageLevel

    rev = rev.persist(StorageLevel.MEMORY_AND_DISK)
    mx = rev.agg(F.max("total_revenue").alias("m"))
    return (
        supplier.join(rev, supplier.s_suppkey == rev.supplier_no)
        .join(F.broadcast(mx), rev.total_revenue == F.col("m"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q22_inactive_rich_customers",
    """
    WITH avg_bal AS (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DECIMAL(28,2)) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM customer WHERE c_acctbal > 0
    )
    SELECT substr(c_name, 1, 9) AS name_prefix,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
    FROM customer c, avg_bal
    WHERE CAST(c_acctbal AS DECIMAL(12,2)) * avg_bal.n > avg_bal.s
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderstatus = 'O')
    GROUP BY substr(c_name, 1, 9)
    ORDER BY name_prefix
    """,
)
def q22_inactive_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average balance (multiply-compare, exact)
    AND no OPEN orders (anti-join), grouped by a name-prefix 'country
    code' (the corpus has no phone column; every-customer-has-orders at
    this SF made the literal no-orders variant empty)."""
    customer = load_testdata(spark, sf_dir, "customer")
    orders = load_testdata(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    bal = F.col("c_acctbal").cast("decimal(12,2)")
    avg_bal = customer.filter(F.col("c_acctbal") > 0).agg(
        F.sum(bal).cast("decimal(28,2)").alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        customer.crossJoin(F.broadcast(avg_bal))
        .filter(bal * F.col("n") > F.col("s"))
        .join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(F.substring("c_name", 1, 9).alias("name_prefix"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(bal).cast("double").alias("totacctbal"),
        )
        .orderBy("name_prefix")
    )


@register(
    "q21_waiting_orders",
    """
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name
    """,
)
def q21_waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 ('last supplier to ship') in ONE lineitem scan.

    The correlated EXISTS + NOT EXISTS form scans lineitem three times
    (l1 + the semi/anti rewrites).  Both predicates are per-order facts
    expressible with windows over one ts-partitioned pass:

    - EXISTS other-supplier  ⟺  min(suppkey) ≠ max(suppkey) in order
    - NOT EXISTS later other-supplier shipment  ⟺
      l1.shipdate ≥ max shipdate among OTHER suppliers, via the two-max
      trick: M1 = order max, A = one deterministic achiever
      (struct-max), M2 = max over rows of suppliers ≠ A; the "other
      max" is M2 for A's rows and M1 otherwise (correct for any
      achiever choice — see inline proof).

    All windows share Exchange(l_orderkey); the orders join reuses that
    partitioning, supplier broadcasts.  The correlated-subquery PLAN
    shape stays demonstrated by q16/q22 (SQL-string form)."""
    li = load_testdata(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load_testdata(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    supplier = load_testdata(spark, sf_dir, "supplier")

    # One arbitrary max-shipdate achiever A suffices (no achiever-set
    # materialization): if a second supplier also achieves M1 then
    # m2 == m1 and A's "other max" is still M1; for s != A the other
    # max includes A's M1 row.  Either way the predicate is independent
    # of WHICH achiever is picked, so the deterministic struct-max
    # (largest suppkey among achievers) is safe — and three plain max
    # windows are far cheaper than per-row collect_set state.
    wo = Window.partitionBy("l_orderkey")
    step1 = li.select(
        "l_orderkey",
        "l_suppkey",
        "l_shipdate",
        (
            F.min("l_suppkey").over(wo) != F.max("l_suppkey").over(wo)
        ).alias("multi_supp"),
        F.max("l_shipdate").over(wo).alias("m1"),
        F.max(F.struct("l_shipdate", "l_suppkey")).over(wo)["l_suppkey"].alias(
            "achiever"
        ),
    )
    step2 = step1.select(
        "*",
        F.max(
            F.when(
                F.col("l_suppkey") != F.col("achiever"), F.col("l_shipdate")
            )
        ).over(wo).alias("m2"),
    )
    max_other = F.when(
        F.col("l_suppkey") == F.col("achiever"), F.col("m2")
    ).otherwise(F.col("m1"))
    qualified = step2.filter(
        F.col("multi_supp")
        & (max_other.isNull() | (F.col("l_shipdate") >= max_other))
    )
    return (
        qualified.join(orders, qualified.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supplier), qualified.l_suppkey == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
    )


@register(
    "window_rank_suite",
    """
    SELECT o_orderkey,
           o_orderstatus,
           CAST(ntile(4) OVER w AS INTEGER) AS price_quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           LEAD(o_orderkey) OVER w AS next_orderkey,
           nth_value(o_orderkey, 2) OVER (
               PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS second_orderkey
    FROM orders
    WHERE o_orderkey <= 500
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_orderstatus, o_totalprice, o_orderkey
    """,
)
def window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-family window breadth: ntile / percent_rank / cume_dist /
    lead / nth_value in one pass — one Exchange on the partition key,
    one sort, five functions sharing the frame.  percent_rank and
    cume_dist are exact small-integer ratios, so the doubles agree
    bitwise across engines; every ORDER BY carries the unique
    o_orderkey tiebreak (hash-stability rule)."""
    orders = load_testdata(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 500)
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    wrows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        orders.select(
            "o_orderkey",
            "o_orderstatus",
            F.ntile(4).over(w).alias("price_quartile"),
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
            F.lead("o_orderkey").over(w).alias("next_orderkey"),
            F.nth_value("o_orderkey", 2).over(wrows).alias("second_orderkey"),
        )
        .orderBy("o_orderstatus", F.col("o_orderkey"))
    )


@register(
    "stats_aggregates_exact",
    """
    WITH t AS (
        SELECT l_returnflag,
               CAST(l_quantity AS DECIMAL(12,2)) AS x,
               CAST(l_discount AS DECIMAL(4,2)) AS y
        FROM lineitem
    ),
    s AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(x*y) AS sxy
        FROM t GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CAST((n * sxx - sx * sx) AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)) AS var_qty,
           sqrt(CAST((n * sxx - sx * sx) AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1))) AS stddev_qty,
           CAST(n * sxy - sx * sy AS DOUBLE) /
             sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)) AS corr_qty_disc
    FROM s
    ORDER BY l_returnflag
    """,
)
def stats_aggregates_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance / stddev / correlation via the EXPLICIT sum-of-squares
    formulas in exact DECIMAL, cast to DOUBLE only at the final
    division.  The engines' native var_samp/corr use different
    streaming-merge update formulas whose double rounding differs in the
    last bits — not hash-stable; identical exact integers pushed through
    identical double expressions are.  Map-side combinable (all five
    sums partial-aggregate), one Exchange."""
    li = load_testdata(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(12,2)")
    y = F.col("l_discount").cast("decimal(4,2)")
    s = li.select("l_returnflag", x.alias("x"), y.alias("y")).groupBy(
        "l_returnflag"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    var = (n * sxx - sx * sx).cast("double") / (n.cast("double") * (n - 1))
    corr = (n * sxy - sx * sy).cast("double") / F.sqrt(
        (n * sxx - sx * sx).cast("double") * (n * syy - sy * sy).cast("double")
    )
    return s.select(
        "l_returnflag",
        "n",
        var.alias("var_qty"),
        F.sqrt(var).alias("stddev_qty"),
        corr.alias("corr_qty_disc"),
    ).orderBy("l_returnflag")


@register(
    "null_safe_equality",
    """
    WITH e AS (
        SELECT event_id, user_id,
               nullif(event_type, 'view') AS et
        FROM events WHERE event_id < 200
    )
    SELECT a.event_id AS id_a, b.event_id AS id_b
    FROM e a JOIN e b
      ON a.user_id = b.user_id
     AND a.et IS NOT DISTINCT FROM b.et
     AND a.event_id < b.event_id
    ORDER BY id_a, id_b
    """,
)
def null_safe_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL
    matches NULL — the semantics plain '=' silently drops.  Spark plans
    eqNullSafe as a HASH join key (coalesce-wrapped), so this stays an
    equi-join, not a nested loop."""
    ev = (
        load_testdata(spark, sf_dir, "events")
        .filter(F.col("event_id") < 200)
        .select(
            "event_id",
            "user_id",
            F.nullif("event_type", F.lit("view")).alias("et"),
        )
    )
    a = ev.select(
        F.col("event_id").alias("id_a"), F.col("user_id").alias("u_a"), F.col("et").alias("et_a")
    )
    b = ev.select(
        F.col("event_id").alias("id_b"), F.col("user_id").alias("u_b"), F.col("et").alias("et_b")
    )
    return (
        a.join(
            b,
            (F.col("u_a") == F.col("u_b"))
            & F.col("et_a").eqNullSafe(F.col("et_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Partsupp-dependent TPC-H shapes, adapted (the corpus has no partsupp
# table — supply facts are DERIVED from lineitem, which preserves the
# query *shapes*: correlated-min, value-share HAVING, semi-join nest)
# ---------------------------------------------------------------------------


@register(
    "q2_min_cost_supplier",
    """
    WITH supply AS (
        SELECT l_partkey AS partkey, l_suppkey AS suppkey,
               MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS cost
        FROM lineitem GROUP BY 1, 2
    ), eur AS (
        SELECT s_suppkey, s_name, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    ), ranked AS (
        SELECT p_partkey, p_brand, s_name, n_name, cost,
               MIN(cost) OVER (PARTITION BY p_partkey) AS mc
        FROM supply
        JOIN eur ON suppkey = s_suppkey
        JOIN part ON p_partkey = partkey
        WHERE p_size <= 15
    )
    SELECT p_partkey, p_brand, s_name, n_name,
           CAST(cost AS DOUBLE) AS min_cost
    FROM ranked WHERE cost = mc
    ORDER BY p_partkey, s_name
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (correlated min-cost supplier per part), adapted:
    supply cost is MIN(l_extendedprice) per (part, supplier) derived
    from lineitem (no partsupp in the corpus; MIN avoids division, so
    the decimal compare is engine-exact).

    Scale shape: ONE wide shuffle — an explicit repartition on the part
    key feeds both the (part, supplier) aggregation AND the window MIN
    (hash partitioning on a SUBSET of the group keys satisfies the
    aggregation's clustered distribution, and the window partitions by
    that same subset; Catalyst left alone would plan an Exchange on the
    full grouping key and a SECOND on p_partkey for the window).
    Tradeoff made explicit: repartitioning raw rows forfeits map-side
    combine, but (part, supplier) pairs are nearly unique per lineitem
    row, so the combine saved almost nothing while the second shuffle
    was full-size.  Supplier/nation/region and the size-filtered part
    side are broadcast.
    """
    li = load_testdata(spark, sf_dir, "lineitem")
    supplier = load_testdata(spark, sf_dir, "supplier")
    nation = load_testdata(spark, sf_dir, "nation")
    region = load_testdata(spark, sf_dir, "region")
    part = load_testdata(spark, sf_dir, "part").filter(F.col("p_size") <= 15)

    supply = (
        li.repartition(F.col("l_partkey"))
        .groupBy(F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey"))
        .agg(F.min(F.col("l_extendedprice").cast("decimal(12,2)")).alias("cost"))
    )
    eur = (
        supplier.join(
            F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "n_name")
    )
    joined = (
        supply.join(F.broadcast(eur), F.col("suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(part), F.col("p_partkey") == F.col("partkey"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        joined.withColumn("mc", F.min("cost").over(w))
        .filter(F.col("cost") == F.col("mc"))
        .select(
            "p_partkey", "p_brand", "s_name", "n_name",
            F.col("cost").cast("double").alias("min_cost"),
        )
        .orderBy("p_partkey", "s_name")
    )


@register(
    "q11_important_parts",
    """
    WITH val AS (
        SELECT l_partkey AS partkey,
               SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS part_value
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY 1
    ), total AS (
        SELECT CAST(SUM(part_value) AS DECIMAL(28,2)) AS t,
               COUNT(*) AS cnt FROM val
    )
    SELECT partkey, CAST(part_value AS DOUBLE) AS part_value
    FROM val, total
    WHERE part_value * cnt > 2 * t
    ORDER BY part_value DESC, partkey
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (value-share HAVING against a scalar subquery),
    adapted: part 'inventory value' is the summed extended price shipped
    by ASIA suppliers (no partsupp availqty×supplycost in the corpus).
    The share threshold is scale-invariant — a part qualifies when its
    value exceeds 2× the average per-part value (part_value*cnt > 2*t)
    — and is a multiply-compare, so both engines compare exact
    decimals, never a float fraction.  (TPC-H's own Q11 divides the
    fraction by SF for the same reason.)

    Scale shape: one fact shuffle (groupBy partkey); the per-part
    aggregate is persisted because it feeds BOTH the scalar total and
    the filter probe (q15 pattern — without the persist each consumer
    would re-scan lineitem); the scalar joins back via broadcast.
    """
    from pyspark import StorageLevel

    li = load_testdata(spark, sf_dir, "lineitem")
    supplier = load_testdata(spark, sf_dir, "supplier")
    nation = load_testdata(spark, sf_dir, "nation")
    region = load_testdata(spark, sf_dir, "region")
    asia = (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region.filter(F.col("r_name") == "ASIA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )
    val = (
        li.join(F.broadcast(asia), li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).alias("part_value"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    total = val.agg(
        F.sum("part_value").cast("decimal(28,2)").alias("t"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") * F.col("cnt") > F.lit(2) * F.col("t"))
        .select("partkey", F.col("part_value").cast("double").alias("part_value"))
        .orderBy(F.col("part_value").desc(), "partkey")
    )


@register(
    "q20_excess_stock_suppliers",
    """
    WITH qty AS (
        SELECT l_suppkey AS suppkey,
               SUM(CAST(l_quantity AS BIGINT)) AS total_qty,
               SUM(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01'
                        THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS recent_qty
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE 'small%'
        GROUP BY 1
    )
    SELECT s_suppkey, s_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'AMERICA'
      AND s_suppkey IN (SELECT suppkey FROM qty WHERE recent_qty * 2 > total_qty)
    ORDER BY s_suppkey
    """,
)
def q20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (supplier semi-join against a nested quantity
    aggregate over a name-filtered part subset), adapted: 'excess
    stock' means more than half the supplier's all-time shipped
    quantity of 'small%' parts moved in the recent period (the corpus
    has no availqty; BIGINT sums keep both engines integer-exact).

    Scale shape: the name-filtered part side is broadcast into the fact
    scan (filter BEFORE the shuffle); one groupBy(suppkey) shuffle whose
    output is supplier-cardinality small, then a broadcast semi-join
    into the region-filtered supplier dimension — the fact table is
    scanned exactly once.
    """
    li = load_testdata(spark, sf_dir, "lineitem")
    supplier = load_testdata(spark, sf_dir, "supplier")
    nation = load_testdata(spark, sf_dir, "nation")
    region = load_testdata(spark, sf_dir, "region")
    part = load_testdata(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    qty = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"),
            F.sum(
                F.when(
                    F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"),
                    F.col("l_quantity").cast("bigint"),
                ).otherwise(F.lit(0))
            ).alias("recent_qty"),
        )
        .filter(F.col("recent_qty") * 2 > F.col("total_qty"))
        .select("suppkey")
    )
    return (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region.filter(F.col("r_name") == "AMERICA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(qty), supplier.s_suppkey == qty.suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@register(
    "events_asof_next_purchase",
    """
    WITH ev AS (
        SELECT event_id, user_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               value
        FROM events
    ),
    tagged AS (
        SELECT user_id AS k, ts_us AS wts, 0 AS side, 0 AS tie,
               NULL::BIGINT AS p_ts, NULL::DOUBLE AS p_value,
               event_id, ts_us AS l_ts
        FROM ev WHERE event_type = 'click'
        UNION ALL
        SELECT user_id AS k, ts_us AS wts, 1 AS side, event_id AS tie,
               ts_us AS p_ts, value AS p_value,
               NULL::BIGINT AS event_id, NULL::BIGINT AS l_ts
        FROM ev WHERE event_type = 'purchase'
    ),
    matched AS (
        SELECT *,
               first_value(p_ts IGNORE NULLS) OVER w AS next_purchase_ts_us,
               first_value(p_value IGNORE NULLS) OVER w AS next_purchase_value
        FROM tagged
        WINDOW w AS (PARTITION BY k ORDER BY wts, side, tie
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id, CAST(k AS BIGINT) AS user_id, l_ts AS ts_us,
           next_purchase_ts_us, next_purchase_value
    FROM matched WHERE side = 0
    ORDER BY event_id
    """,
)
def events_asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every click, the user's EARLIEST purchase at-or-after it —
    the forward mirror of ``events_asof_last_purchase``, the other half
    of the temporal-join surface (attribution windows, next-action
    analyses).  Composed via ``asof_join_forward``: same one-shuffle
    union-window shape, window running forward."""
    from .operators.asof import asof_join_forward

    ev = load_testdata(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "value",
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_us"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("p_event_id"),
        F.col("ts_us").alias("next_purchase_ts_us"),
        F.col("value").alias("next_purchase_value"),
    )
    out = asof_join_forward(
        clicks,
        purchases,
        on="user_id",
        left_ts="ts_us",
        right_ts="next_purchase_ts_us",
        payload=["next_purchase_ts_us", "next_purchase_value"],
        right_tiebreak="p_event_id",
    )
    return out.select(
        "event_id",
        F.col("user_id").cast("bigint").alias("user_id"),
        "ts_us",
        "next_purchase_ts_us",
        "next_purchase_value",
    ).orderBy("event_id")


@register(
    "events_scd2_user_history",
    """
    WITH pu AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               value
        FROM events WHERE event_type = 'purchase'
    ),
    hist AS (
        SELECT user_id, value, ts_us AS valid_from_us, event_id,
               lead(ts_us) OVER (PARTITION BY user_id
                                 ORDER BY ts_us, event_id) AS valid_to_us
        FROM pu
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           value,
           valid_from_us,
           valid_to_us,
           valid_to_us IS NULL AS is_current
    FROM hist
    ORDER BY user_id, valid_from_us, event_id
    """,
)
def events_scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-Type-2 history reconstruction: each user's purchase stream
    becomes validity-ranged rows — (value, valid_from, valid_to,
    is_current), half-open intervals closed by the next change.  The
    engine's gold dimensions are SCD-1; this query keeps the SCD-2
    validity-range shape under the DuckDB hash gate.

    Scale shape: one hash Exchange(user) + per-user sort shared by the
    single ``lead`` window; nothing else."""
    ev = load_testdata(spark, sf_dir, "events")
    pu = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        pu.select(
            F.col("user_id").cast("bigint"),
            "value",
            F.col("ts_us").alias("valid_from_us"),
            "event_id",
            F.lead("ts_us").over(w).alias("valid_to_us"),
        )
        .select(
            "user_id",
            "value",
            "valid_from_us",
            "valid_to_us",
            F.col("valid_to_us").isNull().alias("is_current"),
            "event_id",
        )
        .orderBy("user_id", "valid_from_us", "event_id")
        .drop("event_id")
    )


@register(
    "events_resample_gapfill",
    """
    WITH ev AS (
        SELECT event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
               value
        FROM events
    ),
    span AS (SELECT MIN(hr) AS h0, MAX(hr) AS h1 FROM ev),
    spine AS (
        SELECT e.event_type, s.hr
        FROM (SELECT DISTINCT event_type FROM ev) e
        CROSS JOIN (SELECT unnest(generate_series(
            (SELECT h0 FROM span), (SELECT h1 FROM span))) AS hr) s
    ),
    agg AS (
        SELECT event_type, hr,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(CAST(ROUND(SUM(value), 4) AS DECIMAL(18,4)) AS DOUBLE) AS sum_value
        FROM ev GROUP BY event_type, hr
    ),
    joined AS (
        SELECT sp.event_type, sp.hr, COALESCE(a.n, 0) AS n, a.sum_value
        FROM spine sp LEFT JOIN agg a
            ON a.event_type = sp.event_type AND a.hr = sp.hr
    ),
    filled AS (
        SELECT event_type, hr, n,
               last_value(sum_value IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY hr
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_sum
        FROM joined
    )
    SELECT event_type, CAST(hr AS BIGINT) AS hour_epoch, n AS n_events,
           COALESCE(ffill_sum, 0.0) AS hourly_sum_ffill,
           n = 0 AS is_gap
    FROM filled
    ORDER BY event_type, hour_epoch
    """,
)
def events_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample with GAP FILLING — the dense-spine rollup
    (TimescaleDB's time_bucket_gapfill / pandas resample().ffill()):
    hourly buckets per event type, a generated spine guaranteeing one
    row per (type, hour) even when nothing happened, zero-filled counts
    and forward-filled sums, with gap rows flagged.  The operator
    Spark users rebuild by hand for every dashboard.

    Scale shape: the spine is |types| × |hours| — generated with
    ``sequence``/explode from one 1-row min/max aggregate, never read
    from disk; the fact side is one combinable groupBy; the forward
    fill is one per-type window.  All joins are equi-joins on (type,
    hour)."""
    ev = load_testdata(spark, sf_dir, "events").select(
        "event_type",
        F.expr("div(unix_micros(ts), 3600000000)").alias("hr"),
        "value",
    )
    span = ev.agg(F.min("hr").alias("h0"), F.max("hr").alias("h1"))
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(span)).select(
        "event_type",
        F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("hr"),
    )
    agg = ev.groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum("value"), 4)
        .cast("decimal(18,4)")
        .cast("double")
        .alias("sum_value"),
    )
    joined = spine.join(agg, ["event_type", "hr"], "left").select(
        "event_type",
        "hr",
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
        "sum_value",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        joined.withColumn("ffill_sum", F.last("sum_value", ignorenulls=True).over(w))
        .select(
            "event_type",
            F.col("hr").cast("bigint").alias("hour_epoch"),
            F.col("n").alias("n_events"),
            F.coalesce("ffill_sum", F.lit(0.0)).alias("hourly_sum_ffill"),
            (F.col("n") == 0).alias("is_gap"),
        )
        .orderBy("event_type", "hour_epoch")
    )
