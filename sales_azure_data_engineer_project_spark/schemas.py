"""Explicit schemas.

The reference never declares a schema — bronze reads pass a no-op
``inferSchema`` on Parquet (`2_Silver_Notebook.py:8`) and the real CSV
inference happened in Azure Data Factory outside the repo (SURVEY §1.4,
hazard H6).  We declare every schema so ingest is deterministic and
testable.

Types follow SURVEY §1.2: the raw sales table is flat
string/long/double; silver adds ``model_category`` (string),
``Rev_Per_unit`` (double, long/long division) and ``date_iso`` (string).
"""

from __future__ import annotations

from pyspark.sql import types as T

__all__ = [
    "RAW_SALES_SCHEMA",
    "SILVER_SALES_SCHEMA",
    "gold_schema",
    "TESTDATA_TABLES",
    "TESTDATA_SCHEMAS",
]

# ---------------------------------------------------------------------------
# Sales pipeline (mirrors /root/reference/RawData/SalesData.csv:1 header)
# ---------------------------------------------------------------------------

RAW_SALES_SCHEMA = T.StructType(
    [
        T.StructField("Branch_ID", T.StringType(), True),
        T.StructField("Dealer_ID", T.StringType(), True),
        T.StructField("Model_ID", T.StringType(), True),
        T.StructField("Revenue", T.LongType(), True),
        T.StructField("Units_Sold", T.LongType(), True),
        T.StructField("Date_ID", T.StringType(), True),
        T.StructField("Day", T.LongType(), True),
        T.StructField("Month", T.LongType(), True),
        T.StructField("Year", T.LongType(), True),
        T.StructField("BranchName", T.StringType(), True),
        T.StructField("DealerName", T.StringType(), True),
        T.StructField("Product_Name", T.StringType(), True),
    ]
)

# Silver as read back from its Year-partitioned directory: partition
# discovery moves ``Year`` to the end and types it int.
SILVER_SALES_SCHEMA = T.StructType(
    [f for f in RAW_SALES_SCHEMA.fields if f.name != "Year"]
    + [
        T.StructField("model_category", T.StringType(), True),
        T.StructField("Rev_Per_unit", T.DoubleType(), True),
        T.StructField("date_iso", T.StringType(), True),
        T.StructField("Year", T.IntegerType(), True),
    ]
)


def gold_schema(columns: list[str], surrogate_keys: list[str]) -> T.StructType:
    """The schema a gold table commits, declared instead of inferred:
    ``columns`` in order, each of ``surrogate_keys`` a bigint and every
    other column typed as in silver, matched case-insensitively as the
    fact resolves ``Rev_Per_Unit`` against silver's ``Rev_Per_unit``
    (the fact's sums of silver's longs stay long).  So ``Year`` is an
    int and ``Month`` and ``Day`` are longs.  Every field is nullable,
    as a committed version reads back."""
    silver = {f.name.lower(): f.dataType for f in SILVER_SALES_SCHEMA.fields}
    return T.StructType(
        [
            T.StructField(c, T.LongType() if c in surrogate_keys else silver[c.lower()], True)
            for c in columns
        ]
    )


# ---------------------------------------------------------------------------
# Driver test corpus (/root/testdata/sf*/ — FIXTURES.md §A)
# ---------------------------------------------------------------------------

TESTDATA_TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _fields(*cols: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(name, dtype, True) for name, dtype in cols])


# The corpus as Spark infers it from the parquet footers under the
# engine's session confs: the naive timestamp[us] columns (orders,
# lineitem, events.ts) read as TimestampType because
# ``spark.sql.parquet.inferTimestampNTZ.enabled`` is off.  Reading with
# these schemas skips the footer-inference job every read would run;
# ``tests/test_catalog_sources.py`` pins them to the inferred ones.
TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": _fields(
        ("r_regionkey", T.IntegerType()),
        ("r_name", T.StringType()),
    ),
    "nation": _fields(
        ("n_nationkey", T.IntegerType()),
        ("n_name", T.StringType()),
        ("n_regionkey", T.IntegerType()),
    ),
    "customer": _fields(
        ("c_custkey", T.LongType()),
        ("c_name", T.StringType()),
        ("c_nationkey", T.IntegerType()),
        ("c_acctbal", T.DoubleType()),
        ("c_mktsegment", T.StringType()),
    ),
    "supplier": _fields(
        ("s_suppkey", T.LongType()),
        ("s_name", T.StringType()),
        ("s_nationkey", T.IntegerType()),
        ("s_acctbal", T.DoubleType()),
    ),
    "part": _fields(
        ("p_partkey", T.LongType()),
        ("p_name", T.StringType()),
        ("p_brand", T.StringType()),
        ("p_type", T.StringType()),
        ("p_size", T.IntegerType()),
        ("p_retailprice", T.DoubleType()),
    ),
    "orders": _fields(
        ("o_orderkey", T.LongType()),
        ("o_custkey", T.LongType()),
        ("o_orderstatus", T.StringType()),
        ("o_totalprice", T.DoubleType()),
        ("o_orderdate", T.TimestampType()),
        ("o_orderpriority", T.StringType()),
    ),
    "lineitem": _fields(
        ("l_orderkey", T.LongType()),
        ("l_partkey", T.LongType()),
        ("l_suppkey", T.LongType()),
        ("l_linenumber", T.IntegerType()),
        ("l_quantity", T.DoubleType()),
        ("l_extendedprice", T.DoubleType()),
        ("l_discount", T.DoubleType()),
        ("l_tax", T.DoubleType()),
        ("l_returnflag", T.StringType()),
        ("l_linestatus", T.StringType()),
        ("l_shipdate", T.TimestampType()),
    ),
    "events": _fields(
        ("event_id", T.LongType()),
        ("ts", T.TimestampType()),
        ("user_id", T.LongType()),
        ("event_type", T.StringType()),
        ("value", T.DoubleType()),
        ("props", T.StringType()),
    ),
    "documents": _fields(
        ("doc_id", T.LongType()),
        ("text", T.StringType()),
        ("lang", T.StringType()),
        ("source", T.StringType()),
        ("n_chars", T.LongType()),
    ),
    "embeddings": _fields(
        ("vec_id", T.LongType()),
        ("embedding", T.ArrayType(T.FloatType(), True)),
        ("label", T.IntegerType()),
    ),
}
