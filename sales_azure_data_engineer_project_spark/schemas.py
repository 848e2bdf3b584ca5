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
    "TESTDATA_TABLES",
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
