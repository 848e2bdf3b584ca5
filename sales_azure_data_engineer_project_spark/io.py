"""Sources & sinks (SURVEY §2.1 S1, S4, S5).

The reference's zones are ADLS paths read/written with format strings
(`2_Silver_Notebook.py:7-9,72-75`, `3(1)_Gold_dim_model.py:173-176`).
Here each zone is a local/posix (or any Hadoop-FS) directory; the
semantics — overwrite silver, create-or-merge gold — live in
``operators.upsert``, not in the writer.

Scale notes:
- Parquet reads are vectorized and get predicate pushdown + column
  pruning for free as long as callers filter/select on the DataFrame
  (never ``.collect()`` then filter).
- Writers repartition only when asked; a 100 TB fact write should keep
  the upstream partitioning (one shuffle saved) and let AQE size files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .schemas import TESTDATA_SCHEMAS, TESTDATA_TABLES

__all__ = [
    "read_parquet",
    "read_csv",
    "write_parquet",
    "load_testdata",
]


def read_parquet(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """S1: parquet directory scan (`2_Silver_Notebook.py:7-9`).

    The reference passes ``inferSchema`` — a no-op for self-describing
    Parquet (hazard H6); we drop it.  The caller wrote the directory and
    passes the schema it reads back as, so building the read runs no
    footer-inference job.
    """
    return spark.read.schema(schema).parquet(path)


def read_csv(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """S4: CSV landing source with the reference data's quirks.

    /root/reference/RawData/SalesData.csv has a UTF-8 BOM on line 1,
    quoted fields with embedded commas (IncrementalSales.csv:2
    ``"Fisker, Karma Motors"``), and empty strings for missing
    DealerName (SalesData.csv:38).  ``emptyValue=None`` maps empties to
    SQL NULL so the cleansing layer sees them.  ``schema`` is the
    declared landing schema (``schemas.RAW_SALES_SCHEMA``); CSV type
    inference, which rescans the file, is not offered.
    """
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .option("encoding", "UTF-8")
        .option("emptyValue", None)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
) -> None:
    """S5: parquet sink (`2_Silver_Notebook.py:72-75`), always
    overwriting — bronze and silver are rebuilt whole on every run.

    ``partition_by`` hive-partitions the layout; filters on those
    columns then prune whole directories at scan time (PartitionFilters
    in the plan) — the first-order scan optimization at 100 TB."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def load_testdata(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Load one test-corpus table (TESTDATA.md) with its declared
    schema (``schemas.TESTDATA_SCHEMAS``), so building the read starts
    no Spark job: parquet schema inference would run a footer job per
    call.

    A name outside ``TESTDATA_TABLES`` raises rather than falling back
    to inference.  A file whose column types disagree with the declared
    schema fails when the scan runs; a declared column the file lacks
    reads as NULL, so the declared schemas are pinned to every shipped
    corpus by test.  ``events.ts`` (naive timestamp[us]) is declared
    TIMESTAMP and reads as a UTC instant — the type every downstream
    query (unix_micros, window, date_trunc) and the zone-naive DuckDB
    oracle agree on.
    """
    schema = TESTDATA_SCHEMAS.get(table)
    if schema is None:
        raise ValueError(f"unknown corpus table {table!r}; expected one of {TESTDATA_TABLES}")
    _ensure_session_confs(spark)
    return spark.read.schema(schema).parquet(os.path.join(sf_dir, f"{table}.parquet"))


def _ensure_session_confs(spark: SparkSession) -> None:
    """Make corpus queries correct on ANY caller-provided session.

    The driver contract hands our queries an externally-built
    SparkSession, so the session settings correctness depends on are
    (re)applied at runtime — all are dynamic SQL confs:

    - UTC session timezone: year()/date_trunc() etc. render instants in
      the session zone; the DuckDB oracle is zone-naive (UTC).
    - nanosAsLong on, inferTimestampNTZ off: the reader confs
      ``TESTDATA_SCHEMAS`` was inferred under.  A declared-schema read
      does not consult them; a parquet read in the same session that
      does infer types naive timestamps as the corpus schemas do.
    """
    for k, v in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 — a locked-down conf is non-fatal
            pass
