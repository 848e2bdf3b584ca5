"""Catalog surface (SURVEY §2.1 S3/S8/S9).

The reference registers gold tables in Unity Catalog's 3-level
namespace (`1_db_Notebook.py:8,24,29` CREATE CATALOG / CREATE SCHEMA;
`3(1)_Gold_dim_model.py:173-176` saveAsTable;
`spark.catalog.tableExists` at :56).  Without a metastore we get the
same *semantics* from a 2-level name mapped onto parquet paths plus
Spark temp views: `gold.dim_model` → `<root>/gold/dim_model` registered
as view `gold_dim_model`.  The catalog level is dropped: the engine has
one catalog, so `cars_catalog.gold.dim_model` is `gold.dim_model`.

At cluster scale this swaps cleanly for a real catalog (Hive metastore
/ Unity / Glue): ``register`` becomes ``saveAsTable``, ``table_exists``
becomes ``spark.catalog.tableExists`` — call sites don't change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

__all__ = ["PathCatalog"]


class PathCatalog:
    """Two-level (schema.table) catalog over a directory tree."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, schema: str, table: str) -> str:
        return os.path.join(self.root, schema, table)

    def create_schema(self, schema: str) -> None:
        """S8: ``create schema`` equivalent (`1_db_Notebook.py:24,29`)."""
        os.makedirs(os.path.join(self.root, schema), exist_ok=True)

    def table_exists(self, schema: str, table: str) -> bool:
        """S9: ``spark.catalog.tableExists`` (`3(1)_Gold_dim_model.py:56`).

        Recognizes all three layouts the engine itself writes: flat
        parquet files, hive-partitioned subdirectories (``Year=.../``),
        and ``VersionedTable`` roots (``v=N/`` dirs + ``_VERSION``
        pointer).  Round 1 only looked at top-level ``*.parquet``, so
        the engine's own primary formats read back as nonexistent.
        """
        p = self.path(schema, table)
        if not os.path.isdir(p):
            return False
        if os.path.isfile(os.path.join(p, "_VERSION")):
            return True
        for _dirpath, _dirs, files in os.walk(p):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def view_name(self, schema: str, table: str) -> str:
        return f"{schema}_{table}"

    def register(self, schema: str, table: str) -> None:
        """S3: make the table SQL-addressable by name."""
        df = self.read(schema, table)
        if df is None:
            raise FileNotFoundError(self.path(schema, table))
        df.createOrReplaceTempView(self.view_name(schema, table))

    def read(self, schema: str, table: str) -> DataFrame | None:
        if not self.table_exists(schema, table):
            return None
        p = self.path(schema, table)
        if os.path.isfile(os.path.join(p, "_VERSION")):
            # VersionedTable root: read the committed snapshot, not the
            # raw tree (v=N dirs would parse as a partition column)
            from .operators.versioned import VersionedTable

            return VersionedTable(self.spark, p).read()
        return self.spark.read.parquet(p)

