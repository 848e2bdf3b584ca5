"""The medallion pipeline driver.

Re-derives the reference's notebook DAG (X2: `1_db` → `2_Silver` →
`3(1..4)` dims → `4_fact`) as a plain Python module: a
:class:`SalesPipeline` that owns zone paths and runs initial or
incremental loads idempotently.

The reference parameterizes runs with a Databricks widget
(`3(1)_Gold_dim_model.py:13-18` ``Incremental_Flag``) and branches on
sink existence (S9 ``tableExists``).  Here there is no run mode: each
gold table is created empty with its declared schema before its first
load (version 0, the reference's ``where 1=0`` empty-typed sink, P7),
so the initial load is an incremental batch into empty tables and runs
the same plans.  The flag's only real effect, key seeding, is subsumed
by seeding new keys from the sink's max key, which is correct either
way (hazard H2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import PathCatalog
from ..io import read_csv, read_parquet, write_parquet
from ..operators.dimensions import DimensionSpec, build_scd1_dimension
from ..operators.fact import aggregate_to_grain
from ..operators.fact import build_fact as assemble_fact
from ..operators.versioned import VersionedTable
from ..schemas import RAW_SALES_SCHEMA, SILVER_SALES_SCHEMA, gold_schema

__all__ = ["SalesPipeline", "transform_silver", "DIM_SPECS", "GOLD_SCHEMAS"]

# The four reference dimensions (3(1..4)_Gold_dim_*.py:44-46) + grain.
DIM_SPECS: dict[str, DimensionSpec] = {
    "dim_model": DimensionSpec("dim_model", "dim_model_key", "Model_ID", ("model_category",)),
    "dim_branch": DimensionSpec("dim_branch", "dim_branch_key", "Branch_ID", ("BranchName",)),
    "dim_dealer": DimensionSpec("dim_dealer", "dim_dealer_key", "Dealer_ID", ("DealerName",)),
    # Reference parity: dim_date keeps only Date_ID (`3(4)_Gold_dim_date.py:44-46`).
    "dim_date": DimensionSpec("dim_date", "dim_date_key", "Date_ID", ()),
    # Hazard H1 fix: Date_ID does NOT determine (Day,Month,Year) in the
    # reference data, so gold cannot answer calendar questions through
    # dim_date.  A real calendar dimension keyed on the (Year,Month,Day)
    # composite closes that gap (SURVEY §7 Phase 3).
    "dim_calendar": DimensionSpec(
        "dim_calendar", "dim_calendar_key", ("Year", "Month", "Day"), ("date_iso",)
    ),
}

FACT_GRAIN = [
    "dim_model_key",
    "dim_branch_key",
    "dim_dealer_key",
    "dim_date_key",
    "dim_calendar_key",
]

# What each gold table commits, declared so that creating the table
# (version 0) runs no Spark job: a dimension is its key and natural
# columns, the fact its measures (``aggregate_to_grain``) and grain.
GOLD_SCHEMAS = {
    **{
        name: gold_schema([spec.key_col, *spec.natural_cols], [spec.key_col])
        for name, spec in DIM_SPECS.items()
    },
    "factsales": gold_schema(["Revenue", "Units_Sold", "Rev_Per_Unit", *FACT_GRAIN], FACT_GRAIN),
}


def transform_silver(df: DataFrame) -> DataFrame:
    """Bronze → silver enrichment (`2_Silver_Notebook.py:33,49`).

    - ``model_category`` = prefix of ``Model_ID`` before '-'
      (``split(col('Model_ID'),'-')[0]``)
    - ``Rev_Per_unit``   = Revenue / Units_Sold (long/long → double).
      The reference ran Spark 3 non-ANSI, where x/0 is NULL; Spark 4
      defaults to ANSI, where ``/`` throws, so ``try_divide`` keeps
      the reference's NULL without turning ANSI off.

    The reference's display-only string cast of Units_Sold
    (`2_Silver_Notebook.py:45`) is deliberately NOT applied — it never
    reaches the persisted silver table (SURVEY §1.3).

    One projection appends all three columns, so the plan is analyzed
    once instead of once per ``withColumn``.
    """
    return df.select(
        "*",
        F.split("Model_ID", "-").getItem(0).alias("model_category"),
        F.try_divide("Revenue", "Units_Sold").alias("Rev_Per_unit"),
        # engine enrichment (not in the reference): a true calendar date
        # assembled from the pre-split Day/Month/Year ints, feeding
        # dim_calendar (hazard H1); try_to_date → NULL on invalid dates
        F.expr("try_to_date(concat_ws('-', Year, Month, Day), 'y-M-d')")
        .cast("string")
        .alias("date_iso"),
    )


class SalesPipeline:
    """Zone layout: ``root/{bronze,silver,gold}``.

    - silver is hive-partitioned on ``Year`` so calendar-filtered scans
      prune whole directories (the first-order optimization at scale).
    - gold tables are :class:`VersionedTable`s: every commit is an
      atomic versioned commit (Delta-``_delta_log`` semantics — readers
      see old or new, never partial; history queryable).
    - bronze and silver are read back with their declared schemas
      (``RAW_SALES_SCHEMA``, ``SILVER_SALES_SCHEMA``), so no read runs a
      schema-inference job.
    - each gold table is written in one pass over its inputs, by its
      commit, into a table created empty before its first load.  A
      dimension is committed as the snapshot ``build_scd1_dimension``
      returns (silver's natural columns ∪ the sink in one partition,
      decided by one window per natural key and keyed in one more: one
      stage with no exchange, and already the SCD-1 MERGE result); the
      fact is merged on its grain by ``VersionedTable.merge`` (one
      window over fact ∪ committed fact, so the fact's plan runs once).
      The duplicate-key check runs inside each commit's write (the
      dimension's natural-key window, the fact's merge window), so a
      violation fails that commit and publishes nothing.  Later stages
      read the committed versions, which start no Spark job before
      their own write.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.bronze = os.path.join(root, "bronze")
        self.silver = os.path.join(root, "silver", "carsales")
        self.gold = os.path.join(root, "gold")
        self.catalog = PathCatalog(spark, root)
        self.catalog.create_schema("gold")  # S8 (`1_db_Notebook.py:24,29`)

    # -- zone paths -------------------------------------------------------
    def gold_path(self, table: str) -> str:
        return os.path.join(self.gold, table)

    def gold_table(self, table: str) -> VersionedTable:
        return VersionedTable(self.spark, self.gold_path(table))

    def read_gold(self, table: str, version: int | None = None) -> DataFrame | None:
        return self.gold_table(table).read(version)

    def _gold_to_write(self, table: str) -> VersionedTable:
        """Gold ``table``, created empty first (version 0) if it never
        was: the first load then reads and merges into an empty table,
        so it runs, and compiles, the plans of every later batch."""
        vt = self.gold_table(table)
        if vt.current_version() == 0 and vt.read() is None:
            vt.create(GOLD_SCHEMAS[table])
        return vt

    # -- stages -----------------------------------------------------------
    def ingest_bronze(self, csv_path: str) -> DataFrame:
        """S4: land raw CSV as bronze parquet with the explicit schema."""
        raw = read_csv(self.spark, csv_path, schema=RAW_SALES_SCHEMA)
        write_parquet(raw, self.bronze)
        return read_parquet(self.spark, self.bronze, schema=RAW_SALES_SCHEMA)

    def build_silver(self) -> DataFrame:
        bronze = read_parquet(self.spark, self.bronze, schema=RAW_SALES_SCHEMA)
        write_parquet(transform_silver(bronze), self.silver, partition_by=["Year"])
        return read_parquet(self.spark, self.silver, schema=SILVER_SALES_SCHEMA)

    def build_dimensions(self, silver: DataFrame) -> dict[str, DataFrame]:
        dims: dict[str, DataFrame] = {}
        for name, spec in DIM_SPECS.items():
            table = self._gold_to_write(name)
            base = table.current_version()
            dim = build_scd1_dimension(silver, table.read(base), spec)
            new_v = table.overwrite(dim, base_version=base)
            dims[name] = table.read(new_v)
        return dims

    def build_fact(self, silver: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
        fact = assemble_fact(
            silver, {n: (df, DIM_SPECS[n]) for n, df in dims.items()}
        )
        fact = aggregate_to_grain(fact, FACT_GRAIN)
        table = self._gold_to_write("factsales")
        return table.read(table.merge(fact, keys=FACT_GRAIN))

    def run(self, csv_path: str) -> dict[str, DataFrame]:
        """One full load (initial or incremental — same code path)."""
        self.ingest_bronze(csv_path)
        silver = self.build_silver()
        dims = self.build_dimensions(silver)
        gold = {**dims, "factsales": self.build_fact(silver, dims)}
        for t, df in gold.items():  # S3: SQL-addressable gold
            df.createOrReplaceTempView(self.catalog.view_name("gold", t))
        return {**gold, "silver": silver}

    # -- data-quality surface ---------------------------------------------
    def quality_report(self) -> dict[str, dict[str, int]]:
        """Expectation checks over silver + gold (the validation layer
        the reference lacks — its dirt flows to gold unexamined).
        Returns {table: {expectation: violation_count}}; callers decide
        warn-vs-fail (the reference data legitimately violates
        not_null(DealerName) 31 times)."""
        from ..operators import quality as Q

        silver = read_parquet(self.spark, self.silver, schema=SILVER_SALES_SCHEMA)
        fact = self.read_gold("factsales")
        report = {
            "silver": Q.check(
                silver,
                [
                    Q.not_null("Branch_ID"),
                    Q.not_null("DealerName"),
                    Q.in_range("Units_Sold", 1, 3),
                    Q.matches("Model_ID", "^[A-Za-z]+-?M?"),
                ],
            )
        }
        if fact is not None:
            checks = [Q.unique(*FACT_GRAIN)]
            for name, spec in DIM_SPECS.items():
                dim = self.read_gold(name)
                if dim is not None:
                    checks.append(Q.references(dim, spec.key_col))
            report["factsales"] = Q.check(fact, checks)
        return report

    # -- reference's one analytics query ---------------------------------
    def units_by_branch_year(self, silver: DataFrame | None = None) -> DataFrame:
        """`2_Silver_Notebook.py:63`: groupBy(BranchName, Year).sum(Units)
        sorted by Year asc, total desc (A1 + O1)."""
        if silver is None:
            silver = read_parquet(self.spark, self.silver, schema=SILVER_SALES_SCHEMA)
        return (
            silver.groupBy("BranchName", "Year")
            .agg(F.sum("Units_Sold").alias("Total_Units_Sold"))
            .orderBy(F.col("Year").asc(), F.col("Total_Units_Sold").desc())
        )
