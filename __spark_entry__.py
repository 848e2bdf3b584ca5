"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` is the smoke query.  ``queries()`` maps each
registered query name to its builder, in registration order, and
``oracle_sql()`` gives the DuckDB twin of every SQL-expressible one;
``tools/check_oracle.py`` runs each query at sf=0.01 and compares it
against its twin (row count + schema + order-insensitive values).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from sales_azure_data_engineer_project_spark import queries_analytics  # noqa: F401  (registers)
from sales_azure_data_engineer_project_spark import queries_core
from sales_azure_data_engineer_project_spark import queries_extensions  # noqa: F401  (registers)

_SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Revenue by customer nation and order year over orders ⟕ customer ⟕
    nation — the reference's one analytics query
    (`2_Silver_Notebook.py:63`, groupBy(branch, year).sum.sort)
    generalized onto the corpus star schema.
    """
    return queries_core.QUERIES["flagship_revenue_by_nation_year"](spark, _SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(queries_core.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL twin for each (SQL-expressible) query."""
    qs = dict(queries_core.ORACLES)
    return {n: qs[n] for n in queries() if n in qs}
