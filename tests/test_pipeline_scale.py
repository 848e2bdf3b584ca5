"""Scale row for the reference pipeline itself.

The 1,849-row SalesData pipeline is e2e-tested elsewhere; this drives
:class:`SalesPipeline` on a 10⁴-replicated bronze (~18.5 M rows) plus an
incremental second run, asserting MERGE idempotency and fact-grain
uniqueness at scale and printing its wall time.

Growth model: each copy advances the ``Date_ID`` space (time marches on
— ``dim_date`` and the fact grain grow with history, reference
`4_Gold_fact_sales_table.py:68-81` grain) while model/branch/dealer
repeat verbatim (real-world dims are bounded).

Gated behind ``SPARK_GRAFT_SLOW=1`` (minutes of wall time); override the
replication factor with ``SPARK_GRAFT_PIPE_COPIES``.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SLOW") != "1",
    reason="10⁴× pipeline blow-up (~18.5 M rows) — set SPARK_GRAFT_SLOW=1",
)

_CSV = "/root/reference/RawData/SalesData.csv"


def test_pipeline_scale_blowup_and_incremental(spark, tmp_path):
    from sales_azure_data_engineer_project_spark.io import read_csv, write_parquet
    from sales_azure_data_engineer_project_spark.plans.pipeline import (
        FACT_GRAIN,
        SalesPipeline,
    )
    from sales_azure_data_engineer_project_spark.schemas import RAW_SALES_SCHEMA

    copies = int(os.environ.get("SPARK_GRAFT_PIPE_COPIES", "10000"))
    base = read_csv(spark, _CSV, schema=RAW_SALES_SCHEMA)
    n_base = base.count()
    rep = spark.range(copies).select(F.col("id").alias("_copy"))
    blown = (
        base.crossJoin(rep)
        .withColumn(
            "Date_ID",
            F.concat_ws("#", F.col("Date_ID"), F.col("_copy").cast("string")),
        )
        .drop("_copy")
        # spread the generated rows so downstream stages start parallel
        .repartition(32)
    )
    root = str(tmp_path / "scale_root")
    pipe = SalesPipeline(spark, root)
    t0 = time.perf_counter()
    write_parquet(blown, pipe.bronze)
    t_bronze = time.perf_counter() - t0

    t0 = time.perf_counter()
    silver = pipe.build_silver()
    dims = pipe.build_dimensions(silver)
    fact = pipe.build_fact(silver, dims)
    t_initial = time.perf_counter() - t0
    n_fact = fact.count()
    n_silver = silver.count()
    assert n_silver == n_base * copies

    # incremental second run over the same bronze: the MERGE path must
    # be idempotent at scale — same dims, same fact, no grain dupes
    t0 = time.perf_counter()
    silver2 = pipe.build_silver()
    dims2 = pipe.build_dimensions(silver2)
    fact2 = pipe.build_fact(silver2, dims2)
    t_incr = time.perf_counter() - t0
    assert fact2.count() == n_fact
    for name, d in dims2.items():
        assert d.count() == dims[name].count(), name
    dupes = (
        fact2.groupBy(*FACT_GRAIN)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert dupes == 0
    print(
        f"\nPIPELINE_SCALE copies={copies} rows={n_silver} fact={n_fact} "
        f"bronze={t_bronze:.1f}s initial={t_initial:.1f}s "
        f"incremental={t_incr:.1f}s"
    )
