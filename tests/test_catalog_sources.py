"""Catalog tests (S3/S8/S9), CSV landing reads, corpus schemas and the
calendar dimension."""

from __future__ import annotations

import os

import pytest
from conftest import INITIAL_ROWS, SF_SMOKE, count_jobs, write_sales_csv

from sales_azure_data_engineer_project_spark.plans import SalesPipeline
from sales_azure_data_engineer_project_spark.schemas import TESTDATA_SCHEMAS, TESTDATA_TABLES


def test_pipeline_registers_gold_views(spark, tmp_path):
    csv = write_sales_csv(str(tmp_path / "init.csv"), INITIAL_ROWS)
    pipe = SalesPipeline(spark, str(tmp_path / "zones"))
    pipe.run(csv)
    # the reference's verification cells (`4_fact:85-86`) as SQL-by-name
    n = spark.sql(
        "SELECT count(*) AS n FROM gold_factsales f "
        "JOIN gold_dim_branch b ON f.dim_branch_key = b.dim_branch_key"
    ).first()["n"]
    assert n == 4


def test_calendar_dimension_h1(spark, tmp_path):
    """Date_ID does not determine (Day,Month,Year) — dim_calendar must
    key on the composite and answer calendar questions."""
    csv = write_sales_csv(str(tmp_path / "init.csv"), INITIAL_ROWS)
    pipe = SalesPipeline(spark, str(tmp_path / "zones"))
    out = pipe.run(csv)
    cal = {
        (r["Year"], r["Month"], r["Day"]): (r["dim_calendar_key"], r["date_iso"])
        for r in out["dim_calendar"].collect()
    }
    # DT00001 appears with two different dates → two calendar rows
    assert (2017, 1, 1) in cal and (2017, 5, 10) in cal
    assert cal[(2017, 1, 1)][1] == "2017-01-01"
    keys = sorted(k for k, _ in cal.values())
    assert keys == list(range(1, len(cal) + 1))
    # fact carries the calendar key; every row resolves
    assert out["factsales"].filter("dim_calendar_key IS NULL").count() == 0


def test_csv_permissive_with_malformed_rows(spark, tmp_path):
    """PERMISSIVE mode: malformed rows land as NULL-padded rows instead of
    failing the load (the reference implicitly relied on ADF cleaning;
    our ingest must survive dirt on its own)."""
    from sales_azure_data_engineer_project_spark.io import read_csv
    from sales_azure_data_engineer_project_spark.schemas import RAW_SALES_SCHEMA

    p = tmp_path / "dirty.csv"
    p.write_text(
        "Branch_ID,Dealer_ID,Model_ID,Revenue,Units_Sold,Date_ID,Day,Month,Year,"
        "BranchName,DealerName,Product_Name\n"
        "BR1,DLR1,BMW-M1,100,1,DT1,1,1,2017,B,D,P\n"
        "BR2,DLR2,KIA-M2,notanumber,2,DT2,2,2,2018,B2,D2,P2\n"  # bad Revenue
    )
    df = read_csv(spark, str(p), schema=RAW_SALES_SCHEMA)
    rows = {r["Branch_ID"]: r for r in df.collect()}
    assert rows["BR1"]["Revenue"] == 100
    assert rows["BR2"]["Revenue"] is None  # malformed cell → NULL, row kept
    assert rows["BR2"]["Units_Sold"] == 2


def test_load_testdata_self_defends_session_confs(spark, sf_smoke):
    """Regression guard: queries must repair TZ/nanos confs on any
    caller-provided session (the driver builds its own)."""
    from sales_azure_data_engineer_project_spark.io import load_testdata

    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        load_testdata(spark, sf_smoke, "events")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


CORPUS_DIRS = [
    *(os.path.join(os.path.dirname(SF_SMOKE), sf) for sf in ("sf0.001", "sf0.01", "sf0.1")),
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench", "corpus"),
]


@pytest.mark.parametrize("sf_dir", CORPUS_DIRS, ids=os.path.basename)
def test_declared_corpus_schemas_equal_the_inferred_ones(spark, sf_dir):
    """``TESTDATA_SCHEMAS`` is what parquet inference gives under the
    engine's session confs, for every table of every shipped corpus."""
    from sales_azure_data_engineer_project_spark.io import _ensure_session_confs

    _ensure_session_confs(spark)
    for table in TESTDATA_TABLES:
        inferred = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet")).schema
        assert TESTDATA_SCHEMAS[table] == inferred, table


def test_load_testdata_starts_no_job(spark, sf_smoke):
    """Building a corpus read starts no schema-inference job."""
    from sales_azure_data_engineer_project_spark.io import load_testdata

    for table in TESTDATA_TABLES:
        df, jobs = count_jobs(spark, lambda: load_testdata(spark, sf_smoke, table))
        assert jobs == 0, table
        assert df.schema == TESTDATA_SCHEMAS[table]


def test_load_testdata_rejects_unknown_table(spark, sf_smoke):
    from sales_azure_data_engineer_project_spark.io import load_testdata

    with pytest.raises(ValueError, match="unknown corpus table"):
        load_testdata(spark, sf_smoke, "lineitems")


