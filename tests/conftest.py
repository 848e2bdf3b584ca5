from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sales_azure_data_engineer_project_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


def count_jobs(spark, fn):
    """``(fn(), number of Spark jobs fn started)``, read back from the
    status tracker under a job group of its own."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def write_sales_csv(path: str, rows: list[str], bom: bool = True) -> str:
    header = (
        "Branch_ID,Dealer_ID,Model_ID,Revenue,Units_Sold,Date_ID,"
        "Day,Month,Year,BranchName,DealerName,Product_Name\n"
    )
    body = (header + "\n".join(rows) + "\n").encode()
    with open(path, "wb") as f:
        f.write((b"\xef\xbb\xbf" if bom else b"") + body)
    return path


INITIAL_ROWS = [
    "BR0001,DLR0001,BMW-M1,900000,2,DT00001,1,1,2017,Chandler BMW,Chandler Motors,M1",
    "BR0002,DLR0002,BMW-M2,300000,1,DT00002,2,1,2017,Mesa BMW,,M2",
    "BR0003,DLR0001,KIA-M9,500000,2,DT00001,10,5,2017,Tempe Kia,Chandler Motors,M9",
    'BR0001,DLR0003,BMW-M1,450000,1,DT00003,3,2,2018,Chandler BMW,"Fisker, Karma Motors",M1',
]

INCREMENTAL_ROWS = [
    "BR0001,DLR0001,BMW-M1,111111,3,DT00001,1,1,2017,Chandler BMW RENAMED,Chandler Motors,M1",
    "XYZ9726,XYZ0063,ZYXM13,1000,1,DTX9999,9,9,2020,Surprise Branch,Surprise Dealer,Surprise",
]
