"""End-to-end medallion pipeline tests (SURVEY §5 strategy items 3–4)."""

from __future__ import annotations

import os

import pytest
from conftest import INCREMENTAL_ROWS, INITIAL_ROWS, count_jobs, write_sales_csv

from sales_azure_data_engineer_project_spark.plans import SalesPipeline, transform_silver


def _snap(spark, pipe, tables):
    return {
        t: sorted(map(str, pipe.read_gold(t).collect()))
        for t in tables
    }


GOLD_TABLES = ["dim_model", "dim_branch", "dim_dealer", "dim_date", "factsales"]


def test_initial_load(spark, tmp_path):
    csv = write_sales_csv(str(tmp_path / "init.csv"), INITIAL_ROWS)
    pipe = SalesPipeline(spark, str(tmp_path / "zones"))
    out = pipe.run(csv)

    # silver derivations (2_Silver_Notebook.py:33,49)
    silver = out["silver"]
    row = silver.filter("Branch_ID = 'BR0001' AND Date_ID = 'DT00001'").first()
    assert row["model_category"] == "BMW"
    assert row["Rev_Per_unit"] == 450000.0

    # CSV dirt handling: BOM stripped (first col parses), quoted comma kept,
    # empty DealerName → NULL
    assert silver.filter("DealerName = 'Fisker, Karma Motors'").count() == 1
    assert silver.filter("DealerName IS NULL").count() == 1

    # dims: dense 1..n surrogate keys over distinct natural keys
    dm = {r["Model_ID"]: r["dim_model_key"] for r in out["dim_model"].collect()}
    assert dm == {"BMW-M1": 1, "BMW-M2": 2, "KIA-M9": 3}

    # fact grain aggregation (H4): 4 source rows, 4 distinct grain combos
    assert out["factsales"].count() == 4
    assert out["factsales"].filter("dim_model_key IS NULL").count() == 0


def test_incremental_scd1_and_idempotency(spark, tmp_path):
    init = write_sales_csv(str(tmp_path / "init.csv"), INITIAL_ROWS)
    incr = write_sales_csv(str(tmp_path / "incr.csv"), INCREMENTAL_ROWS)
    pipe = SalesPipeline(spark, str(tmp_path / "zones"))
    pipe.run(init)
    out2 = pipe.run(incr)

    # SCD-1: existing natural key keeps its surrogate, attrs updated (H3)
    br = {r["Branch_ID"]: r for r in out2["dim_branch"].collect()}
    assert br["BR0001"]["dim_branch_key"] == 1
    assert br["BR0001"]["BranchName"] == "Chandler BMW RENAMED"
    # new adversarial key appended densely
    assert br["XYZ9726"]["dim_branch_key"] == 4

    # vanished-from-batch rows are kept (MERGE never deletes)
    assert set(br) == {"BR0001", "BR0002", "BR0003", "XYZ9726"}

    # idempotency: rerunning the same increment changes nothing
    before = _snap(spark, pipe, GOLD_TABLES)
    pipe.run(incr)
    assert _snap(spark, pipe, GOLD_TABLES) == before


def test_fact_rowcount_invariant(spark, tmp_path):
    """Left joins never drop fact rows (§5 property 4) pre-aggregation."""
    csv = write_sales_csv(str(tmp_path / "init.csv"), INITIAL_ROWS)
    pipe = SalesPipeline(spark, str(tmp_path / "zones"))
    out = pipe.run(csv)
    from sales_azure_data_engineer_project_spark.operators.fact import build_fact
    from sales_azure_data_engineer_project_spark.plans.pipeline import DIM_SPECS

    silver = out["silver"]
    raw_fact = build_fact(
        silver, {n: (out[n], DIM_SPECS[n]) for n in DIM_SPECS}
    )
    assert raw_fact.count() == silver.count()


def test_units_by_branch_year_matches_reference_shape(spark, tmp_path):
    csv = write_sales_csv(str(tmp_path / "init.csv"), INITIAL_ROWS)
    pipe = SalesPipeline(spark, str(tmp_path / "zones"))
    pipe.run(csv)
    res = pipe.units_by_branch_year().collect()
    assert [r["Total_Units_Sold"] for r in res if r["Year"] == 2017] == [2, 2, 1]


def test_display_only_cast_not_persisted(spark, tmp_path):
    """Hazard: 2_Silver_Notebook.py:45 casts Units_Sold to string but never
    assigns it back — persisted silver must stay numeric."""
    csv = write_sales_csv(str(tmp_path / "init.csv"), INITIAL_ROWS)
    pipe = SalesPipeline(spark, str(tmp_path / "zones"))
    out = pipe.run(csv)
    assert dict(out["silver"].dtypes)["Units_Sold"] == "bigint"


def test_gold_time_travel_across_runs(spark, tmp_path):
    """Versioned gold: the pre-increment dimension state stays queryable
    after the incremental MERGE (Delta-log semantics over parquet)."""
    init = write_sales_csv(str(tmp_path / "init.csv"), INITIAL_ROWS)
    incr = write_sales_csv(str(tmp_path / "incr.csv"), INCREMENTAL_ROWS)
    pipe = SalesPipeline(spark, str(tmp_path / "zones"))
    pipe.run(init)
    v_before = pipe.gold_table("dim_branch").current_version()
    pipe.run(incr)
    # current state: renamed branch + new key 4
    cur = {r["Branch_ID"]: r["BranchName"] for r in pipe.read_gold("dim_branch").collect()}
    assert cur["BR0001"] == "Chandler BMW RENAMED" and "XYZ9726" in cur
    # time travel: initial-load snapshot unchanged
    old = {r["Branch_ID"]: r["BranchName"] for r in
           pipe.read_gold("dim_branch", version=v_before).collect()}
    assert old["BR0001"] == "Chandler BMW" and "XYZ9726" not in old


def test_gold_tables_start_at_an_empty_version_0_with_the_committed_schema(spark, tmp_path):
    """Every gold table is created empty (version 0) before its first
    load, with a declared schema equal to the one that load commits."""
    from sales_azure_data_engineer_project_spark.plans.pipeline import GOLD_SCHEMAS

    init = write_sales_csv(str(tmp_path / "init.csv"), INITIAL_ROWS)
    pipe = SalesPipeline(spark, str(tmp_path / "zones"))
    pipe.run(init)
    assert sorted(os.listdir(pipe.gold)) == sorted(GOLD_SCHEMAS)
    for name, schema in GOLD_SCHEMAS.items():
        table = pipe.gold_table(name)
        assert table.current_version() == 1
        assert (name, table.read(0).schema) == (name, schema)
        assert (name, table.read(1).schema) == (name, schema)
        assert table.read(0).count() == 0


def test_silver_partition_pruning(spark, tmp_path):
    csv = write_sales_csv(str(tmp_path / "init.csv"), INITIAL_ROWS)
    pipe = SalesPipeline(spark, str(tmp_path / "zones"))
    pipe.run(csv)
    scan = spark.read.parquet(pipe.silver).filter("Year = 2017")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "Year" in plan.split("PartitionFilters")[1][:80]
    assert scan.count() == 3


def test_new_attribute_variant_of_existing_key_aborts_the_commit(spark, tmp_path):
    """Two DealerName variants of a Dealer_ID already in dim_dealer map
    to its one surrogate key: the batch fails loudly (Delta's "multiple
    source rows matched"), dim_dealer publishes no version and no staged
    directory is left behind."""
    init = write_sales_csv(str(tmp_path / "init.csv"), INITIAL_ROWS)
    variants = write_sales_csv(str(tmp_path / "variants.csv"), [
        "BR0001,DLR0001,BMW-M1,1000,1,DT00001,1,1,2017,Chandler BMW,Chandler Motors,M1",
        "BR0002,DLR0001,BMW-M2,2000,1,DT00002,2,1,2017,Mesa BMW,Chandler Motors II,M2",
    ])
    pipe = SalesPipeline(spark, str(tmp_path / "zones"))
    pipe.run(init)
    dealer = pipe.gold_table("dim_dealer")
    v_before = dealer.current_version()

    with pytest.raises(Exception, match="multiple source rows"):
        pipe.run(variants)

    assert dealer.current_version() == v_before
    leftovers = [
        name
        for table in os.listdir(pipe.gold)
        for name in os.listdir(pipe.gold_path(table))
        if name.startswith("._staged_")
    ]
    assert leftovers == []


def test_silver_read_schema_is_declared_and_inferred(spark, tmp_path):
    """Silver reads back with SILVER_SALES_SCHEMA, which is exactly what
    parquet schema inference and partition discovery would give."""
    from sales_azure_data_engineer_project_spark.schemas import SILVER_SALES_SCHEMA

    csv = write_sales_csv(str(tmp_path / "init.csv"), INITIAL_ROWS)
    pipe = SalesPipeline(spark, str(tmp_path / "zones"))
    pipe.ingest_bronze(csv)
    silver = pipe.build_silver()
    assert silver.schema == SILVER_SALES_SCHEMA
    assert spark.read.parquet(pipe.silver).schema == SILVER_SALES_SCHEMA


def test_fact_commit_evaluates_its_merge_source_once(spark, tmp_path, monkeypatch):
    """The fact MERGE is one window over source ∪ target: the plan that
    commits it broadcasts each of the five dimensions once."""
    from sales_azure_data_engineer_project_spark.operators.versioned import VersionedTable

    init = write_sales_csv(str(tmp_path / "init.csv"), INITIAL_ROWS)
    incr = write_sales_csv(str(tmp_path / "incr.csv"), INCREMENTAL_ROWS)
    pipe = SalesPipeline(spark, str(tmp_path / "zones"))
    pipe.run(init)
    committed = {}
    commit = VersionedTable._commit

    def spy(self, df, **kw):
        committed[os.path.basename(self.root)] = df
        return commit(self, df, **kw)

    monkeypatch.setattr(VersionedTable, "_commit", spy)
    pipe.run(incr)
    plan = committed["factsales"]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastExchange") == 5


def test_dimension_commits_have_no_exchange(spark, tmp_path, monkeypatch):
    """Each dimension commit is one single-partition stage: the plan
    that writes it, on the initial load and on a batch, has no
    Exchange."""
    from sales_azure_data_engineer_project_spark.operators.versioned import VersionedTable
    from sales_azure_data_engineer_project_spark.plans.pipeline import DIM_SPECS

    init = write_sales_csv(str(tmp_path / "init.csv"), INITIAL_ROWS)
    incr = write_sales_csv(str(tmp_path / "incr.csv"), INCREMENTAL_ROWS)
    pipe = SalesPipeline(spark, str(tmp_path / "zones"))
    committed = []
    commit = VersionedTable._commit

    def spy(self, df, **kw):
        committed.append((os.path.basename(self.root), df))
        return commit(self, df, **kw)

    monkeypatch.setattr(VersionedTable, "_commit", spy)
    pipe.run(init)
    pipe.run(incr)
    plans = [
        (table, df._jdf.queryExecution().executedPlan().toString())
        for table, df in committed
        if table in DIM_SPECS
    ]
    assert len(plans) == 2 * len(DIM_SPECS)
    assert [(t, p.count("Exchange")) for t, p in plans] == [(t, 0) for t, _ in plans]


# Jobs one incremental batch of the fixtures starts (measured: 15): one
# per dimension commit (five), the fact merge, bronze and silver.  Every
# gold table's plan runs once, in its commit; the margin absorbs AQE
# re-planning.
INCREMENTAL_RUN_JOB_BUDGET = 20


def test_incremental_run_job_budget(spark, tmp_path):
    init = write_sales_csv(str(tmp_path / "init.csv"), INITIAL_ROWS)
    incr = write_sales_csv(str(tmp_path / "incr.csv"), INCREMENTAL_ROWS)
    pipe = SalesPipeline(spark, str(tmp_path / "zones"))
    pipe.run(init)
    _, jobs = count_jobs(spark, lambda: pipe.run(incr))
    assert jobs <= INCREMENTAL_RUN_JOB_BUDGET


# Jobs the fixtures' initial load starts (measured: 15): the plans of an
# incremental batch, run into the empty gold tables created for it.
INITIAL_LOAD_JOB_BUDGET = 19


def test_initial_load_job_budget(spark, tmp_path):
    init = write_sales_csv(str(tmp_path / "init.csv"), INITIAL_ROWS)
    pipe = SalesPipeline(spark, str(tmp_path / "zones"))
    _, jobs = count_jobs(spark, lambda: pipe.run(init))
    assert jobs <= INITIAL_LOAD_JOB_BUDGET
