"""Each plan shape is compiled once per JVM.

Spark compiles the Java it generates for a plan with Janino and caches
the class, keyed by its source.  The counts below are cache misses read
from Spark's ``CodegenMetrics``, so they repeat exactly: a plan shape
the JVM already ran compiles nothing, provided the cache
(``spark.sql.codegen.cache.maxEntries``, set in ``get_spark``) holds the
engine's working set.
"""

from __future__ import annotations

from conftest import INCREMENTAL_ROWS, INITIAL_ROWS, write_sales_csv

from sales_azure_data_engineer_project_spark.plans import SalesPipeline
from sales_azure_data_engineer_project_spark.session import codegen_compilations


def _compiled(spark, fn) -> int:
    before = codegen_compilations(spark)
    fn()
    return codegen_compilations(spark) - before


def test_incremental_batches_reuse_the_initial_loads_classes(spark, tmp_path):
    """The initial load runs the incremental plans into empty gold
    tables, so the first batch after it compiles at most 4 classes
    (measured: 4, against 66 when the initial load took plans of its own
    with the same cache) and a second identical batch compiles none."""
    init = write_sales_csv(str(tmp_path / "init.csv"), INITIAL_ROWS)
    incr = write_sales_csv(str(tmp_path / "incr.csv"), INCREMENTAL_ROWS)
    pipe = SalesPipeline(spark, str(tmp_path / "zones"))
    pipe.run(init)
    assert _compiled(spark, lambda: pipe.run(incr)) <= 4
    assert _compiled(spark, lambda: pipe.run(incr)) == 0


def test_a_second_query_pass_compiles_nothing(spark, sf_smoke):
    """The benchmark's four star and corpus queries, run twice: the
    second pass finds every class of the first in the cache (with
    Spark's default of 100 entries it recompiled 95)."""
    import __spark_entry__ as entry_mod

    from sales_azure_data_engineer_project_spark.caching import release_caches

    queries = entry_mod.queries()

    def one_pass():
        for name in (
            "flagship_revenue_by_nation_year",
            "window_rank_suite",
            "dedup_exact",
            "similarity_ann_ivf",
        ):
            queries[name](spark, sf_smoke).collect()
            release_caches()

    one_pass()
    assert _compiled(spark, one_pass) == 0
