"""SparkSession construction.

The reference runs on a managed Databricks cluster and never constructs a
session (`spark` is ambient in every notebook, e.g.
`Transformation NoteBooks (PysSpark)/2_Silver_Notebook.py:7`).  Here we own
session construction and make the scale-relevant choices explicit:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting) so the
  same code survives local[32] at sf0.001 and a 1000-executor cluster at
  100 TB without re-tuning.
- ``spark.sql.shuffle.partitions`` sized by env (cores locally; on a real
  cluster AQE's coalescing makes the initial number mostly irrelevant).
- UTC session timezone so results hash-match a DuckDB oracle (DuckDB
  timestamps are UTC-naive).
- Arrow on for every pandas/Pandas-UDF boundary.
- Case-insensitive resolution kept (Spark default) — load-bearing in the
  reference (`3(3)_Gold_dim_dealer.py:79` resolves `dim_Dealer_key`).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "codegen_compilations"]


def _cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 4


def get_spark(
    app_name: str = "sales-azure-data-engineer-project-spark",
    *,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local defaults favor fast iteration; every setting here is also the
    right *direction* at cluster scale (AQE, Arrow, partition-size caps).
    """
    cpus = _cpus()
    shuffle_partitions = shuffle_partitions or cpus

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # INT96 (Spark's legacy default) carries NO column statistics,
        # which silently disables timestamp data skipping (manifests,
        # row-group pruning); TIMESTAMP_MICROS is the modern format
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # 128 MB split target: sane for both local sf0.1 and a 100 TB scan.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Broadcast threshold: dims in the star schema are ALWAYS broadcast
        # (reference dims are <=277 rows; TPC-H dims scale far slower than
        # the fact table).  32 MB is safe for executors with >=4 GB heap.
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Plan-STRING cap.  Spark renders a physicalPlanDescription for
        # every execution (even with the UI off); the renderer expands
        # plan DAGs into TREES, so a composed query whose lazy persists
        # are referenced from several report branches (the train-prep
        # funnel: dc ×3 → sd → slv ×2 → the hierarchical-quantizer
        # union) explodes exponentially IN THE STRING while executing
        # fine — the round-8 300× funnel OOM was StringConcat.append
        # inside QueryExecution.explainString, not a data operator.
        # Spark's default cap is ~2³¹ chars, i.e. unbounded in practice.
        # 20M chars (~40 MB) sits 3× above the fleet's largest LEGIT
        # plan string (the composed funnel renders 7.2M chars at smoke
        # SF — measured round 8), so the plan-hygiene audits that parse
        # executedPlan().toString() never see a truncated plan, while
        # the pathological exponential render stays bounded.
        .config("spark.sql.maxPlanStringLength", "20000000")
        .config("spark.ui.showConsoleProgress", "false")
        # Janino's compiled-class cache: LRU, one per JVM, keyed by the
        # generated source.  Classes per operation, counted with Spark's
        # CodegenMetrics on perfbench's seed-7 inputs: the medallion
        # initial load 102, then 4 for its first batch and 0 for later
        # ones; a pass of the four benchmark star/corpus queries 133.
        # Under Spark's default of 100 entries the working set (about
        # 100-230 classes) does not fit, so each class was evicted
        # before its plan shape ran again: every medallion batch
        # recompiled 54-76 classes and every star pass 130.  2000 is
        # nearly 9x the largest of these.  It does not hold a whole
        # registry pass (tools/check_oracle.py prints the count: 2,457
        # at sf0.01), which is not one operation's working set.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # The corpus events table has shipped as TIMESTAMP(NANOS) (reader
        # rejects it — read as long, normalize in io) and as naive
        # timestamp[us] (read as a UTC instant, not NTZ, so time functions
        # and the zone-naive oracle agree).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.legacy.createHiveTableByDefault", "false")
        # the default database's directory (Spark creates it at session
        # start) stays outside the checkout rather than in the cwd
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark



def codegen_compilations(spark: SparkSession) -> int:
    """Generated classes Janino has compiled in this JVM so far: the
    codegen cache's misses, counted by Spark's ``CodegenMetrics``."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
