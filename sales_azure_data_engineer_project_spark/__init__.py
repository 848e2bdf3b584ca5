"""PySpark-native analytics engine with the query and data-processing
capabilities of udayjagga/Sales-Azure-Data-Engineer-Project, re-expressed Spark-first.

The reference is a Databricks medallion-lakehouse pipeline (bronze CSV →
silver parquet → gold star schema with SCD-1 upserts).  This engine
re-derives those semantics as a clean, testable, locally-runnable library:

- ``session``    — SparkSession builder tuned for local AND cluster scale
- ``schemas``    — explicit StructTypes (reference infers; we declare)
- ``io``         — sources/sinks: CSV (BOM/quoted-comma/null-safe), Parquet
- ``operators``  — SCD-1 dimension builder, star fact builder, MERGE
                   fallback, dedup family, similarity search, text analysis
- ``plans``      — pipeline orchestration (bronze→silver→gold DAG)
- ``streaming``  — Structured Streaming incremental upsert (foreachBatch)
"""

__version__ = "0.1.0"
