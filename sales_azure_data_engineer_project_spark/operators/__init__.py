"""Operator library.

- ``upsert``      — SCD-1 MERGE semantics over Parquet (Delta fallback, S7)
- ``dimensions``  — generic SCD-1 dimension builder (3(1..4)_Gold_dim_*.py)
- ``fact``        — star fact assembly (4_Gold_fact_sales_table.py)
- ``dedup``       — exact / MinHash-LSH / SimHash / embedding near-dup
                    (training-data extensions)
- ``similarity``  — cosine top-k ANN over embedding columns
- ``text``        — tokenization, quality scoring, fingerprints
"""
