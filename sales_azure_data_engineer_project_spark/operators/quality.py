"""Data-quality expectation checks.

The reference has zero validation — dirt flows straight to gold
(31 empty DealerNames, non-FD Date_IDs; SURVEY §5).  A production
engine needs declarative expectations evaluated ON the cluster (one
aggregate job per table, never a driver-side loop):

    report = check(df, [not_null("k"), unique("k"),
                        in_range("qty", 1, 3),
                        references(dim, "k")])

Each expectation returns a violation COUNT (cheap, aggregable); callers
choose warn vs fail.  One pass computes all row-local expectations;
set-level ones (unique, referential) each add one aggregation/join —
the same cost envelope as Delta Live Tables expectations.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "Expectation",
    "not_null",
    "unique",
    "in_range",
    "matches",
    "references",
    "check",
]


@dataclass(frozen=True)
class Expectation:
    name: str
    # row-local expectations contribute a 0/1 violation column to one
    # shared aggregate pass; set-level ones run their own small job
    violation_col: Column | None = None
    runner: Callable[[DataFrame], int] | None = None


def not_null(col: str) -> Expectation:
    return Expectation(
        f"not_null({col})", F.when(F.col(col).isNull(), 1).otherwise(0)
    )


def in_range(col: str, lo, hi) -> Expectation:
    bad = F.col(col).isNotNull() & ~F.col(col).between(lo, hi)
    return Expectation(f"in_range({col},[{lo},{hi}])", F.when(bad, 1).otherwise(0))


def matches(col: str, pattern: str) -> Expectation:
    bad = F.col(col).isNotNull() & ~F.col(col).rlike(pattern)
    return Expectation(f"matches({col},{pattern})", F.when(bad, 1).otherwise(0))


def unique(*cols: str) -> Expectation:
    def run(df: DataFrame) -> int:
        dups = (
            df.groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .agg(F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).alias("v"))
        )
        return int(dups.first()["v"])

    return Expectation(f"unique({','.join(cols)})", runner=run)


def references(dim: DataFrame, fk: str) -> Expectation:
    """Referential integrity: rows whose ``fk`` has no match in ``dim``'s
    column of the same name."""

    def run(df: DataFrame) -> int:
        orphans = df.filter(F.col(fk).isNotNull()).join(
            dim.select(fk).distinct(), on=fk, how="left_anti"
        )
        return orphans.count()

    return Expectation(f"references({fk})", runner=run)


def check(df: DataFrame, expectations: list[Expectation]) -> dict[str, int]:
    """Evaluate expectations; returns {name: violation_count}.

    All row-local expectations share ONE aggregate job.
    """
    report: dict[str, int] = {}
    row_local = [e for e in expectations if e.violation_col is not None]
    if row_local:
        aggs = [F.sum(e.violation_col).cast("bigint").alias(e.name) for e in row_local]
        row = df.agg(*aggs).first()
        for e in row_local:
            report[e.name] = int(row[e.name] or 0)
    for e in expectations:
        if e.runner is not None:
            report[e.name] = e.runner(df)
    return report
