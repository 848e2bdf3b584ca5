"""Correctness checks, run outside every timed region.

- :func:`medallion_mismatches` recomputes the SCD-1 medallion in DuckDB
  from the generated CSVs alone and compares it with the gold zone the
  pipeline committed, on natural keys.
- :func:`oracle_mismatch` compares one query result with its DuckDB
  ``oracle_sql()`` twin, canonicalized the way ``tools/check_oracle.py``
  does (row count, column names, dtype kind, order-insensitive values).
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np

from gen import SALES_COLUMNS

_CSV_TYPES = dict.fromkeys(SALES_COLUMNS, "VARCHAR") | dict.fromkeys(
    ("Revenue", "Units_Sold", "Day", "Month", "Year"), "BIGINT"
)

# dim name -> natural key columns, expected (natural key + attributes) projection
DIMS = {
    "dim_model": (["Model_ID"], "Model_ID, split_part(Model_ID, '-', 1) AS model_category"),
    "dim_branch": (["Branch_ID"], "Branch_ID, BranchName"),
    "dim_dealer": (["Dealer_ID"], "Dealer_ID, DealerName"),
    "dim_date": (["Date_ID"], "Date_ID"),
    "dim_calendar": (
        ["Year", "Month", "Day"],
        "Year, Month, Day, strftime(make_date(Year, Month, Day), '%Y-%m-%d') AS date_iso",
    ),
}
GRAIN = ["Model_ID", "Branch_ID", "Dealer_ID", "Date_ID", "Year", "Month", "Day"]
# the dimension each grain column is read back from
DIMS_OWNER = {
    "Model_ID": "dim_model", "Branch_ID": "dim_branch", "Dealer_ID": "dim_dealer",
    "Date_ID": "dim_date", "Year": "dim_calendar", "Month": "dim_calendar", "Day": "dim_calendar",
}


def gold_path(gold: str, table: str) -> str:
    root = os.path.join(gold, table)
    with open(os.path.join(root, "_VERSION")) as f:
        return os.path.join(root, f"v={int(f.read())}", "*.parquet")


def medallion_mismatches(csv_paths: list[str], gold: str) -> dict[str, int]:
    """Check name -> number of mismatching rows (0 everywhere when correct).

    Expected state after loading ``csv_paths`` in order: every natural key
    carries the attributes of the last load that contained it, and every
    fact grain carries the measures summed within the last load that
    contained it.
    """
    con = duckdb.connect()
    loads = " UNION ALL ".join(
        f"SELECT *, {i} AS load FROM read_csv('{p}', header=true, columns={_CSV_TYPES})"
        for i, p in enumerate(csv_paths)
    )
    con.execute(f"CREATE TABLE raw AS {loads}")
    out: dict[str, int] = {}
    for dim, (nk, proj) in DIMS.items():
        keys = ", ".join(nk)
        con.execute(
            f"CREATE TABLE exp_{dim} AS SELECT DISTINCT {proj} FROM "
            f"(FROM raw QUALIFY load = max(load) OVER (PARTITION BY {keys}))"
        )
        con.execute(f"CREATE VIEW {dim} AS SELECT * FROM read_parquet('{gold_path(gold, dim)}')")
        cols = _cols(con, f"exp_{dim}")
        out[f"{dim}.attributes"] = _sym_diff(con, f"SELECT {cols} FROM exp_{dim}", f"SELECT {cols} FROM {dim}")
        out[f"{dim}.key_unique"] = con.execute(
            f"SELECT count(*) - count(DISTINCT {dim}_key) + count(*) - count(DISTINCT ({keys})) FROM {dim}"
        ).fetchone()[0]
    grain = ", ".join(GRAIN)
    con.execute(
        f"CREATE TABLE exp_fact AS SELECT {grain}, Revenue, Units_Sold, Revenue / Units_Sold AS Rev_Per_Unit "
        f"FROM (SELECT {grain}, load, sum(Revenue) AS Revenue, sum(Units_Sold) AS Units_Sold "
        f"FROM raw GROUP BY ALL) "
        f"QUALIFY load = max(load) OVER (PARTITION BY {grain})"
    )
    con.execute(f"CREATE VIEW factsales AS SELECT * FROM read_parquet('{gold_path(gold, 'factsales')}')")
    joins = " ".join(f"LEFT JOIN {d} ON f.{d}_key = {d}.{d}_key" for d in DIMS)
    nat = ", ".join(f"{DIMS_OWNER[c]}.{c}" for c in GRAIN)
    got = f"SELECT {nat}, f.Revenue, f.Units_Sold, f.Rev_Per_Unit FROM factsales f {joins}"
    out["factsales.measures"] = _sym_diff(con, "SELECT * FROM exp_fact", got)
    out["factsales.grain_unique"] = con.execute(
        "SELECT count(*) - count(DISTINCT (dim_model_key, dim_branch_key, dim_dealer_key, "
        "dim_date_key, dim_calendar_key)) FROM factsales"
    ).fetchone()[0]
    missing = " OR ".join(f"{d}.{d}_key IS NULL" for d in DIMS)
    out["factsales.referential"] = con.execute(
        f"SELECT count(*) FROM factsales f {joins} WHERE {missing}"
    ).fetchone()[0]
    con.close()
    return out


def _cols(con, table: str) -> str:
    return ", ".join(r[0] for r in con.execute(f"DESCRIBE {table}").fetchall())


def _sym_diff(con, a: str, b: str) -> int:
    """Rows in exactly one of two multisets."""
    return con.execute(
        f"SELECT (SELECT count(*) FROM (({a}) EXCEPT ALL ({b}))) + "
        f"(SELECT count(*) FROM (({b}) EXCEPT ALL ({a})))"
    ).fetchone()[0]


# -- query oracles -------------------------------------------------------------

def _canon_cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "\x00NULL"
    if isinstance(v, np.floating):
        return "\x00NULL" if math.isnan(float(v)) else repr(float(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        raise TypeError(f"array cell {v!r}")
    if isinstance(v, (bool, np.bool_)):
        return f"b:{int(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, float):
        return repr(v)
    if hasattr(v, "isoformat"):
        return f"t:{v.isoformat()}"
    return str(v)


def canon_frame(pdf) -> list[str]:
    cols = sorted(pdf.columns)
    return sorted("|".join(_canon_cell(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None))


def oracle_connection(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
    return con


def oracle_mismatch(spdf, con, sql: str) -> str | None:
    """None when the Spark result matches the oracle, else the first reason."""
    dpdf = con.execute(sql).df()
    if len(spdf) != len(dpdf):
        return f"rowcount spark={len(spdf)} duckdb={len(dpdf)}"
    if sorted(spdf.columns) != sorted(dpdf.columns):
        return f"columns spark={sorted(spdf.columns)} duckdb={sorted(dpdf.columns)}"
    for c in spdf.columns:
        if spdf[c].dtype.kind != dpdf[c].dtype.kind:
            return f"dtype[{c}] spark={spdf[c].dtype} duckdb={dpdf[c].dtype}"
    try:
        if canon_frame(spdf) != canon_frame(dpdf):
            return "values differ"
    except TypeError as e:
        return str(e)
    return None
