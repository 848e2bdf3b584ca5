"""Local replica of the driver's correctness gate — pandas-path faithful.

Why pandas-path faithful: the driver compares
``sdf.toPandas()`` against ``duckdb_con.execute(sql).df()`` and hashes a
string canonicalization of the cells.  Spark's toPandas keeps DECIMAL
columns as ``decimal.Decimal`` objects with scale preserved ('2547.40')
while DuckDB's pandas path converts DECIMAL to float64 ('2547.4'), so a
value-exact comparison (collect vs fetchall, Decimal == Decimal) passes
where the driver's hash fails.  This gate therefore:

- converts through the SAME pandas paths the driver uses;
- canonicalizes ``decimal.Decimal`` WITHOUT normalizing scale (so a
  trailing-zero mismatch fails here exactly like it fails there);
- treats list/array cells as hard errors (pandas lexsort crashes on
  unhashable cells in the driver — 'orders_per_customer_array' r1);
- flags any per-column pandas dtype disagreement, the leading indicator
  of the whole failure class.

Its last line is the number of classes Janino compiled during the run,
with the codegen cache size next to it: a registry pass that compiles
more classes than the cache holds evicts them before they are reused.

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon_cell(v) -> str:
    """Stringify one pandas cell the way a canonical hash would see it.

    Floats use repr (shortest round-trip — two floats produce the same
    string iff they are the same double).  Decimals use str WITH scale
    (driver-faithful: Decimal('2547.40') != float 2547.4).
    """
    import numpy as np

    if v is None:
        return "\x00NULL"
    if isinstance(v, float) and math.isnan(v):
        return "\x00NULL"
    if isinstance(v, np.floating):
        fv = float(v)
        return "\x00NULL" if math.isnan(fv) else repr(fv)
    if isinstance(v, (list, tuple, np.ndarray)):
        raise TypeError(f"unhashable array cell (driver would crash): {v!r}")
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
    out = []
    for row in pdf[cols].itertuples(index=False, name=None):
        out.append("|".join(canon_cell(v) for v in row))
    out.sort()
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entry_mod
    from sales_azure_data_engineer_project_spark.schemas import TESTDATA_TABLES
    from sales_azure_data_engineer_project_spark.session import codegen_compilations, get_spark

    spark = get_spark("oracle-check")
    compiled_before = codegen_compilations(spark)
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    # fail LOUDLY on unknown filters: a typo'd or flag-style argument
    # ("--only", "a,b,c") would otherwise match nothing and print a
    # vacuous "0 failures"
    unknown = [n for n in only if n not in qs]
    if unknown:
        raise SystemExit(
            f"unknown query name(s) {unknown}; usage: check_oracle.py "
            "[sf_dir] [query_name ...] (names are space-separated)"
        )
    if not os.path.isdir(sf_dir):
        raise SystemExit(f"sf_dir {sf_dir!r} is not a directory")
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            continue
        finally:
            # free query-builder persists (shingles, signatures, code
            # tables) so a full-battery session doesn't accumulate cache
            from sales_azure_data_engineer_project_spark.caching import release_caches

            release_caches()
        if name not in oracles:
            print(
                f"ok   {name}: rows-only ({len(spdf)} rows, no oracle) "
                f"[{time.time()-t0:.1f}s]"
            )
            continue
        try:
            dpdf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {e}")
            continue
        msgs = []
        if len(spdf) != len(dpdf):
            msgs.append(f"rowcount spark={len(spdf)} duck={len(dpdf)}")
        if sorted(spdf.columns) != sorted(dpdf.columns):
            msgs.append(
                f"cols spark={sorted(spdf.columns)} duck={sorted(dpdf.columns)}"
            )
        if not msgs:
            # dtype-kind parity: the canary for the decimal/object-vs-
            # float64 class even when stringified values happen to agree.
            # Same-kind width differences (int32 vs int64) canonicalize
            # to the same value strings, so they only warn.
            for c in sorted(spdf.columns):
                sd, dd = spdf[c].dtype, dpdf[c].dtype
                if sd.kind != dd.kind:
                    msgs.append(f"dtype[{c}] spark={sd} duck={dd}")
                elif str(sd) != str(dd):
                    print(f"warn {name}: dtype[{c}] spark={sd} duck={dd}")
        if not msgs:
            try:
                sc, dc = canon_frame(spdf), canon_frame(dpdf)
            except TypeError as e:
                msgs.append(str(e))
            else:
                if sc != dc:
                    diff = [(a, b) for a, b in zip(sc, dc) if a != b][:3]
                    msgs.append(f"values differ; first diffs: {diff}")
        if msgs:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(msgs)}")
        else:
            print(f"ok   {name}: {len(spdf)} rows match [{time.time()-t0:.1f}s]")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    # the run's codegen working set, against the cache that must hold it
    print(
        f"janino compilations: {codegen_compilations(spark) - compiled_before} "
        f"(spark.sql.codegen.cache.maxEntries="
        f"{spark.conf.get('spark.sql.codegen.cache.maxEntries')})"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
