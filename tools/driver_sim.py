"""Driver-faithful rehearsal of the sf0.01 oracle gate.

``python tools/driver_sim.py [names...]`` replays the oracle check over
every registered query (or the named subset) on a vanilla session in a
non-UTC time zone, printing ``FAILS: ...``.
"""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def simulate(only: list[str] | None = None) -> list[tuple[str, str]]:
    """Vanilla session, non-UTC TZ, pandas-path comparison — the local
    rehearsal of the driver's sf0.01 oracle gate."""
    os.environ["TZ"] = "Asia/Kolkata"
    import time as _t

    _t.tzset()
    import math

    import duckdb
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .appName("driver-sim")
        .getOrCreate()
    )
    import __spark_entry__ as m

    con = duckdb.connect()
    sf = "/root/testdata/sf0.01"
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        p = f"{sf}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    qs, os_ = m.queries(), m.oracle_sql()
    if only:
        qs = {n: qs[n] for n in only}
    fails = []
    for name, fn in qs.items():
        try:
            spdf = fn(spark, sf).toPandas()
        except Exception as ex:
            fails.append((name, f"spark: {ex}"))
            continue
        if name not in os_:
            continue
        try:
            dpdf = con.execute(os_[name]).df()
        except Exception as ex:
            fails.append((name, f"duck: {ex}"))
            continue
        if len(spdf) != len(dpdf):
            fails.append((name, f"rows {len(spdf)} vs {len(dpdf)}"))
            continue
        sc = sorted(spdf.columns)
        if sc != sorted(dpdf.columns):
            fails.append((name, "cols"))
            continue

        def canon(pdf):
            out = []
            for row in pdf[sc].itertuples(index=False, name=None):
                cells = []
                for v in row:
                    if v is None or (isinstance(v, float) and math.isnan(v)):
                        cells.append("NULL")
                    else:
                        cells.append(
                            repr(float(v)) if isinstance(v, float) else str(v)
                        )
                out.append("|".join(cells))
            return sorted(out)

        if canon(spdf) != canon(dpdf):
            fails.append((name, "values"))
    return fails


if __name__ == "__main__":
    fails = simulate(sys.argv[1:] or None)
    print("FAILS:", fails if fails else "none", flush=True)
