"""Command-line entry point — the reference's ADF-trigger surface (X1/X2)
as a plain CLI.

    python -m sales_azure_data_engineer_project_spark.cli \
        --root /tmp/zones --csv /root/reference/RawData/SalesData.csv
    python -m sales_azure_data_engineer_project_spark.cli \
        --root /tmp/zones --csv /root/reference/RawData/IncrementalSales.csv

Each invocation is one pipeline run (initial or incremental is inferred
from sink state — the widget flag's only real effect, SURVEY X1).
``--report`` prints the data-quality report; ``--analysis`` runs the
reference's units-by-branch-year query.

The registered analytics/dedup/similarity/text library is also
runnable directly:

    python -m sales_azure_data_engineer_project_spark.cli --list-queries
    python -m sales_azure_data_engineer_project_spark.cli \
        --run-query pricing_summary --sf-dir /root/testdata/sf0.01 --show 10
"""

from __future__ import annotations

import argparse
import json

from .plans import SalesPipeline
from .session import get_spark


def _registry():
    from . import queries_analytics, queries_extensions  # noqa: F401 (register)
    from .queries_core import QUERIES

    return QUERIES


def main() -> int:
    ap = argparse.ArgumentParser(prog="sales_azure_data_engineer_project_spark")
    ap.add_argument("--root", help="zone root directory (pipeline mode)")
    ap.add_argument("--csv", help="raw sales CSV to load (pipeline mode)")
    ap.add_argument("--report", action="store_true", help="print quality report")
    ap.add_argument("--analysis", action="store_true", help="print units by branch/year")
    ap.add_argument("--show", type=int, default=None,
                    help="rows to print (default: 20 in --run-query mode, "
                         "0 i.e. nothing in pipeline mode)")
    ap.add_argument("--list-queries", action="store_true",
                    help="list every registered query name and exit")
    ap.add_argument("--run-query", metavar="NAME",
                    help="run one registered query against --sf-dir")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                    help="testdata directory for --run-query")
    args = ap.parse_args()

    if args.list_queries:
        for name in _registry():
            print(name)
        return 0

    if args.run_query:
        queries = _registry()
        if args.run_query not in queries:
            ap.error(f"unknown query {args.run_query!r} (see --list-queries)")
        spark = get_spark("sales-query-cli")
        df = queries[args.run_query](spark, args.sf_dir)
        show = 20 if args.show is None else args.show
        if show:
            df.show(show, truncate=False)
        else:
            # --show 0: execute without printing (timing / smoke use)
            df.count()
        from .caching import release_caches

        release_caches()
        return 0

    if not args.root or not args.csv:
        ap.error("pipeline mode needs --root and --csv")

    spark = get_spark("sales-pipeline-cli")
    pipe = SalesPipeline(spark, args.root)
    out = pipe.run(args.csv)

    counts = {t: df.count() for t, df in out.items()}
    print(json.dumps({"tables": counts}, sort_keys=True))

    if args.show:
        for t, df in out.items():
            print(f"== {t} ==")
            df.show(args.show, truncate=False)
    if args.analysis:
        pipe.units_by_branch_year().show(50, truncate=False)
    if args.report:
        print(json.dumps(pipe.quality_report(), sort_keys=True))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
