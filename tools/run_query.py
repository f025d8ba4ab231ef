#!/usr/bin/env python
"""Run any registered query by name — the engine's user-facing CLI.

A user of the reference runs each workload as a hadoop/pig job with an
output directory; the equivalent here is one command against the
registry:

    python tools/run_query.py pmi                       # show 20 rows
    python tools/run_query.py word_count --limit 50
    python tools/run_query.py revenue_by_nation --out /tmp/rev.parquet
    python tools/run_query.py tf_idf --out /tmp/t.csv --format csv
    python tools/run_query.py --list                    # every name

``--sf-dir`` points at any directory holding the engine's parquet
tables (default $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.001).
Sinks write through Spark (parquet/csv/json), so output scales with
the cluster — the driver never materializes the result.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("query", nargs="?", help="registered query name")
    ap.add_argument("--list", action="store_true", help="list query names and exit")
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"),
        help="directory holding the parquet tables",
    )
    ap.add_argument("--out", help="output path; extension-independent, see --format")
    ap.add_argument(
        "--format",
        choices=("parquet", "csv", "json"),
        default="parquet",
        help="sink format for --out (default parquet)",
    )
    ap.add_argument("--limit", type=int, default=20, help="rows to show without --out")
    ap.add_argument("--explain", action="store_true", help="print the physical plan too")
    ap.add_argument(
        "--oracle",
        action="store_true",
        help="also run the query's DuckDB oracle SQL on the same tables "
        "and print its row count (user-facing sanity check)",
    )
    args = ap.parse_args()

    from mapreduce_assignments_spark import workloads

    if args.list or not args.query:
        for name in sorted(workloads.ALL_QUERIES):
            print(name)
        return 0
    if args.query not in workloads.ALL_QUERIES:
        print(f"unknown query {args.query!r}; --list shows all", file=sys.stderr)
        return 2

    from mapreduce_assignments_spark.session import get_spark

    spark = get_spark(f"run-{args.query}")
    t0 = time.time()
    df = workloads.ALL_QUERIES[args.query](spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    if args.out:
        writer = df.write.mode("overwrite")
        if args.format == "csv":
            writer = writer.option("header", "true")
        getattr(writer, args.format)(args.out)
        print(f"wrote {args.out} [{args.format}] in {time.time() - t0:.2f}s")
    else:
        df.show(args.limit, truncate=40)
        print(f"({args.query} in {time.time() - t0:.2f}s)")
    if args.oracle:
        import duckdb

        from mapreduce_assignments_spark.sources.tables import TABLE_NAMES

        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS "
                f"SELECT * FROM '{args.sf_dir}/{t}.parquet'"
            )
        n = con.sql(workloads.ORACLE[args.query]).df().shape[0]
        print(f"(oracle rows: {n})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
