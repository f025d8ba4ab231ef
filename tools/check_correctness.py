#!/usr/bin/env python
"""Self-check harness for the driver contract (__spark_entry__.py).

Runs every ``queries()`` entry on Spark and, where an ``oracle_sql()``
entry exists, the oracle on DuckDB over the same parquet tables, then
compares:

- row count,
- schema (sorted column names),
- values (order-insensitive: rows sorted after sorting columns by
  name; exact equality, with a float tolerance fallback reported
  separately so near-misses are visible).

Usage:  python tools/check_correctness.py [--sf 0.001] [--only name]
Exit code 0 iff every checked query matches exactly.
"""

from __future__ import annotations

import argparse
import datetime
import json
import math
import sys
import time
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# perfbench/run.py reads TABLES from this module
from mapreduce_assignments_spark.sources.tables import TABLE_NAMES as TABLES  # noqa: E402


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # -0.0 == 0.0 but repr()s differently; normalize so the
        # repr-based row sort can't misalign otherwise-equal rows.
        return v + 0.0 if v == 0.0 else v
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple(repr(x) for x in t))
    return out


def _approx_eq(a, b, rel=1e-9, abs_=1e-9):
    if isinstance(a, float) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=rel, abs_tol=abs_)
    if isinstance(a, tuple) and isinstance(b, tuple) and len(a) == len(b):
        return all(_approx_eq(x, y, rel, abs_) for x, y in zip(a, b))
    return a == b


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="0.001")
    ap.add_argument(
        "--only", default=None, help="comma-separated query names to run"
    )
    ap.add_argument(
        "--all", action="store_true",
        help="also check workloads.EXTRA_QUERIES (sub-plan queries "
        "outside the 50-entry driver registry)",
    )
    ap.add_argument(
        "--pandas-canon", action="store_true",
        help="additionally replicate the DRIVER's pandas-based "
        "canonicalization (sort_values + dtype-sensitive value hash) "
        "for every checked query in the 50-entry window — catches "
        "ARRAY-output and dtype-drift queries the tuple-based check "
        "here passes but the driver rejects (round-5 failure class)",
    )
    ap.add_argument(
        "--vanilla-session", action="store_true",
        help="run on an unconfigured SparkSession (like the driver's "
        "harness) instead of session.get_spark — catches any workload "
        "that silently depends on our session conf",
    )
    args = ap.parse_args()
    sf_dir = f"/root/testdata/sf{args.sf}"

    import __spark_entry__ as entrymod
    from mapreduce_assignments_spark import workloads

    if args.vanilla_session:
        from pyspark.sql import SparkSession

        # deliberately NOT UTC: flushes out timezone-sensitive
        # timestamp rendering that only works under our own session
        spark = (
            SparkSession.builder.master("local[4]")
            .appName("check-correctness-vanilla")
            .config("spark.sql.session.timeZone", "America/New_York")
            .getOrCreate()
        )
    else:
        from mapreduce_assignments_spark.session import get_spark

        spark = get_spark("check-correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    queries = entrymod.queries()
    if args.all:
        queries = dict(workloads.ALL_QUERIES)
    names = args.only.split(",") if args.only else list(queries)
    if args.only:
        queries = dict(workloads.ALL_QUERIES)  # --only may name an extra query
    results: dict[str, dict] = {}
    n_fail = 0
    for name in names:
        t0 = time.time()
        rec: dict = {}
        try:
            df = queries[name](spark, sf_dir)
            s_cols = df.columns
            s_rows = [tuple(r) for r in df.collect()]
            rec["spark_rows"] = len(s_rows)
            rec["spark_secs"] = round(time.time() - t0, 2)
        except Exception as e:  # noqa: BLE001
            rec["status"] = "SPARK-ERROR"
            rec["error"] = f"{type(e).__name__}: {e}"[:400]
            results[name] = rec
            n_fail += 1
            print(f"[FAIL] {name}: spark error: {rec['error']}")
            continue
        try:
            cur = con.execute(workloads.ORACLE[name])
            d_cols = [d[0] for d in cur.description]
            d_rows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            rec["status"] = "ORACLE-ERROR"
            rec["error"] = f"{type(e).__name__}: {e}"[:400]
            results[name] = rec
            n_fail += 1
            print(f"[FAIL] {name}: oracle error: {rec['error']}")
            continue
        rec["oracle_rows"] = len(d_rows)
        if sorted(s_cols) != sorted(d_cols):
            rec["status"] = "SCHEMA-MISMATCH"
            rec["spark_cols"] = sorted(s_cols)
            rec["oracle_cols"] = sorted(d_cols)
            n_fail += 1
            results[name] = rec
            print(f"[FAIL] {name}: schema {sorted(s_cols)} vs {sorted(d_cols)}")
            continue
        if len(s_rows) != len(d_rows):
            rec["status"] = "ROWCOUNT-MISMATCH"
            n_fail += 1
            results[name] = rec
            print(f"[FAIL] {name}: rows {len(s_rows)} vs {len(d_rows)}")
            continue
        sc = _canon(s_rows, s_cols)
        dc = _canon(d_rows, d_cols)
        if sc == dc:
            rec["status"] = "OK"
            if args.pandas_canon:
                # Canon-check EVERY checked query with an oracle, not
                # just the current 50-window: rotation candidates live
                # in EXTRA_QUERIES until rotated in, and a silently
                # skipped canon check there let the round-5 ARRAY/dtype
                # driver failures through (round-6 ADVICE, medium).
                from mapreduce_assignments_spark import harness_compat

                lint = harness_compat.lint_spark_schema(df)
                if lint and name not in workloads.QUERIES:
                    # ARRAY/MAP/STRUCT output is legal outside the
                    # window but can never rotate in — surface it
                    # loudly instead of printing a plain [ok].
                    rec["canon_issues"] = lint
                    print(
                        f"[ok] {name}: {len(s_rows)} rows in "
                        f"{rec['spark_secs']}s (canon: UNSORTABLE — "
                        "window-INELIGIBLE, keep in EXTRA_QUERIES)"
                    )
                    results[name] = rec
                    continue
                issues = lint or harness_compat.pandas_canon_compare(
                    df.toPandas(), con.execute(workloads.ORACLE[name]).df()
                )
                if issues:
                    rec["status"] = "DRIVER-CANON-FAIL"
                    rec["canon_issues"] = issues
                    n_fail += 1
                    print(f"[FAIL] {name}: driver-canon: {issues}")
                    results[name] = rec
                    continue
            print(f"[ok] {name}: {len(s_rows)} rows in {rec['spark_secs']}s")
        elif all(_approx_eq(a, b) for a, b in zip(sc, dc)):
            rec["status"] = "APPROX-ONLY"
            n_fail += 1
            bad = next((a, b) for a, b in zip(sc, dc) if a != b)
            rec["first_diff"] = [repr(bad[0])[:200], repr(bad[1])[:200]]
            print(f"[FAIL] {name}: approx-equal but not exact: {rec['first_diff']}")
        else:
            rec["status"] = "VALUE-MISMATCH"
            n_fail += 1
            bad = next(((a, b) for a, b in zip(sc, dc) if not _approx_eq(a, b)), None)
            rec["first_diff"] = [repr(bad[0])[:200], repr(bad[1])[:200]] if bad else None
            print(f"[FAIL] {name}: values differ: {rec['first_diff']}")
        results[name] = rec

    ok = sum(1 for r in results.values() if r["status"] == "OK")
    print(
        f"\n{ok} exact-match, {n_fail} failing, "
        f"{len(results)} total at sf{args.sf}"
    )
    print(json.dumps({k: v["status"] for k, v in results.items()}))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
