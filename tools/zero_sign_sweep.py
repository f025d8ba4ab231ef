#!/usr/bin/env python
"""Empirical sign-of-zero sweep over every DuckDB oracle (the
round-10 ``embedding_covariance`` driver-red class).

DuckDB's multiply-based ``round()`` emits ``-0.0`` for tiny-negative
results; Spark's BigDecimal HALF_UP round emits ``+0.0``. The driver's
value hash (``pd.util.hash_pandas_object``) covers the raw sign bit,
so a single ``-0.0`` cell reds the row even though ``-0.0 == +0.0``.
Textual sign analysis is hopeless (an embedding-component MEAN is
sign-indefinite with no ``-`` anywhere in the SQL), and the exposure
is data-dependent: round 10 measured zero hits at sf0.001 and six
live cells at the driver's sf0.01. So this gate is EMPIRICAL and runs
at the driver's own scale: execute every ``workloads.ORACLE`` SQL in
DuckDB against the sf parquet tables and signbit-check every zeroed
float cell. Any hit must gain a ``+ 0.0`` zero-sign normalizer in
BOTH engines (IEEE round-to-nearest: ``-0.0 + 0.0 = +0.0``; Spark's
side already emits ``+0.0`` but the normalizer is applied
symmetrically — see embedding_covariance).

No Spark session needed — the sweep is pure DuckDB and runs the full
253-query registry in well under a minute at sf0.01.

Usage: python tools/zero_sign_sweep.py [--sf-dir /root/testdata/sf0.01]
Exit 1 on any negative-zero cell.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

import duckdb
import numpy as np

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from mapreduce_assignments_spark.sources.tables import TABLE_NAMES  # noqa: E402


def sweep(sf_dir: str) -> tuple[dict[str, list[str]], list[str]]:
    """Returns ({query: [column descriptions with -0.0 cells]},
    [queries that errored])."""
    from mapreduce_assignments_spark import workloads

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{sf_dir}/{t}.parquet')"
        )
    hits: dict[str, list[str]] = {}
    errs: list[str] = []
    for name, sql in sorted(workloads.ORACLE.items()):
        try:
            df = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001 — report, don't mask
            errs.append(f"{name}: {type(e).__name__}: {e}")
            continue
        for c in df.columns:
            if not str(df[c].dtype).startswith("float"):
                continue
            v = df[c].to_numpy()
            neg = np.signbit(v) & (v == 0.0)
            if neg.any():
                hits.setdefault(name, []).append(
                    f"{c}: {int(neg.sum())} cell(s) of -0.0"
                )
    return hits, errs


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir",
        default="/root/testdata/sf0.01",
        help="parquet table dir (default: the driver's sf0.01)",
    )
    args = ap.parse_args()
    hits, errs = sweep(args.sf_dir)
    for name, cols in sorted(hits.items()):
        print(
            f"[NEGZERO] {name}: {'; '.join(cols)} -> append a '+ 0.0'"
            " zero-sign normalizer to the rounded expression in BOTH"
            " the oracle and the Spark operator"
        )
    for e in errs:
        print(f"[ERR] {e}")
    if not hits and not errs:
        print(f"zero-sign sweep clean over {args.sf_dir}")
    return 1 if (hits or errs) else 0


if __name__ == "__main__":
    raise SystemExit(main())
