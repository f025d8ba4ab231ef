#!/usr/bin/env python
"""Time ONLY the Python-side construction of every registered query's
DataFrame (no noop-sink execution) — the r15 driver-latency probe.

The round-15 central measurement showed the local bill is often
DRIVER-side: a Column-API expression costs one py4j round-trip per
node, and eager builder jobs (trainer collects, localCheckpoint under
AQE) run at build time. This sweep separates that from executor work:
``construct`` = seconds to call ``workloads.ALL_QUERIES[name]`` and get
the DataFrame back. Queries whose builders run eager jobs (iterative
graph ops, trainers, checkpoint users) legitimately show large numbers
here; the interesting finds are NON-eager builders with construct
>> 0.1 s, which is pure py4j/parse latency.

Usage: SPARK_GRAFT_SF_DIR=... python tools/construct_sweep.py [--runs 2]
Prints one JSON line: {"construct": {name: min_sec, ...}}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from mapreduce_assignments_spark import workloads  # noqa: E402
from mapreduce_assignments_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--only", nargs="+", metavar="QUERY")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("construct-sweep")
    # warm-up: JVM + parquet footer caches
    workloads.ALL_QUERIES["word_count"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    out: dict[str, float] = {}
    for name in (args.only or workloads.ALL_QUERIES):
        best = None
        for _ in range(max(1, args.runs)):
            t0 = time.time()
            workloads.ALL_QUERIES[name](spark, sf_dir)
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)
        print(f"# {name}: {out[name]}", file=sys.stderr)
    print(json.dumps({"metric": "construct_sweep", "construct": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
