#!/usr/bin/env python
"""Time ONE registered query at one sf_dir in a FRESH process.

Heavy scale probes (sf1/sf3/sf10) must each run in their own JVM —
successive heavy runs in a shared local JVM hit heap pressure and
skew the reading (round-8 lesson, docs/SCALE.md). This wraps the
bench's noop-sink timing for a single (query, sf_dir, partitions)
triple (``bench._time_query`` after ``bench``'s own warm-up) and
prints one JSON line.

Usage:
  python tools/probe_one.py QUERY SF_DIR [--partitions N] [--runs K]

``--partitions`` sizes ``spark.sql.shuffle.partitions`` — scale it
with the data (the local default of 32 = one per core is tuned for
sf0.1; a 30x input wants proportionally more reduce-side partitions,
exactly what AQE picks on a real cluster from map output stats).
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("query")
    ap.add_argument("sf_dir")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--runs", type=int, default=1)
    args = ap.parse_args()

    import bench
    from mapreduce_assignments_spark.session import get_spark

    spark = get_spark("probe-one", shuffle_partitions=args.partitions)
    bench._warm_up(spark, args.sf_dir)
    times = [
        bench._time_query(spark, args.sf_dir, args.query) for _ in range(args.runs)
    ]
    print(json.dumps({
        "query": args.query,
        "sf_dir": args.sf_dir,
        "partitions": args.partitions,
        "times": times,
        "best": min(times),
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
