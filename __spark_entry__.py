"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``mapreduce_assignments_spark.workloads``;
this module just re-exports the registry.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

# import works regardless of the harness's cwd
_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from mapreduce_assignments_spark import workloads  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the revenue-by-nation star join (broadcast dims,
    decimal-exact aggregation) over sf0.001."""
    return workloads.ALL_QUERIES["revenue_by_nation"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 plus the
    LLM-data-pipeline extensions — exactly 50 entries so every one
    lands inside the driver's correctness check window. Strict
    sub-plan queries live in ``workloads.EXTRA_QUERIES`` (checked by
    ``tools/check_correctness.py --all`` and pytest)."""
    return dict(workloads.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle for every registered query (all 50 have
    one, including the unrolled power-method oracles for pagerank /
    personalized_pagerank and the full IVF trainer in SQL)."""
    return {k: workloads.ORACLE[k] for k in workloads.QUERIES}
