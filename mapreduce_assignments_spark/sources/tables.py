"""Parquet table loaders for the driver-generated TPC-H-ish testdata.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file each under
``/root/testdata/sf{0.001,0.01,0.1}/``.

At 100 TB each of these would be a partitioned parquet dataset; the
loader is path-based so nothing changes except the path (and Spark's
vectorized parquet reader + partition pruning take over).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# The driver's parquet has stored timestamps as TIMESTAMP(NANOS) in
# some rounds and as TIMESTAMP(MICROS, isAdjustedToUTC=false) in
# others; the loader normalizes EITHER encoding to a TimestampType
# (UTC instant) column at microsecond precision, matching what DuckDB
# renders for the same file. Callers never see the physical encoding.
_TS_COLS: dict[str, tuple[str, ...]] = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


# Loaded-table plan memo (r16, guide §1.2 driver latency): each
# load_table call pays ~0.1-0.15 s of driver work (parquet file
# listing + footer schema read + the dtypes analysis the timestamp
# rebuild triggers), and a full bench run calls it several hundred
# times over the same ten static paths. The memo returns the SAME
# immutable lazy DataFrame (a plan, never rows — every action still
# scans parquet from scratch), keyed by the JVM session's UUID: every
# Python wrapper of one session shares it, and a foreign session gets
# its own load (and its conf pins). A wrapper's ``id()`` is no key: it
# differs between wrappers and is reused once a wrapper is freed. This
# is what a table catalog does; at 100 TB the session catalog's
# file-index cache plays this role.
_LOADED: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    key = (spark._jsparkSession.sessionUUID(), sf_dir, name)
    cached = _LOADED.get(key)
    if cached is not None:
        return cached
    df = _load_table_uncached(spark, sf_dir, name)
    _LOADED[key] = df
    return df


# Load-time pins, both runtime-settable SQL confs. ``get_spark`` sets
# them at build time; callers' sessions (the correctness harness builds
# its own vanilla SparkSession) won't have them. Without nanosAsLong
# the vectorized reader rejects TIMESTAMP(NANOS) columns outright
# [PARQUET_TYPE_ILLEGAL]. The UTC pin makes hour()/month()/
# date_format() over these timestamps — and the NTZ→instant cast below
# — agree with the tz-naive DuckDB oracles regardless of the host
# session's default timezone: the engine's documented contract is "all
# timestamps are UTC instants".
_LOAD_PINS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
}


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name in _TS_COLS:
        for k, v in _LOAD_PINS.items():
            # written only where the session differs: an engine
            # session is never written at load time
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for col in _TS_COLS.get(name, ()):
        if col not in df.columns:
            continue
        dt = dict(df.dtypes)[col]
        if dt == "bigint":  # TIMESTAMP(NANOS) read via nanosAsLong
            df = df.withColumn(
                col, F.expr(f"timestamp_micros(CAST({col} DIV 1000 AS BIGINT))")
            )
        elif dt == "timestamp_ntz":
            # isAdjustedToUTC=false micros: the wall-clock digits ARE
            # the UTC instant; under the UTC session pin above this
            # cast is value-preserving (and unlocks unix_micros &
            # streaming event-time, which require TimestampType).
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def ensure_min_parallelism(df: DataFrame, factor: float = 0.5) -> DataFrame:
    """Guard a ZERO-SHUFFLE (narrow-map) pipeline against a
    low-partition input layout: a narrow map inherits the scan's
    partitioning, so a one-file table runs the whole operator on one
    task no matter how many cores exist (measured: random_projection
    8.6x wall for 10x data at sf1 purely because the upscaled table
    was one file — SCALE.md). Repartition round-robin to
    ``factor * defaultParallelism`` ONLY when the input is below it;
    already-split inputs (every real 100 TB dataset) pass through with
    no exchange. Row values are untouched, so set-semantics outputs
    (and their oracles) are unaffected.
    """
    target = max(1, int(df.sparkSession.sparkContext.defaultParallelism * factor))
    # Static partition count, read JVM-side from the physical plan (the
    # Python ``df.rdd`` property would additionally build a
    # javaToPython conversion stage). Under AQE a plan with an exchange
    # is an AdaptiveSparkPlan, and finalizing it MATERIALIZES its
    # shuffle stages (measured: 1 job / 0.25 s per query
    # construction), so the count comes from its initial plan's output
    # partitioning instead: no job, and the guard only needs the
    # STATIC layout (AQE re-planning still applies at execution).
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        n_parts = plan.executedPlan().outputPartitioning().numPartitions()
    else:
        n_parts = df._jdf.rdd().getNumPartitions()
    if n_parts < target:
        return df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load_table(spark, sf_dir, n) for n in (names or TABLE_NAMES))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` queries work."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def manifest_ingest(spark, src_dir: str, state_dir: str) -> "DataFrame":
    """Manifest-tracked incremental file ingestion: read ONLY the
    parquet part-files under ``src_dir`` that a persisted manifest
    (``state_dir/manifest/``) has not recorded yet, append their rows
    to the accumulated sink (``state_dir/data/``), and record them.
    Returns the accumulated sink as a DataFrame. Re-running with no
    new files is a no-op — the exactly-once contract batch ingestion
    pipelines build on object stores (same role as Structured
    Streaming's file-source checkpoint, but inspectable and
    engine-agnostic).

    Scale: the manifest holds one row PER FILE (not per record), the
    listing is a driver-side directory scan (bounded by file count —
    the unit object stores bill by), and the delta read is an
    explicit path-list parquet scan, so unchanged files are never
    reopened.
    """
    import os

    import pyspark.sql.functions as F

    manifest_dir = os.path.join(state_dir, "manifest")
    data_dir = os.path.join(state_dir, "data")
    seen: set = set()
    if os.path.isdir(manifest_dir):
        seen = {
            r["path"]
            for r in spark.read.parquet(manifest_dir).select("path").collect()
        }
    files = sorted(
        os.path.join(src_dir, f)
        for f in os.listdir(src_dir)
        if f.endswith(".parquet")
    )
    new = [f for f in files if f not in seen]
    if new:
        spark.read.parquet(*new).write.mode("append").parquet(data_dir)
        spark.createDataFrame(
            [(p,) for p in new], "path string"
        ).write.mode("append").parquet(manifest_dir)
    return spark.read.parquet(data_dir)
