"""Log / time-series ETL operators.

Capability parity with the reference's assignment 6 (SURVEY.md §2.2,
§2.3): hourly tweet counts, optionally keyword-regex filtered, over a
4-column tweet TSV — plus the same workload over the driver's typed
``events`` table.

reference: ExtractHourlyCountsAll.java:28-95 (positional timestamp
slicing, Jan/Feb whitelist, group by (date, hour)),
ExtractHourlyCountsEgypt.java:42-44 (case-insensitive regex
``egypt|cairo``), and the two equivalent Pig scripts at
assignment6/assignment6.md:9-55.

Scale design: one hash aggregation after a narrow projection — the
filter and the 2-of-4 column projection are pushed into the scan
(Parquet column pruning wins where the reference reads whole TSV
lines). Cardinality of (date, hour) is tiny so the final agg is
skew-free by construction.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.window import Window

__all__ = [
    "hourly_counts_tweets",
    "hourly_counts_events",
    "event_props_stats",
    "fill_hourly_gaps",
    "maintain_hourly_rollup",
    "read_hourly_rollup",
    "hourly_top_movers",
    "activity_heatmap",
]

# "EEE MMM dd HH:mm:ss Z yyyy" — e.g. "Sun Jan 23 00:14:05 +0000 2011".
# The reference slices this positionally (ExtractHourlyCountsAll.java:41-63);
# we parse the same fields with substrings to stay locale-independent.
_MONTHS = {
    "Jan": "1", "Feb": "2", "Mar": "3", "Apr": "4", "May": "5", "Jun": "6",
    "Jul": "7", "Aug": "8", "Sep": "9", "Oct": "10", "Nov": "11", "Dec": "12",
}


def hourly_counts_tweets(
    tweets: DataFrame,
    message_regex: str | None = None,
    months: tuple[str, ...] = ("Jan", "Feb"),
) -> DataFrame:
    """``(date "M/dd", hour "HH", cnt)`` from the raw tweet TSV shape.

    ``message_regex`` reproduces the Egypt variant when set to
    ``'(?i)(egypt|cairo)'``. Zero-count buckets are absent, matching
    the golden outputs (407 vs 405 rows).
    """
    unknown = set(months) - set(_MONTHS)
    if unknown:
        raise ValueError(f"unknown month abbreviations: {sorted(unknown)}")
    month = F.substring("timestamp", 5, 3)
    day = F.substring("timestamp", 9, 2)
    hour = F.substring("timestamp", 12, 2)
    out = tweets.where(month.isin(*months))
    if message_regex:
        out = out.where(F.col("message").rlike(message_regex))
    month_num = month
    for name, num in _MONTHS.items():
        month_num = F.when(month == name, num).otherwise(month_num)
    return (
        out.select(F.concat(month_num, F.lit("/"), day).alias("date"), hour.alias("hour"))
        .groupBy("date", "hour")
        .agg(F.count("*").alias("cnt"))
    )


def hourly_counts_events(
    events: DataFrame,
    type_regex: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Same workload over the typed ``events`` table:
    ``(date "M/d", hour, cnt)`` with an optional regex filter on
    ``event_type`` (the analogue of the reference's message regex)."""
    out = events
    if type_regex:
        out = out.where(F.col("event_type").rlike(type_regex))
    return (
        out.select(
            F.concat(
                F.month(ts_col).cast("string"), F.lit("/"), F.dayofmonth(ts_col).cast("string")
            ).alias("date"),
            F.hour(ts_col).alias("hour"),
        )
        .groupBy("date", "hour")
        .agg(F.count("*").alias("cnt"))
    )


def event_props_stats(events: DataFrame) -> DataFrame:
    """Semi-structured ETL: pull a typed field out of the JSON ``props``
    column and aggregate per event type —
    ``(event_type, n, sum_k, avg_value)``.

    ``get_json_object`` is a JVM-side expression (no Python, scan-level
    projection); ``avg_value`` is computed as an exact decimal sum
    divided by the count so the double result is summation-order-free
    (the oracle-parity contract of operators.relational)."""
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        events.select("event_type", k.alias("k"), "value")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_value"),
        )
    )


def fill_hourly_gaps(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Sparse -> dense hourly series: ``(hour_ts STRING, cnt LONG)``
    with an explicit zero row for every hour between the corpus's
    first and last event — the gap-filling step dashboards and
    anomaly detectors need (a missing bucket and an empty bucket are
    different facts).

    Scale shape: one partial-aggregated count per hour bucket, a
    1-row min/max aggregate, and a calendar axis exploded from
    ``sequence(lo, hi, 1 hour)`` — the axis is TIME-bounded, not
    data-bounded (a century is under a million rows), so the left
    join against it broadcasts the calendar regardless of corpus
    size. Hours render as 'yyyy-MM-dd HH:00:00' strings (the
    engine-portable form the oracle reproduces)."""
    hours = events.select(F.date_trunc("hour", F.col(ts_col)).alias("h"))
    counts = hours.groupBy("h").agg(F.count("*").alias("cnt"))
    calendar = (
        hours.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .select(
            F.explode(
                F.sequence("lo", "hi", F.expr("interval 1 hour"))
            ).alias("h")
        )
    )
    return calendar.join(counts, "h", "left").select(
        F.date_format("h", "yyyy-MM-dd HH:00:00").alias("hour_ts"),
        F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
    )


def maintain_hourly_rollup(
    spark, rollup_dir: str, delta_events: DataFrame, ts_col: str = "ts"
) -> None:
    """Incrementally maintain an hourly-counts rollup AT REST
    (parquet partitioned by date): aggregate the delta batch, read
    back ONLY the date partitions the delta touches (partition-pruned
    scan), merge old + new counts, and rewrite JUST those partitions
    via dynamic partition overwrite. Untouched dates are never read
    and never rewritten — asserted in tests by file listing.

    This is the batch materialized-view-maintenance pattern: at
    100 TB the rollup spans years but a daily delta touches one or
    two dates, so maintenance cost is O(delta + touched partitions),
    not O(history). The contract is append-only deltas (counts only
    ever grow); replaying the full event log through this function in
    any batch split yields bit-identical results to the one-shot
    aggregation — the invariant the oracle checks.

    The write sets ``partitionOverwriteMode=dynamic`` as a writer
    option, leaving the session conf alone — static mode would
    clobber the whole rollup directory.
    """
    import os

    delta = delta_events.groupBy(
        F.date_format(F.date_trunc("DAY", F.col(ts_col)), "yyyy-MM-dd").alias("d"),
        F.hour(F.col(ts_col)).alias("hour"),
    ).agg(F.count("*").alias("n"))
    touched = [r["d"] for r in delta.select("d").distinct().collect()]
    if not touched:
        return
    if os.path.isdir(rollup_dir) and any(
        e.startswith("d=") for e in os.listdir(rollup_dir)
    ):
        existing = (
            read_hourly_rollup(spark, rollup_dir)
            .where(F.col("d").isin(touched))  # partition-pruned
            .select("d", "hour", F.col("n").alias("n_old"))
        )
        merged = (
            delta.join(existing, ["d", "hour"], "full_outer")
            .select(
                "d",
                "hour",
                (
                    F.coalesce("n", F.lit(0)) + F.coalesce("n_old", F.lit(0))
                ).alias("n"),
            )
        )
    else:
        merged = delta
    (
        merged.repartition("d")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("d")
        .parquet(rollup_dir)
    )


def read_hourly_rollup(spark, rollup_dir: str) -> DataFrame:
    """Read the rollup with its KNOWN schema (partition column ``d``
    as STRING): supplying the schema skips partition-value type
    inference (which would guess DATE for yyyy-MM-dd directory names
    and silently change the column type between engines) while
    keeping partition pruning on the string values intact."""
    return spark.read.schema("hour INT, n BIGINT, d STRING").parquet(rollup_dir)


def hourly_top_movers(
    events: DataFrame, k: int = 10, ts_col: str = "ts"
) -> DataFrame:
    """The k biggest hour-over-hour swings per event type: for every
    (type, hour) bucket, the count delta against the type's PREVIOUS
    OBSERVED hour, ranked by absolute delta — ``(event_type, hour_ts,
    cnt, prev_cnt, delta)``. The what-just-spiked dashboard.

    Scale: one partial-aggregated (type, hour) rollup (bucket-count
    rows), a lag window per type over that already-tiny frame, and a
    global top-k — TakeOrderedAndProject, no full sort. Ties break on
    (type, hour) for cross-engine determinism.
    """
    hourly = (
        events.select(
            "event_type", F.date_trunc("hour", F.col(ts_col)).alias("h")
        )
        .groupBy("event_type", "h")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("event_type").orderBy("h")
    moved = (
        hourly.withColumn("prev_cnt", F.lag("cnt").over(w))
        .where(F.col("prev_cnt").isNotNull())
        .withColumn("delta", F.col("cnt") - F.col("prev_cnt"))
    )
    return (
        moved.orderBy(
            F.abs(F.col("delta")).desc(), F.asc("event_type"), F.asc("h")
        )
        .limit(k)
        .select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:00:00").alias("hour_ts"),
            "cnt",
            "prev_cnt",
            "delta",
        )
    )


def activity_heatmap(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Day-of-week × hour-of-day activity heatmap: ``(dow, hour,
    n_events, n_users)`` — the when-is-the-audience-awake dashboard.
    ``dow`` is 1=Sunday…7=Saturday (both engines' ``dayofweek``
    convention over civil timestamps).

    Scale: one partial-aggregated exchange on a 168-cell key; the
    distinct user count makes it two-phase keyed on (cell, user)
    first — still bounded by cells × users, and the final frame is
    dashboard-sized by construction.
    """
    return (
        events.select(
            F.dayofweek(F.col(ts_col)).alias("dow"),
            F.hour(F.col(ts_col)).alias("hour"),
            "user_id",
        )
        .groupBy("dow", "hour")
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )
