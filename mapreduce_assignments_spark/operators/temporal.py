"""Temporal / interval operators: as-of join, bucketed range join,
multi-resolution (hypertable-style) rollup, sliding-window statistics.

The reference engine's time-series surface is the hourly-count family
(ExtractHourlyCounts*.java); these operators extend it with the
interval primitives a time-series analytics engine needs, each
expressed as a shuffle-minimal DataFrame plan:

- :func:`asof_join` — the "attach most recent quote to each trade"
  join. One shuffle on the key; no range explode, no per-key collect.
- :func:`range_join` — point-in-interval theta-join rewritten as a
  bounded-fan-out equi-join on coarse time buckets.
- :func:`hypertable_rollup` — (day, hour) → day → grand-total rollup
  in ONE pass via grouping sets (partial aggregation does the work of
  the three separate jobs a naive plan would run).
- :func:`sliding_hourly_stats` — per-key moving aggregates over an
  ordered bounded row frame.

All expressions are JVM-side (no Python in the plan); every operator
has a DuckDB oracle in the workloads package.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

__all__ = [
    "asof_join",
    "range_join",
    "hypertable_rollup",
    "sliding_hourly_stats",
    "latest_snapshot",
    "scd2_history",
    "snapshot_diff",
    "hourly_anomalies",
    "ewma_hourly",
    "seasonal_anomalies",
    "interpolate_gaps",
    "point_in_time_join",
]


def hourly_anomalies(
    events: DataFrame,
    ts_col: str = "ts",
    preceding: int = 6,
    z_threshold: float = 3.0,
) -> DataFrame:
    """Volume anomaly detection: per event_type, each observed hour's
    count is z-scored against the mean/stddev of the ``preceding``
    trailing hours (the current hour EXCLUDED from its own baseline —
    a spike must not mask itself). Emits every scorable hour with
    ``(n, baseline_mean, baseline_sd, zscore, is_anomaly)``; hours
    whose baseline has < 2 points or zero variance are unscorable and
    dropped.

    Scale: same shape as :func:`sliding_hourly_stats` — the window
    partitions on event_type, but over the ALREADY AGGREGATED hourly
    table (map-side partials first), so the low-cardinality key is
    safe. The baseline frame is ROWS-based: it always covers the
    ``preceding`` most recently OBSERVED hours regardless of calendar
    gaps, so across a quiet night the baseline may span far more than
    ``preceding`` wall-clock hours (a RANGE frame over the hour value
    would bound wall-clock instead; the DuckDB oracle uses the same
    ROWS semantics).
    """
    hourly = events.groupBy(
        "event_type",
        F.date_format(F.date_trunc("HOUR", F.col(ts_col)), "yyyy-MM-dd HH:00").alias(
            "hour"
        ),
    ).agg(F.count("*").alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-preceding, -1)
    )
    scored = hourly.select(
        "event_type",
        "hour",
        "n",
        F.round(F.avg("n").over(w), 6).alias("baseline_mean"),
        F.round(F.stddev_samp(F.col("n").cast("double")).over(w), 6).alias(
            "baseline_sd"
        ),
    )
    z = F.round(
        (F.col("n") - F.col("baseline_mean")) / F.col("baseline_sd"), 6
    )
    return (
        scored.where(F.col("baseline_sd").isNotNull() & (F.col("baseline_sd") > 0))
        .withColumn("zscore", z)
        .withColumn("is_anomaly", F.abs(F.col("zscore")) >= z_threshold)
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    compare_cols: tuple[str, ...],
) -> DataFrame:
    """Keyed diff between two versions of a table — the incremental-
    sync primitive: ``(key, change_type)`` with ``insert`` (key only in
    ``new``), ``delete`` (only in ``old``), ``update`` (present in both
    but differing on ``compare_cols``). Unchanged keys are dropped.

    Comparison digest: each compare column is md5-hashed SEPARATELY
    (NULL → an explicit sentinel) and the fixed-width per-column
    digests are concatenated into one outer md5 — one narrow
    projection per side, then a single full-outer key join; no wide
    row ever shuffles twice. Per-column hashing means no delimiter
    can shift field boundaries: with a joined rendering,
    ``('a|b', 'c')`` vs ``('a', 'b|c')`` would collide and register
    as unchanged. Callers must pre-render any engine-ambiguous column
    (raw doubles, timestamps) into a canonical form, same as
    :mod:`.profiling`.

    Scale: the join shuffles each side once on ``key``; digests are
    64-bit-ish strings, so the exchanged payload is key + 32 bytes per
    row regardless of row width. At 100 TB both sides usually already
    share a key-partitioned layout (the previous sync wrote it), and
    the exchange elides.
    """

    def _digest(df: DataFrame, alias: str) -> DataFrame:
        # md5 per column (NULL -> sentinel; concat_ws would silently
        # SKIP nulls), then md5 over the fixed-width digests — field
        # boundaries cannot shift whatever bytes the values contain.
        cols = [
            F.md5(F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL\x00")))
            for c in compare_cols
        ]
        return df.select(F.col(key), F.md5(F.concat(*cols)).alias(alias))

    o = _digest(old, "_od")
    n = _digest(new, "_nd")
    change = (
        F.when(F.col("_od").isNull(), "insert")
        .when(F.col("_nd").isNull(), "delete")
        .when(F.col("_od") != F.col("_nd"), "update")
    )
    return (
        o.join(n, key, "full_outer")
        .select(F.col(key), change.alias("change_type"))
        .where(F.col("change_type").isNotNull())
    )


def latest_snapshot(
    df: DataFrame,
    keys: tuple[str, ...],
    ts_col: str = "ts",
    tiebreak: str | None = None,
) -> DataFrame:
    """CDC/upsert compaction: reduce an append-only change log to the
    most recent row per key — the materialize-current-state operator
    every incremental ingestion pipeline runs before serving.

    Latest = max ``(ts_col, tiebreak)`` lexicographically; pass a
    unique ``tiebreak`` column (e.g. the event id) so concurrent
    updates at the same timestamp resolve deterministically.

    Scale: implemented as ``max_by(struct(*), struct(ts, tiebreak))``
    — a hash aggregation, NOT a row_number window. The partial
    aggregate keeps ONE candidate row per key per map task, so a key
    with millions of updates never materializes its history on one
    reducer the way the window formulation would; one exchange total,
    no sort.
    """
    order = (
        F.struct(F.col(ts_col), F.col(tiebreak))
        if tiebreak
        else F.struct(F.col(ts_col))
    )
    payload = [c for c in df.columns if c not in keys]
    latest = df.groupBy(*keys).agg(
        F.max_by(F.struct(*payload), order).alias("_latest")
    )
    return latest.select(*keys, *[F.col(f"_latest.{c}").alias(c) for c in payload])


def scd2_history(
    log: DataFrame,
    keys: tuple[str, ...],
    attrs: tuple[str, ...],
    ts_col: str = "ts",
    tiebreak: str | None = None,
) -> DataFrame:
    """Type-2 slowly-changing-dimension build from an append-only
    change log — the versioned sibling of :func:`latest_snapshot`:
    one row per (key, version) carrying the attribute values and
    their validity interval.

    Per key, rows order by ``(ts_col, tiebreak)``; consecutive rows
    whose ``attrs`` are unchanged COLLAPSE into one version (change
    compression — a heartbeat that re-asserts the same value opens no
    new version). Each surviving change gets ``version`` (1-based),
    ``valid_from`` = its own timestamp, ``valid_to`` = the next
    version's timestamp (NULL on the open current version), and
    ``is_current``.

    Scale: two key-partitioned window passes over the log (lag-digest
    change compression, then lead for interval close) — both sort
    within the SAME key partitioning, so the log shuffles once. The
    change digest reuses :func:`snapshot_diff`'s per-column-md5 form,
    so delimiter bytes in attribute values cannot alias a change.
    History length per key is bounded by that key's change count, not
    its log volume.
    """
    ord_cols = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*ord_cols)
    digest = F.md5(
        F.concat(
            *[
                F.md5(F.coalesce(F.col(a).cast("string"), F.lit("\x00NULL\x00")))
                for a in attrs
            ]
        )
    )
    compressed = (
        log.withColumn("_d", digest)
        .withColumn("_pd", F.lag("_d").over(w))
        .where(F.col("_pd").isNull() | (F.col("_pd") != F.col("_d")))
    )
    return (
        compressed.select(
            *keys,
            F.row_number().over(w).cast("int").alias("version"),
            *attrs,
            F.col(ts_col).alias("valid_from"),
            F.lead(F.col(ts_col)).over(w).alias("valid_to"),
        )
        .withColumn("is_current", F.col("valid_to").isNull())
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    carry: list[str] | None = None,
    strict: bool = False,
) -> DataFrame:
    """As-of join: attach to every ``left`` row the most recent
    ``right`` row with the same ``on`` key and ``right_ts <= left_ts``
    (``< left_ts`` when ``strict``).

    Carried right columns (``carry``, default: everything but the key
    and timestamp — the matched timestamp always rides along) appear
    suffixed ``_r``; left rows with no prior right row keep NULLs
    (left-join semantics — filter afterwards for inner).

    Plan shape: the classic sorted-merge formulation. Both inputs are
    unioned with a side tag, shuffled ONCE on the key, sorted by
    (ts, side) within the partition, and each left row picks up the
    running ``last(right column, ignorenulls)`` — an O(n) running
    frame, not a per-row rescan. No interval explode, no driver
    collect; at 100 TB this is one shuffle of each input, and AQE
    skew-splitting handles celebrity keys. Ties: a right row at
    exactly ``left_ts`` is visible unless ``strict`` (the side tag
    orders it after the left row); multiple right rows on the same
    (key, timestamp) are resolved by the later one in sort order.
    """
    carry = (
        list(carry)
        if carry is not None
        else [c for c in right.columns if c not in {on, right_ts}]
    )
    carried = [right_ts, *carry]
    r = right.select(
        F.col(on),
        F.col(right_ts).alias("__t"),
        # strict: right rows at the same timestamp sort AFTER the left
        # row (side 2 > 1) so the running last() cannot see them.
        F.lit(2 if strict else 0).alias("__side"),
        *[F.col(c).alias(f"__r_{c}") for c in carried],
    )
    l = left.select("*", F.col(left_ts).alias("__t"), F.lit(1).alias("__side"))
    u = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(on)
        .orderBy("__t", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried_out = [
        F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"{c}_r") for c in carried
    ]
    return (
        u.select("*", *carried_out)
        .where(F.col("__side") == 1)
        .drop("__t", "__side", *[f"__r_{c}" for c in carried])
    )


def range_join(
    fact: DataFrame,
    intervals: DataFrame,
    ts_col: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
) -> DataFrame:
    """Point-in-interval join: every ``fact`` row paired with every
    interval where ``start_ts <= ts < end_ts`` (end-exclusive).

    A naive ``fact JOIN intervals ON ts BETWEEN ...`` is a theta-join —
    Catalyst can only nested-loop it (broadcast the intervals and scan,
    or worse). Instead each interval is exploded into the 1-day buckets
    it covers (fan-out bounded by the interval's length in days), the
    fact row maps to its single day bucket, and the join becomes a hash
    equi-join on the bucket followed by the exact range predicate —
    the standard bucketed interval-join rewrite. At 100 TB: one narrow
    scan of each side, one equi-join shuffle (or broadcast when the
    exploded interval table is small), no cartesian anywhere.
    """
    b = intervals.withColumn(
        "__bucket",
        F.explode(
            F.expr(
                f"sequence(date_trunc('DAY', {start_col}),"
                f" date_trunc('DAY', {end_col} - interval 1 microsecond),"
                f" interval 1 day)"
            )
        ),
    )
    f = fact.withColumn("__bucket", F.date_trunc("DAY", F.col(ts_col)))
    return (
        f.join(b, "__bucket")
        .where((F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) < F.col(end_col)))
        .drop("__bucket")
    )


def hypertable_rollup(
    events: DataFrame, ts_col: str = "ts", value_col: str = "value"
) -> DataFrame:
    """Multi-resolution time rollup in one pass: counts and sums at
    (day, hour), per day, and grand total, distinguished by ``grain``
    (the grouping-set bitmask: 0 = hourly, 1 = daily, 3 = total).

    The hypertable "continuous aggregate" ladder — hour → day → total —
    computed as ONE grouping-sets aggregation instead of three jobs:
    partial (map-side) aggregation shrinks each partition to its
    distinct (day, hour) keys before the single shuffle, and the
    coarser grains reuse those partials. Sums go through
    DECIMAL(18,6) so the result is addition-order independent (double
    summation would differ per engine/partitioning).
    """
    d = events.select(
        F.date_format(ts_col, "yyyy-MM-dd").alias("day"),
        F.hour(ts_col).cast("int").alias("hr"),
        F.col(value_col).cast("decimal(18,6)").alias("__v"),
    )
    return d.rollup("day", "hr").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("__v"), 6).cast("double").alias("total_value"),
        # grouping_id() is only legal inside the rollup's agg list
        F.grouping_id().cast("int").alias("grain"),
    )


def sliding_hourly_stats(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    preceding: int = 3,
) -> DataFrame:
    """Hourly counts per event_type with a trailing moving average over
    the current + ``preceding`` observed hours (ROWS frame, so gaps in
    the hour sequence don't change the window size).

    Two shuffles total: the (event_type, hour) pre-aggregation — with
    map-side partials — then the per-event_type window. The window
    partitions on event_type only, but its input is the ALREADY
    AGGREGATED hourly table (≤ 24×365 rows per type per year), so the
    low-cardinality partitioning that would be a straggler risk on raw
    rows is safe here — the reduction happens before the narrow key.
    """
    hourly = (
        events.groupBy(
            "event_type",
            F.date_format(F.date_trunc("HOUR", F.col(ts_col)), "yyyy-MM-dd HH:00").alias(
                "hour"
            ),
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col(value_col).cast("decimal(18,6)")), 6)
            .cast("double")
            .alias("total_value"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("hour").rowsBetween(-preceding, 0)
    return hourly.select(
        "event_type",
        "hour",
        "n",
        "total_value",
        F.round(F.avg("n").over(w), 6).alias("moving_avg_n"),
        F.round(F.sum("total_value").over(w), 6).alias("moving_total_value"),
    )


def ewma_hourly(
    events: DataFrame,
    ts_col: str = "ts",
    alpha: float = 0.3,
    window: int = 24,
) -> DataFrame:
    """Truncated exponentially-weighted moving average of hourly event
    volume: ``(hour, n, ewma)`` where
    ``ewma = Σ_{k=0..window-1} α(1-α)^k · n_{t-k}`` — the standard
    trend smoother, truncated to a fixed trailing window so the
    weights are a FIXED finite expression instead of an unbounded
    recursion (the tail beyond 24 hours carries <0.2% of the mass at
    α=0.3). Rows without a full ``window`` of observed history are
    unsmoothable and dropped.

    Engine parity is exact by construction: the sum is a fixed chain
    of ``lag(n, k) · weight_k`` terms added in literal order — the
    same left-to-right double addition in Spark and DuckDB — not a
    window SUM whose accumulation order an engine may choose.

    Scale shape: the window runs over the already-aggregated hourly
    table (calendar-bounded: years of data is only tens of thousands
    of rows), so the unpartitioned sort is a non-issue at any corpus
    size; the aggregation below it is the usual map-side-partial
    hourly rollup. Frame semantics are ROWS over OBSERVED hours, same
    contract as :func:`hourly_anomalies`.
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be in (0, 1)")
    if window < 1:
        raise ValueError("window must be >= 1")
    hourly = events.groupBy(
        F.date_format(F.date_trunc("HOUR", F.col(ts_col)), "yyyy-MM-dd HH:00").alias(
            "hour"
        )
    ).agg(F.count("*").alias("n"))
    # bounded-input: one row per observed hour
    w = Window.orderBy("hour")
    terms = None
    for k in range(window):
        weight = alpha * (1.0 - alpha) ** k
        term = F.lag("n", k).over(w) * F.lit(weight)
        terms = term if terms is None else terms + term
    return (
        hourly.select(
            "hour",
            "n",
            F.row_number().over(w).alias("__rn"),
            F.round(terms, 6).alias("ewma"),
        )
        .where(F.col("__rn") >= window)
        .drop("__rn")
    )


def seasonal_anomalies(
    events: DataFrame,
    ts_col: str = "ts",
    z_threshold: float = 3.0,
) -> DataFrame:
    """Seasonal (hour-of-day) volume anomalies: each observed hour's
    count is z-scored against the mean/stddev of the SAME hour-of-day
    across all other days — the baseline that catches "3am looks like
    3pm" where a trailing window (:func:`hourly_anomalies`) sees only
    recent hours. Leave-one-out: the scored hour is excluded from its
    own baseline via the sufficient-statistics identities
    ``mean_i = (S - x_i)/(n-1)``, ``var_i = (SS - x_i²)/(n-1) -
    mean_i²`` — S and SS are INTEGER sums, so the baselines are
    engine-exact without a second pass. Slots with < 3 observations
    or zero variance are unscorable and dropped; emits
    ``(hour, hod, n, base_mean, zscore, is_anomaly)``.

    Scale shape: one hourly rollup (map-side partial), one 24-row
    aggregate of sufficient statistics broadcast back onto the hourly
    table — no window over raw events, no self-join.
    """
    hourly = events.groupBy(
        F.date_format(F.date_trunc("HOUR", F.col(ts_col)), "yyyy-MM-dd HH:00").alias(
            "hour"
        ),
        F.hour(F.col(ts_col)).alias("hod"),
    ).agg(F.count("*").alias("n"))
    stats = hourly.groupBy("hod").agg(
        F.count("*").alias("cnt"),
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("ss"),
    )
    j = hourly.join(F.broadcast(stats), "hod")
    mean = (F.col("s") - F.col("n")) / (F.col("cnt") - 1)
    var = (F.col("ss") - F.col("n") * F.col("n")) / (F.col("cnt") - 1) - mean * mean
    z = (F.col("n") - mean) / F.sqrt(var)
    return (
        j.where((F.col("cnt") >= 3))
        .select(
            "hour",
            "hod",
            "n",
            F.round(mean, 6).alias("base_mean"),
            F.round(z, 6).alias("zscore"),
            (F.abs(z) > z_threshold).alias("is_anomaly"),
            var.alias("__var"),
        )
        .where(F.col("__var") > 0)
        .drop("__var")
    )


def interpolate_gaps(
    events: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Dense hourly series PER GROUP with linear interpolation over
    missing hours — the imputation step between gap-filling (zeros,
    :func:`timeseries.fill_hourly_gaps`) and modeling: a missing
    bucket gets the straight line between its nearest observed
    neighbors (edges clamp to the nearest observation). Returns
    ``(event_type, hour_ts, value, filled)``.

    Scale: one partial-aggregated (group, hour) rollup; the calendar
    axis per group is TIME-bounded (sequence of hours between that
    group's min and max), so the join against it is group-count ×
    calendar rows — dashboard-sized; the neighbor lookup is two
    streaming window passes (trailing last / leading first,
    ignorenulls) over the dense axis, never a self-join of gaps
    against observations. Observed sums aggregate in exact decimal
    and round to 6 dp BEFORE interpolation so both engines
    interpolate between identical endpoints.
    """
    g = F.col(group_col)
    hourly = (
        events.select(
            g.alias("grp"), F.date_trunc("hour", F.col(ts_col)).alias("h"),
            F.col(value_col).cast("decimal(18,6)").alias("v"),
        )
        .groupBy("grp", "h")
        .agg(F.round(F.sum("v"), 6).cast("double").alias("v"))
    )
    calendar = (
        hourly.groupBy("grp")
        .agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .select(
            "grp",
            F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("h"),
        )
    )
    dense = calendar.join(hourly, ["grp", "h"], "left")
    hr = (F.unix_timestamp("h") / 3600).cast("long")
    back = Window.partitionBy("grp").orderBy("h").rowsBetween(
        Window.unboundedPreceding, 0
    )
    fwd = Window.partitionBy("grp").orderBy("h").rowsBetween(
        0, Window.unboundedFollowing
    )
    prev_v = F.last("v", ignorenulls=True).over(back)
    prev_h = F.last(F.when(F.col("v").isNotNull(), hr), ignorenulls=True).over(back)
    next_v = F.first("v", ignorenulls=True).over(fwd)
    next_h = F.first(F.when(F.col("v").isNotNull(), hr), ignorenulls=True).over(fwd)
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(prev_v.isNull(), next_v)
        .when(next_v.isNull(), prev_v)
        .otherwise(
            F.round(
                prev_v
                + (next_v - prev_v) * (hr - prev_h) / (next_h - prev_h),
                6,
            )
        )
    )
    return dense.select(
        F.col("grp").alias(group_col),
        F.date_format("h", "yyyy-MM-dd HH:00:00").alias("hour_ts"),
        interp.alias("value"),
        F.col("v").isNull().alias("filled"),
    )


def point_in_time_join(
    facts: DataFrame,
    history: DataFrame,
    keys: tuple,
    ts_col: str = "ts",
    how: str = "left_outer",
) -> DataFrame:
    """Point-in-time-correct enrichment — THE feature-store join that
    prevents temporal leakage: each fact row picks the dimension
    version whose validity interval contains the fact's timestamp
    (``valid_from <= ts`` and ``ts < valid_to`` / open-ended), never
    a later version. Pair with :func:`scd2_history` for the history
    side; an ordinary latest-value join would silently train on the
    future.

    Scale: an equi-join on the keys with the interval predicate as
    the join residual — each key's candidate set is its VERSION count
    (bounded by changes, not log volume), and validity intervals are
    disjoint by construction so each fact matches at most one
    version. One shuffle on the keys; AQE handles hot keys.
    """
    cond = None
    for k in keys:
        c = facts[k] == history[k]
        cond = c if cond is None else cond & c
    cond = (
        cond
        & (history["valid_from"] <= facts[ts_col])
        & (history["valid_to"].isNull() | (facts[ts_col] < history["valid_to"]))
    )
    return facts.join(history, cond, how)
