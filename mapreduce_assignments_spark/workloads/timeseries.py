"""Hourly rollups, windows, as-of/range joins and temporal state
(the reference's assignment 6 time series)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql.window import Window

from ..operators import features, funnel, temporal, timeseries
from ._shared import _events, _scratch_dir, _stage_once

ORACLE: dict[str, str] = {}


def q_value_percentiles(spark, sf_dir):
    """Exact percentiles of the event value per type — the classic
    analytics rollup; Spark's exact percentile interpolates identically
    to DuckDB's quantile_cont on the same sorted input."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.min("value"), 6).alias("vmin"),
        F.round(F.max("value"), 6).alias("vmax"),
    )


ORACLE["value_percentiles"] = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(min(value), 6) AS vmin,
       round(max(value), 6) AS vmax
FROM events GROUP BY event_type
"""


def q_hourly_counts(spark, sf_dir):
    return timeseries.hourly_counts_events(_events(spark, sf_dir))


ORACLE["hourly_counts"] = """
SELECT CAST(month(ts) AS VARCHAR) || '/' || CAST(day(ts) AS VARCHAR) AS date,
       CAST(hour(ts) AS INTEGER) AS hour, count(*) AS cnt
FROM events GROUP BY 1, 2
"""


def q_hourly_counts_errors(spark, sf_dir):
    return timeseries.hourly_counts_events(_events(spark, sf_dir), type_regex="error")


ORACLE["hourly_counts_errors"] = """
SELECT CAST(month(ts) AS VARCHAR) || '/' || CAST(day(ts) AS VARCHAR) AS date,
       CAST(hour(ts) AS INTEGER) AS hour, count(*) AS cnt
FROM events
WHERE regexp_matches(event_type, 'error')
GROUP BY 1, 2
"""


def q_incremental_rollup(spark, sf_dir):
    """Materialized-view maintenance: the hourly rollup built by TWO
    incremental applications (events split in half by event_id hash
    parity), each maintaining only its touched date partitions via
    dynamic partition overwrite. The oracle is the ONE-SHOT
    aggregation over all events — the merge invariant."""
    rollup = _scratch_dir("rollup")
    events = _events(spark, sf_dir)
    half = F.abs(F.xxhash64(F.col("event_id"))) % 2
    timeseries.maintain_hourly_rollup(spark, rollup, events.where(half == 0))
    timeseries.maintain_hourly_rollup(spark, rollup, events.where(half == 1))
    return timeseries.read_hourly_rollup(spark, rollup).select("d", "hour", "n")


ORACLE["incremental_rollup"] = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS d,
       CAST(hour(ts) AS INTEGER) AS hour,
       count(*) AS n
FROM events GROUP BY 1, 2
"""


def q_ewma_hourly(spark, sf_dir):
    """Truncated-EWMA hourly volume trend (24h window, alpha=0.3);
    the 24 lag terms are added in literal order, so parity is exact
    by construction."""
    return temporal.ewma_hourly(_events(spark, sf_dir))


ORACLE["ewma_hourly"] = """
WITH hourly AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
         count(*) AS n
  FROM events GROUP BY 1
)
SELECT hour, n, round(lag(n, 0) OVER w * 0.3 + lag(n, 1) OVER w * 0.21 + lag(n, 2) OVER w * 0.14699999999999996 + lag(n, 3) OVER w * 0.10289999999999998 + lag(n, 4) OVER w * 0.07202999999999998 + lag(n, 5) OVER w * 0.05042099999999998 + lag(n, 6) OVER w * 0.035294699999999984 + lag(n, 7) OVER w * 0.02470628999999999 + lag(n, 8) OVER w * 0.01729440299999999 + lag(n, 9) OVER w * 0.012106082099999993 + lag(n, 10) OVER w * 0.008474257469999994 + lag(n, 11) OVER w * 0.005931980228999996 + lag(n, 12) OVER w * 0.0041523861602999965 + lag(n, 13) OVER w * 0.0029066703122099975 + lag(n, 14) OVER w * 0.002034669218546998 + lag(n, 15) OVER w * 0.0014242684529828986 + lag(n, 16) OVER w * 0.000996987917088029 + lag(n, 17) OVER w * 0.0006978915419616202 + lag(n, 18) OVER w * 0.0004885240793731341 + lag(n, 19) OVER w * 0.00034196685556119386 + lag(n, 20) OVER w * 0.00023937679889283567 + lag(n, 21) OVER w * 0.00016756375922498496 + lag(n, 22) OVER w * 0.00011729463145748948 + lag(n, 23) OVER w * 8.210624202024264e-05, 6) AS ewma
FROM hourly
WINDOW w AS (ORDER BY hour)
QUALIFY row_number() OVER w >= 24
"""


def q_seasonal_anomalies(spark, sf_dir):
    """Hour-of-day seasonal anomalies with leave-one-out baselines
    from integer sufficient statistics."""
    return temporal.seasonal_anomalies(_events(spark, sf_dir))


ORACLE["seasonal_anomalies"] = """
WITH hourly AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
         CAST(hour(ts) AS INTEGER) AS hod,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT hod, count(*) AS cnt,
         CAST(sum(n) AS BIGINT) AS s,
         CAST(sum(n * n) AS BIGINT) AS ss
  FROM hourly GROUP BY hod
),
j AS (
  SELECT h.hour, h.hod, h.n,
         (s.s - h.n) / (s.cnt - 1) AS mean,
         (s.ss - h.n * h.n) / (s.cnt - 1)
           - ((s.s - h.n) / (s.cnt - 1)) * ((s.s - h.n) / (s.cnt - 1)) AS var,
         s.cnt AS cnt
  FROM hourly h JOIN stats s USING (hod)
)
SELECT hour, hod, n, round(mean, 6) AS base_mean,
       round((n - mean) / sqrt(var), 6) AS zscore,
       abs((n - mean) / sqrt(var)) > 3.0 AS is_anomaly
FROM j
WHERE cnt >= 3 AND var > 0
"""


# deterministic message derivation so the egypt-regex oracle can
# reconstruct the exact strings the regex ran against ("Cairo" with a
# capital C exercises the reference's (?i) flag,
# ExtractHourlyCountsEgypt.java:42-44). Built lazily — Column
# construction needs a live SparkContext.
def _tweet_message() -> F.Column:
    return F.when(
        F.col("event_type") == "error", F.lit("Trouble near Cairo")
    ).otherwise(F.concat(F.lit("all quiet: "), F.col("event_type")))


def _staged_tweets_dir(spark, sf_dir: str) -> str:
    """Render events as the reference's 4-column tweet TSV
    (``id \\t timestamp \\t user \\t message`` with the RFC-822-style
    "EEE MMM dd HH:mm:ss Z yyyy" timestamp, ExtractHourlyCountsAll
    .java:38-48) so the driver exercises the real TSV scan, the
    DROPMALFORMED parse, the positional timestamp slicing and the
    month-name map — the round-2 gaps only unit tests could reach. Two
    malformed lines are planted; the scan must drop them."""

    def write(stage):
        (
            _events(spark, sf_dir)
            .select(
                F.col("event_id").cast("string").alias("id"),
                F.date_format("ts", "EEE MMM dd HH:mm:ss Z yyyy").alias("timestamp"),
                F.col("user_id").cast("string").alias("user"),
                _tweet_message().alias("message"),
            )
            .repartition(2)
            .write.mode("overwrite")
            .option("sep", "\t")
            .csv(stage)
        )
        with open(f"{stage}/part-malformed.csv", "w") as fh:
            fh.write("a line with no tabs at all\n")
            fh.write("42\tTue Jan 02 03:04:05 +0000 2024\n")  # 2 of 4 cols

    return _stage_once("tweets", sf_dir, write)


def q_hourly_counts_tweets(spark, sf_dir):
    from ..sources.text_corpus import read_tweets_tsv

    tweets = read_tweets_tsv(spark, _staged_tweets_dir(spark, sf_dir))
    return timeseries.hourly_counts_tweets(tweets)


# tweets oracles recompute the wall-clock fields straight from ts
# (the staged TSV's rendered string is sliced positionally by the
# Spark side; month/day/hour of the render equal month/day/hour of the
# timestamp under the same UTC session zone). date is "M/dd" and hour
# "HH" — the tweet path keeps the reference's zero-padded text fields,
# unlike the events path's "M/d" + int hour.
ORACLE["hourly_counts_tweets"] = """
SELECT CAST(month(ts) AS VARCHAR) || '/' || strftime(ts, '%d') AS date,
       strftime(ts, '%H') AS hour, count(*) AS cnt
FROM events GROUP BY 1, 2
"""

_TWEET_MESSAGE_SQL = (
    "CASE WHEN event_type = 'error' THEN 'Trouble near Cairo' "
    "ELSE 'all quiet: ' || event_type END"
)


def q_hourly_counts_tweets_egypt(spark, sf_dir):
    from ..sources.text_corpus import read_tweets_tsv

    tweets = read_tweets_tsv(spark, _staged_tweets_dir(spark, sf_dir))
    return timeseries.hourly_counts_tweets(
        tweets, message_regex="(?i)(egypt|cairo)"
    )


ORACLE["hourly_counts_tweets_egypt"] = f"""
SELECT CAST(month(ts) AS VARCHAR) || '/' || strftime(ts, '%d') AS date,
       strftime(ts, '%H') AS hour, count(*) AS cnt
FROM events
WHERE regexp_matches({_TWEET_MESSAGE_SQL}, '(?i)(egypt|cairo)')
GROUP BY 1, 2
"""


def q_dense_hourly_counts(spark, sf_dir):
    return timeseries.fill_hourly_gaps(_events(spark, sf_dir))


# gap filling: the dense axis re-derives from generate_series over the
# same min/max hour bounds, LEFT JOIN coalesced to explicit zeros.
ORACLE["dense_hourly_counts"] = """
WITH h AS (SELECT date_trunc('hour', ts) AS h FROM events),
c AS (SELECT h, count(*) AS cnt FROM h GROUP BY h),
cal AS (
  SELECT unnest(generate_series((SELECT min(h) FROM h),
                                (SELECT max(h) FROM h),
                                INTERVAL 1 HOUR)) AS h
)
SELECT strftime(cal.h, '%Y-%m-%d %H:00:00') AS hour_ts,
       coalesce(c.cnt, 0) AS cnt
FROM cal LEFT JOIN c USING (h)
"""

# 6 overlapping 42-hour promo windows across the events month — the
# same literals appear in the range_join oracle's VALUES list.
_PROMO_WINDOWS = [
    (i, f"2024-01-{1 + 4 * i:02d} 18:00:00", f"2024-01-{3 + 4 * i:02d} 12:00:00")
    for i in range(6)
]

_PROMO_VALUES = ",".join(
    f"({i}, TIMESTAMP '{s}', TIMESTAMP '{e}')" for i, s, e in _PROMO_WINDOWS
)


def q_range_join(spark, sf_dir):
    """Point-in-interval join (events × promo windows) via the bucketed
    equi-join rewrite, rolled up per window."""
    promos = spark.createDataFrame(
        _PROMO_WINDOWS, "promo_id int, start_s string, end_s string"
    ).select(
        "promo_id",
        F.to_timestamp("start_s").alias("start_ts"),
        F.to_timestamp("end_s").alias("end_ts"),
    )
    j = temporal.range_join(_events(spark, sf_dir), promos)
    return j.groupBy("promo_id").agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 6)
        .cast("double")
        .alias("total_value"),
    )


ORACLE["range_join"] = f"""
WITH promos(promo_id, start_ts, end_ts) AS (VALUES {_PROMO_VALUES})
SELECT promo_id, count(*) AS n_events, count(DISTINCT user_id) AS n_users,
       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE) AS total_value
FROM events e JOIN promos p ON e.ts >= p.start_ts AND e.ts < p.end_ts
GROUP BY promo_id
"""


def q_asof_join(spark, sf_dir):
    """Each purchase event matched to the same user's most recent
    prior-or-simultaneous click (inner as-of). The oracle is DuckDB's
    native ASOF JOIN — an independent algorithm that must agree."""
    ev = _events(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts", "value")
    j = temporal.asof_join(purchases, clicks, on="user_id", carry=["value"])
    return j.where(F.col("ts_r").isNotNull()).select(
        "user_id",
        F.unix_micros("ts").alias("purchase_ts_us"),
        F.round("value", 6).alias("purchase_value"),
        F.unix_micros("ts_r").alias("click_ts_us"),
        F.round("value_r", 6).alias("click_value"),
    )


ORACLE["asof_join"] = """
WITH p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')
SELECT p.user_id,
       epoch_us(p.ts) AS purchase_ts_us, round(p.value, 6) AS purchase_value,
       epoch_us(c.ts) AS click_ts_us, round(c.value, 6) AS click_value
FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def q_hypertable_rollup(spark, sf_dir):
    return temporal.hypertable_rollup(_events(spark, sf_dir))


ORACLE["hypertable_rollup"] = """
SELECT strftime(ts, '%Y-%m-%d') AS day, CAST(hour(ts) AS INTEGER) AS hr,
       count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE) AS total_value,
       CAST(GROUPING(day, hr) AS INTEGER) AS grain
FROM events GROUP BY ROLLUP (day, hr)
"""


def q_sliding_hourly_stats(spark, sf_dir):
    return temporal.sliding_hourly_stats(_events(spark, sf_dir))


ORACLE["sliding_hourly_stats"] = """
WITH hourly AS (
  SELECT event_type,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
         count(*) AS n,
         CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE) AS total_value
  FROM events GROUP BY 1, 2)
SELECT event_type, hour, n, total_value,
       round(avg(n) OVER w, 6) AS moving_avg_n,
       round(sum(total_value) OVER w, 6) AS moving_total_value
FROM hourly
WINDOW w AS (PARTITION BY event_type ORDER BY hour
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
"""


def q_hourly_anomalies(spark, sf_dir):
    """Trailing-window z-score volume anomalies per event_type (6-hour
    baseline, current hour excluded from its own baseline)."""
    return temporal.hourly_anomalies(_events(spark, sf_dir))


ORACLE["hourly_anomalies"] = """
WITH hourly AS (
  SELECT event_type,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
         count(*) AS n
  FROM events GROUP BY 1, 2
), scored AS (
  SELECT event_type, hour, n,
         round(avg(n) OVER w, 6) AS baseline_mean,
         round(stddev_samp(n) OVER w, 6) AS baseline_sd
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, hour, n, baseline_mean, baseline_sd,
       round((n - baseline_mean) / baseline_sd, 6) AS zscore,
       abs(round((n - baseline_mean) / baseline_sd, 6)) >= 3.0 AS is_anomaly
FROM scored
WHERE baseline_sd IS NOT NULL AND baseline_sd > 0
"""


def q_snapshot_diff(spark, sf_dir):
    """Incremental-sync diff between two deterministic versions of the
    events table: the 'old' snapshot is missing every 17th event
    (-> inserts), the 'new' one drops every 19th (-> deletes) and bumps
    value on every 13th (-> updates); value is canonicalized to
    DECIMAL(18,6) before digesting (engine-stable rendering)."""
    ev = _events(spark, sf_dir).select(
        "event_id",
        "event_type",
        F.round("value", 6).cast("decimal(18,6)").alias("value_d"),
    )
    old = ev.where(F.col("event_id") % 17 != 0)
    new = ev.where(F.col("event_id") % 19 != 0).withColumn(
        "value_d",
        F.when(
            F.col("event_id") % 13 == 0,
            (F.col("value_d") + 1).cast("decimal(18,6)"),
        ).otherwise(F.col("value_d")),
    )
    return temporal.snapshot_diff(
        old, new, key="event_id", compare_cols=("event_type", "value_d")
    )


ORACLE["snapshot_diff"] = """
WITH base AS (
  SELECT event_id, event_type,
         CAST(round(value, 6) AS DECIMAL(18,6)) AS value_d
  FROM events
),
old AS (
  -- mirrors the engine digest: md5 per column (NULL -> NUL-wrapped
  -- sentinel) concatenated, then an outer md5 — per-column hashing
  -- keeps delimiter bytes in values from shifting field boundaries
  SELECT event_id,
         md5(md5(coalesce(event_type, chr(0) || 'NULL' || chr(0)))
             || md5(coalesce(CAST(value_d AS VARCHAR),
                             chr(0) || 'NULL' || chr(0)))) AS d
  FROM base WHERE event_id % 17 != 0
),
new AS (
  SELECT event_id,
         md5(md5(coalesce(event_type, chr(0) || 'NULL' || chr(0)))
             || md5(coalesce(CAST(
           CASE WHEN event_id % 13 = 0
                THEN CAST(value_d + 1 AS DECIMAL(18,6))
                ELSE value_d END AS VARCHAR),
                             chr(0) || 'NULL' || chr(0)))) AS d
  FROM base WHERE event_id % 19 != 0
)
SELECT COALESCE(o.event_id, n.event_id) AS event_id,
       CASE WHEN o.event_id IS NULL THEN 'insert'
            WHEN n.event_id IS NULL THEN 'delete'
            WHEN o.d != n.d THEN 'update' END AS change_type
FROM old o FULL OUTER JOIN new n ON o.event_id = n.event_id
WHERE (CASE WHEN o.event_id IS NULL THEN 'insert'
            WHEN n.event_id IS NULL THEN 'delete'
            WHEN o.d != n.d THEN 'update' END) IS NOT NULL
"""


def q_daily_trend(spark, sf_dir):
    """Per-event_type linear trend of daily volume via the built-in
    least-squares aggregates: slope/intercept of count ~ epoch-day.
    One pre-aggregation to daily counts, then regr_* over the tiny
    per-type day series — closed-form, no iterative fitting."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("d"),
    ).agg(F.count("*").alias("n"))
    return daily.groupBy("event_type").agg(
        F.round(F.expr("regr_slope(n, d)"), 6).alias("slope"),
        F.round(F.expr("regr_intercept(n, d)"), 6).alias("intercept"),
        F.count("*").alias("n_days"),
    )


ORACLE["daily_trend"] = """
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type,
       round(regr_slope(n, d), 6) AS slope,
       round(regr_intercept(n, d), 6) AS intercept,
       count(*) AS n_days
FROM daily GROUP BY event_type
"""


def q_normalize_events(spark, sf_dir):
    """Per-event_type z-score + min-max scaling of event values (the
    standard-scaler pair, exact two-pass stats join)."""
    ev = _events(spark, sf_dir).select(
        "event_id", "event_type", F.col("value")
    )
    return features.normalize_values(
        ev, value_col="value", group_col="event_type"
    )


ORACLE["normalize_events"] = """
WITH raw AS (
  -- exact decimal sufficient statistics (mirrors the Spark operator):
  -- order-independent sums, so the per-row rounded z-scores cannot
  -- flip on a 1e-6 boundary under a different partial-sum order
  SELECT event_type, count(value) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s,
         CAST(sum(CAST(value AS DECIMAL(18,6))
                  * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s2,
         min(value) AS lo, max(value) AS hi
  FROM events GROUP BY event_type
), stats AS (
  SELECT event_type, s / n AS mu,
         CASE WHEN n > 1
              THEN sqrt(greatest(0.0, (s2 - s * s / n) / (n - 1))) END AS sd,
         lo, hi
  FROM raw
)
SELECT event_id, e.event_type, round(value, 6) AS value,
       CASE WHEN sd IS NOT NULL AND sd > 0
            THEN round((value - mu) / sd, 6) END AS zscore,
       CASE WHEN hi - lo > 0 THEN round((value - lo) / (hi - lo), 6)
            ELSE 0.5 END AS minmax
FROM events e JOIN stats s ON e.event_type = s.event_type
"""


def q_rolling_active_users(spark, sf_dir):
    """DAU / trailing-7-day WAU per observed day."""
    return funnel.rolling_active_users(_events(spark, sf_dir))


ORACLE["rolling_active_users"] = """
WITH daily AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
days AS (SELECT DISTINCT day FROM daily)
SELECT strftime(d.day, '%Y-%m-%d') AS day,
       count(DISTINCT CASE WHEN u.day = d.day THEN u.user_id END) AS dau,
       count(DISTINCT u.user_id) AS wau
FROM days d JOIN daily u ON u.day BETWEEN d.day - 6 AND d.day
GROUP BY 1
"""


def q_interpolate_gaps(spark, sf_dir):
    """Linearly interpolated dense hourly value series per event type
    — the imputation step between zero-fill and modeling."""
    return temporal.interpolate_gaps(_events(spark, sf_dir))


ORACLE["interpolate_gaps"] = """
WITH hourly AS (
  SELECT event_type AS grp, date_trunc('hour', ts) AS h,
         CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
), cal AS (
  SELECT grp, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
  FROM (SELECT grp, min(h) AS lo, max(h) AS hi FROM hourly GROUP BY grp)
), dense AS (
  SELECT c.grp, c.h, hv.v
  FROM cal c LEFT JOIN hourly hv ON c.grp = hv.grp AND c.h = hv.h
), nb AS (
  SELECT grp, h, v,
    CAST(epoch(h) / 3600 AS BIGINT) AS hr,
    last_value(v IGNORE NULLS) OVER w_back AS prev_v,
    last_value(CASE WHEN v IS NOT NULL
                    THEN CAST(epoch(h) / 3600 AS BIGINT) END IGNORE NULLS)
      OVER w_back AS prev_h,
    first_value(v IGNORE NULLS) OVER w_fwd AS next_v,
    first_value(CASE WHEN v IS NOT NULL
                     THEN CAST(epoch(h) / 3600 AS BIGINT) END IGNORE NULLS)
      OVER w_fwd AS next_h
  FROM dense
  WINDOW
    w_back AS (PARTITION BY grp ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_fwd AS (PARTITION BY grp ORDER BY h
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT grp AS event_type, strftime(h, '%Y-%m-%d %H:00:00') AS hour_ts,
       CASE WHEN v IS NOT NULL THEN v
            WHEN prev_v IS NULL THEN next_v
            WHEN next_v IS NULL THEN prev_v
            ELSE round(prev_v + (next_v - prev_v) * (hr - prev_h)
                       / (next_h - prev_h), 6) END AS value,
       (v IS NULL) AS filled
FROM nb
"""


def q_hourly_top_movers(spark, sf_dir):
    """Top-10 hour-over-hour count swings per event type — the
    what-just-spiked dashboard."""
    return timeseries.hourly_top_movers(_events(spark, sf_dir))


ORACLE["hourly_top_movers"] = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS cnt
  FROM events GROUP BY 1, 2
), moved AS (
  SELECT event_type, h, cnt,
         lag(cnt) OVER (PARTITION BY event_type ORDER BY h) AS prev_cnt
  FROM hourly
)
SELECT event_type, strftime(h, '%Y-%m-%d %H:00:00') AS hour_ts,
       cnt, prev_cnt, cnt - prev_cnt AS delta
FROM moved WHERE prev_cnt IS NOT NULL
ORDER BY abs(cnt - prev_cnt) DESC, event_type ASC, h ASC
LIMIT 10
"""


def q_activity_heatmap(spark, sf_dir):
    """Day-of-week × hour-of-day activity with distinct users — the
    168-cell audience heatmap."""
    return timeseries.activity_heatmap(_events(spark, sf_dir))


ORACLE["activity_heatmap"] = """
SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
       CAST(hour(ts) AS INTEGER) AS hour,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
"""


def q_point_in_time_state(spark, sf_dir):
    """Feature-store point-in-time join: every purchase enriched with
    the browsing-state version (SCD2 over NON-purchase events) valid
    AT the purchase timestamp — per state: purchase count and average
    state staleness. A latest-value join would leak the future;
    this one cannot."""
    ev = _events(spark, sf_dir)
    hist = temporal.scd2_history(
        ev.where(F.col("event_type") != "purchase").select(
            "user_id", "event_type", "ts", "event_id"
        ),
        keys=("user_id",),
        attrs=("event_type",),
        ts_col="ts",
        tiebreak="event_id",
    ).select(
        F.col("user_id").alias("h_user"),
        F.col("event_type").alias("state"),
        "valid_from",
        "valid_to",
    )
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts")
    j = temporal.point_in_time_join(
        purchases.withColumnRenamed("user_id", "k_user"),
        hist.withColumnRenamed("h_user", "k_user"),
        keys=("k_user",),
        ts_col="ts",
    )
    staleness = (
        F.unix_micros(F.col("ts")) - F.unix_micros(F.col("valid_from"))
    ) / 1_000_000.0
    return j.groupBy(
        F.coalesce(F.col("state"), F.lit("(none)")).alias("state")
    ).agg(
        F.count("*").alias("n_purchases"),
        F.round(F.avg(staleness), 6).alias("avg_staleness_s"),
    )


ORACLE["point_in_time_state"] = """
WITH chg AS (
  SELECT user_id, event_type, ts,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS pt,
         event_id
  FROM events WHERE event_type <> 'purchase'
), versions AS (
  SELECT user_id, event_type, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS valid_to
  FROM chg WHERE pt IS NULL OR pt <> event_type
), p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
m AS (
  SELECT p.ts, v.event_type AS state, v.valid_from
  FROM p LEFT JOIN versions v
    ON p.user_id = v.user_id
   AND v.valid_from <= p.ts
   AND (v.valid_to IS NULL OR p.ts < v.valid_to)
)
SELECT COALESCE(state, '(none)') AS state, count(*) AS n_purchases,
       round(avg((epoch_us(ts) - epoch_us(valid_from))
                 / CAST(1000000 AS DOUBLE)), 6) AS avg_staleness_s
FROM m GROUP BY 1
"""


def q_slo_burn_rate(spark, sf_dir):
    """SRE burn-rate readout: hourly error rate vs its trailing-6h
    rate, and their ratio (the fast/slow burn alert pair) — lag
    windows over the hour-cardinality rollup only."""
    hourly = (
        _events(spark, sf_dir)
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("event_type") == "error").cast("int")).alias("err"),
        )
    )
    # bounded-input: one row per observed hour
    w6 = Window.orderBy("h").rowsBetween(-5, 0)
    rate1 = F.round(F.col("err") / F.col("n"), 6)
    rate6 = F.round(F.sum("err").over(w6) / F.sum("n").over(w6), 6)
    return hourly.select(
        F.date_format("h", "yyyy-MM-dd HH:00:00").alias("hour_ts"),
        rate1.alias("err_rate_1h"),
        rate6.alias("err_rate_6h"),
        F.when(rate6 > 0, F.round(rate1 / rate6, 6)).alias("burn_rate"),
    )


ORACLE["slo_burn_rate"] = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, count(*) AS n,
         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS err
  FROM events GROUP BY 1
), r AS (
  SELECT h,
         round(CAST(err AS DOUBLE) / n, 6) AS err_rate_1h,
         round(CAST(sum(err) OVER w6 AS DOUBLE) / sum(n) OVER w6, 6)
           AS err_rate_6h
  FROM hourly
  WINDOW w6 AS (ORDER BY h ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
)
SELECT strftime(h, '%Y-%m-%d %H:00:00') AS hour_ts, err_rate_1h, err_rate_6h,
       CASE WHEN err_rate_6h > 0
            THEN round(err_rate_1h / err_rate_6h, 6) END AS burn_rate
FROM r
"""


def q_scd2_history(spark, sf_dir):
    """Type-2 dimension build over the events log: per user, the
    versioned history of event_type transitions with validity
    intervals (consecutive same-type events collapse)."""
    hist = temporal.scd2_history(
        _events(spark, sf_dir).select("user_id", "event_type", "ts", "event_id"),
        keys=("user_id",),
        attrs=("event_type",),
        ts_col="ts",
        tiebreak="event_id",
    )
    return hist.select(
        "user_id",
        "version",
        "event_type",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "is_current",
    )


ORACLE["scd2_history"] = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
changes AS (
  SELECT user_id, event_type, ts, event_id FROM ordered
  WHERE prev_type IS NULL OR prev_type != event_type
),
hist AS (
  SELECT user_id,
         CAST(row_number() OVER w AS INTEGER) AS version,
         event_type,
         ts AS vf,
         lead(ts) OVER w AS vt
  FROM changes WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, version, event_type,
       strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(vt, '%Y-%m-%d %H:%M:%S') AS valid_to,
       vt IS NULL AS is_current
FROM hist
"""


def q_latest_events(spark, sf_dir):
    """CDC/upsert compaction: the most recent event per
    (user_id, event_type), event_id as the deterministic tie-break —
    a partial-aggregating max_by, not a window sort."""
    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    snap = temporal.latest_snapshot(
        ev, keys=("user_id", "event_type"), ts_col="ts", tiebreak="event_id"
    )
    return snap.select(
        "user_id",
        "event_type",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.round("value", 6).alias("value"),
    )


ORACLE["latest_events"] = """
SELECT user_id, event_type, event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       round(value, 6) AS value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
"""
