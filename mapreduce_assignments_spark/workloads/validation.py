"""Data validation and profiling: drift, outliers, privacy and
corpus cards."""

from __future__ import annotations

import pyspark.sql.functions as F

from ..operators import profiling
from ..sources.tables import load_table
from ._shared import _docs, _events

ORACLE: dict[str, str] = {}


def q_length_drift_psi(spark, sf_dir):
    """PSI drift of the doc-length distribution between src0 and src1
    — the ingestion drift gate over exact log2 buckets."""
    return profiling.distribution_psi(
        _docs(spark, sf_dir), "n_chars", "source", ref="src0", cur="src1"
    )


ORACLE["length_drift_psi"] = """
WITH b AS (
  SELECT CAST(CASE WHEN n_chars > 0 THEN length(bin(n_chars)) - 1
              ELSE -1 END AS INTEGER) AS bucket,
         CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_ref,
         CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_cur
  FROM documents WHERE source IN ('src0', 'src1')
  GROUP BY 1
),
t AS (SELECT CAST(sum(cnt_ref) AS BIGINT) AS ref_rows,
             CAST(sum(cnt_cur) AS BIGINT) AS cur_rows FROM b),
c AS (
  SELECT b.*, t.ref_rows, t.cur_rows,
         CASE WHEN b.cnt_ref > 0 AND b.cnt_cur > 0
              THEN round((b.cnt_ref / t.ref_rows - b.cnt_cur / t.cur_rows)
                         * ln((b.cnt_ref / t.ref_rows) / (b.cnt_cur / t.cur_rows)), 6)
         END AS contrib
  FROM b, t
)
SELECT max(ref_rows) AS ref_rows, max(cur_rows) AS cur_rows,
       count(*) AS n_buckets_union,
       count(contrib) AS n_buckets_common,
       round(COALESCE(sum(contrib), 0.0), 6) AS psi
FROM c
"""


def q_corpus_card(spark, sf_dir):
    """Per-source dataset datasheet: volume, language mix, dedup
    ratio, quality, median length (Gebru et al. 2021 shape)."""
    return profiling.corpus_card(_docs(spark, sf_dir))


ORACLE["corpus_card"] = r"""
WITH t AS (
  SELECT source, lang, text, len(text) AS n_chars,
         list_filter(regexp_split_to_array(text, '\s+'), t -> len(t) > 0) AS ts
  FROM documents
), m AS (
  SELECT source, lang, text, n_chars, len(ts) AS n,
         CASE WHEN len(ts) > 0
              THEN CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) ELSE 0.0 END AS dr,
         CASE WHEN len(ts) > 0
              THEN CAST(len(list_filter(ts, w -> w IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'))) AS DOUBLE) / len(ts)
              ELSE 0.0 END AS sr
  FROM t)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS total_tokens,
       round(avg(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END), 6) AS en_share,
       round(count(DISTINCT md5(text)) * 1.0 / count(*), 6) AS uniq_ratio,
       round(avg(round(0.4 * least(1.0, CAST(n AS DOUBLE) / 64.0)
                       + 0.3 * dr
                       + 0.3 * (1.0 - least(1.0, abs(sr - 0.4) * 2.5)), 6)), 6)
         AS avg_quality,
       round(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 6) AS p50_chars
FROM m GROUP BY source
"""


def q_robust_outliers(spark, sf_dir):
    """Median/MAD modified z-score outlier flags per event_type."""
    ev = _events(spark, sf_dir).select("event_id", "event_type", "value")
    return profiling.robust_outliers(ev, value_col="value", group_col="event_type")


ORACLE["robust_outliers"] = """
WITH med AS (
  SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
  FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_id, e.event_type, e.value, m.med,
         abs(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, round(quantile_cont(adev, 0.5), 6) AS mad
  FROM dev GROUP BY event_type
)
SELECT event_id, d.event_type, round(value, 6) AS value, med, mad,
       CASE WHEN mad > 0
            THEN round(0.6745 * (value - med) / mad, 6) END AS robust_z,
       (mad > 0 AND abs(round(0.6745 * (value - med) / mad, 6)) >= 3.5)
         AS is_outlier
FROM dev d JOIN mad USING (event_type)
"""


def q_k_anonymity(spark, sf_dir):
    """k-anonymity audit of the (mktsegment, nationkey)
    quasi-identifier over customers, k=5 — the re-identification risk
    gate before a data release."""
    return profiling.k_anonymity(
        load_table(spark, sf_dir, "customer"),
        ["c_mktsegment", "c_nationkey"],
        k=5,
    )


ORACLE["k_anonymity"] = """
SELECT c_mktsegment, c_nationkey, count(*) AS class_size,
       count(*) < 5 AS violates
FROM customer GROUP BY 1, 2
"""


def q_winsorize_values(spark, sf_dir):
    """Winsorization report at p05/p95 of event values: clip counts
    and the mean before vs after — the outlier-taming preprocessing
    step, with one exact-percentile aggregate broadcast back."""
    ev = _events(spark, sf_dir).select(F.col("value").cast("double").alias("v"))
    bounds = ev.agg(
        F.round(F.expr("percentile(v, 0.05)"), 6).alias("lo"),
        F.round(F.expr("percentile(v, 0.95)"), 6).alias("hi"),
    )
    j = ev.crossJoin(F.broadcast(bounds))
    wv = F.when(F.col("v") < F.col("lo"), F.col("lo")).when(
        F.col("v") > F.col("hi"), F.col("hi")
    ).otherwise(F.col("v"))
    return j.agg(
        F.count("*").alias("n"),
        F.sum((F.col("v") < F.col("lo")).cast("int")).cast("long").alias("n_clipped_lo"),
        F.sum((F.col("v") > F.col("hi")).cast("int")).cast("long").alias("n_clipped_hi"),
        F.round(F.avg("v"), 6).alias("mean_raw"),
        F.round(F.avg(wv), 6).alias("mean_winsorized"),
    )


ORACLE["winsorize_values"] = """
WITH v AS (SELECT CAST(value AS DOUBLE) AS v FROM events),
b AS (
  SELECT round(quantile_cont(v, 0.05), 6) AS lo,
         round(quantile_cont(v, 0.95), 6) AS hi
  FROM v
)
SELECT count(*) AS n,
       CAST(sum(CASE WHEN v.v < b.lo THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_lo,
       CAST(sum(CASE WHEN v.v > b.hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_hi,
       round(avg(v.v), 6) AS mean_raw,
       round(avg(CASE WHEN v.v < b.lo THEN b.lo
                      WHEN v.v > b.hi THEN b.hi
                      ELSE v.v END), 6) AS mean_winsorized
FROM v CROSS JOIN b
"""


def q_numeric_percentiles_profile(spark, sf_dir):
    """Exact percentile profile of the lineitem measures in long form
    — (column, p, value): the quartile sheet data contracts pin."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = [0.25, 0.5, 0.75, 0.95]
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    arr = ", ".join(str(p) for p in ps)
    one = li.agg(
        *[
            F.expr(f"percentile({c}, array({arr}))").alias(f"__{c}")
            for c in cols
        ]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.lit(p).alias("p"),
                F.round(F.col(f"__{c}")[i], 6).alias("value"),
            )
            for c in cols
            for i, p in enumerate(ps)
        ]
    )
    return one.select(F.inline(rows))


ORACLE["numeric_percentiles_profile"] = """
SELECT c.column, c.p, c.value FROM (
  SELECT 'l_quantity' AS column, CAST(0.25 AS DOUBLE) AS p,
         round(quantile_cont(l_quantity, 0.25), 6) AS value FROM lineitem
  UNION ALL SELECT 'l_quantity', CAST(0.5 AS DOUBLE),
         round(quantile_cont(l_quantity, 0.5), 6) FROM lineitem
  UNION ALL SELECT 'l_quantity', CAST(0.75 AS DOUBLE),
         round(quantile_cont(l_quantity, 0.75), 6) FROM lineitem
  UNION ALL SELECT 'l_quantity', CAST(0.95 AS DOUBLE),
         round(quantile_cont(l_quantity, 0.95), 6) FROM lineitem
  UNION ALL SELECT 'l_extendedprice', CAST(0.25 AS DOUBLE),
         round(quantile_cont(l_extendedprice, 0.25), 6) FROM lineitem
  UNION ALL SELECT 'l_extendedprice', CAST(0.5 AS DOUBLE),
         round(quantile_cont(l_extendedprice, 0.5), 6) FROM lineitem
  UNION ALL SELECT 'l_extendedprice', CAST(0.75 AS DOUBLE),
         round(quantile_cont(l_extendedprice, 0.75), 6) FROM lineitem
  UNION ALL SELECT 'l_extendedprice', CAST(0.95 AS DOUBLE),
         round(quantile_cont(l_extendedprice, 0.95), 6) FROM lineitem
  UNION ALL SELECT 'l_discount', CAST(0.25 AS DOUBLE),
         round(quantile_cont(l_discount, 0.25), 6) FROM lineitem
  UNION ALL SELECT 'l_discount', CAST(0.5 AS DOUBLE),
         round(quantile_cont(l_discount, 0.5), 6) FROM lineitem
  UNION ALL SELECT 'l_discount', CAST(0.75 AS DOUBLE),
         round(quantile_cont(l_discount, 0.75), 6) FROM lineitem
  UNION ALL SELECT 'l_discount', CAST(0.95 AS DOUBLE),
         round(quantile_cont(l_discount, 0.95), 6) FROM lineitem
) c
"""


def q_dp_event_counts(spark, sf_dir):
    """Epsilon-DP (eps=1) release of per-event-type counts via the
    Laplace mechanism with deterministic seeded noise — the privacy
    gate a usage-telemetry release runs; k_anonymity's complement for
    aggregate (not row-level) releases."""
    return profiling.dp_noisy_counts(
        _events(spark, sf_dir), "event_type", epsilon=1.0
    )


ORACLE["dp_event_counts"] = """
WITH g AS (
  SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type),
u AS (
  SELECT event_type, n,
         (CAST(CONCAT('0x', substring(md5(CONCAT('dp-v1', event_type)), 1, 15))
               AS BIGINT) + 1) / 1152921504606846978.0 AS uni
  FROM g)
SELECT event_type,
       round(n + (-1.0) * sign(uni - 0.5) * ln(1.0 - 2.0 * abs(uni - 0.5)), 6)
         AS noisy_count
FROM u
"""

_PROFILE_EV = """
  SELECT event_id, user_id, event_type,
         strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
         CAST(round(value, 6) AS DECIMAL(18,6)) AS value_d
  FROM events
"""


def q_profile_events(spark, sf_dir):
    """Deequ-style one-pass data-quality profile of the events table:
    completeness, exact cardinality, and min/max per column. Engine-
    specific string renderings (timestamp, double) are canonicalized
    BEFORE profiling — ts to 'yyyy-MM-dd HH:mm:ss', value to
    DECIMAL(18,6) — so the profile itself is type-agnostic."""
    ev = _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.round("value", 6).cast("decimal(18,6)").alias("value_d"),
    )
    return profiling.profile_columns(
        ev, ["event_id", "user_id", "event_type", "ts_s", "value_d"]
    )


ORACLE["profile_events"] = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column, count(*) AS n_rows, count({c}) AS non_null,
       count(DISTINCT {c}) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_value,
       CAST(max({c}) AS VARCHAR) AS max_value
FROM ({_PROFILE_EV})"""
    for c in ("event_id", "user_id", "event_type", "ts_s", "value_d")
)
