"""TPC-H style joins and aggregates, sessions, funnels and
attribution over the relational tables."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql.window import Window

from ..operators import funnel, relational, skew, timeseries
from ..sources.tables import load_table, register_views
from ._shared import _events, _ptable, _stage_once

ORACLE: dict[str, str] = {}


def q_pricing_summary(spark, sf_dir):
    # r15: the one-row-group lineitem scan+partial-agg otherwise runs
    # on a single task (guide §2.5); decimal aggregates are
    # order-independent, so the round-robin is value-exact
    return relational.pricing_summary(
        _ptable(spark, sf_dir, "lineitem")
    )


ORACLE["pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 6) AS DOUBLE) AS sum_qty,
  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 6) AS DOUBLE) AS sum_base_price,
  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                 * (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))), 6)
       AS DOUBLE) AS sum_disc_price,
  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                 * ((CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))
                    * (CAST(1 AS DECIMAL(8,6)) + CAST(l_tax AS DECIMAL(8,6))))), 6)
       AS DOUBLE) AS sum_charge,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_qty,
  round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_revenue_orders(spark, sf_dir):
    out = relational.top_revenue_orders(
        # r15: split the one-row-group big sides (decimal-exact sums,
        # see q_pricing_summary)
        _ptable(spark, sf_dir, "lineitem"),
        _ptable(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        k=10,
    )
    return out.withColumn("o_orderdate", F.date_format("o_orderdate", "yyyy-MM-dd"))


ORACLE["top_revenue_orders"] = """
SELECT o_orderkey, c_mktsegment, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                      * (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))), 6)
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY o_orderkey, c_mktsegment, o_orderdate
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""

_REVENUE_BY_NATION_SQL = """
SELECT n_name, r_name,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                      * (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))), 6)
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY n_name, r_name
"""


def q_revenue_by_nation(spark, sf_dir):
    return relational.revenue_by_nation(
        # r15: split the one-row-group big sides (decimal-exact sums,
        # see q_pricing_summary)
        _ptable(spark, sf_dir, "lineitem"),
        _ptable(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


ORACLE["revenue_by_nation"] = _REVENUE_BY_NATION_SQL


def q_user_sessions(spark, sf_dir):
    return relational.user_sessions(_events(spark, sf_dir), gap_minutes=30)


ORACLE["user_sessions"] = """
WITH g AS (
  SELECT user_id,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
)
SELECT user_id, CAST(sum(ns) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM g GROUP BY user_id
"""


def q_sql_revenue_by_nation(spark, sf_dir):
    """The SQL-surface twin of revenue_by_nation: the same star join
    expressed as ``spark.sql`` over registered views — demonstrates the
    engine's full SQL front-end (reference's Pig scripts analogue,
    assignment6/assignment6.md:9-55)."""
    register_views(spark, sf_dir)
    return spark.sql(_REVENUE_BY_NATION_SQL)


ORACLE["sql_revenue_by_nation"] = _REVENUE_BY_NATION_SQL


def q_event_props_stats(spark, sf_dir):
    return timeseries.event_props_stats(_events(spark, sf_dir))


ORACLE["event_props_stats"] = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
         AS avg_value
FROM events GROUP BY event_type
"""


def q_top_orders_per_customer(spark, sf_dir):
    return relational.top_orders_per_customer(load_table(spark, sf_dir, "orders"), k=3)


ORACLE["top_orders_per_customer"] = """
SELECT o_custkey, o_orderkey, o_totalprice,
       CAST(row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey ASC)
            AS INTEGER) AS rn
FROM orders
QUALIFY rn <= 3
"""


def q_revenue_lag_features(spark, sf_dir):
    """Daily-revenue ML lag features: (day, revenue, lag1, lag7,
    pct_change) — the feature-engineering step a demand forecaster
    trains on. Exact-decimal daily sums rounded to the shared grid,
    then a calendar-bounded window (days, not rows of the fact
    table); rows without a full 7-day history drop."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"))
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 6)
            .cast("double")
            .alias("revenue")
        )
    )
    # bounded-input: one row per calendar day
    w = Window.orderBy("day")
    out = daily.select(
        "day",
        "revenue",
        F.lag("revenue", 1).over(w).alias("lag1"),
        F.lag("revenue", 7).over(w).alias("lag7"),
    ).where(F.col("lag7").isNotNull())
    return out.select(
        "day",
        "revenue",
        "lag1",
        "lag7",
        F.round((F.col("revenue") - F.col("lag1")) / F.col("lag1"), 6).alias(
            "pct_change"
        ),
    )


ORACLE["revenue_lag_features"] = """
WITH daily AS (
  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 6) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1
),
lagged AS (
  SELECT day, revenue,
         lag(revenue, 1) OVER (ORDER BY day) AS lag1,
         lag(revenue, 7) OVER (ORDER BY day) AS lag7
  FROM daily
)
SELECT day, revenue, lag1, lag7,
       round((revenue - lag1) / lag1, 6) AS pct_change
FROM lagged WHERE lag7 IS NOT NULL
"""


def q_conversion_lag(spark, sf_dir):
    """Click→purchase time-to-convert summary within a 1h window."""
    return funnel.conversion_lag_stats(load_table(spark, sf_dir, "events"))


ORACLE["conversion_lag"] = """
WITH clicks AS (
  SELECT event_id AS cid, user_id, ts AS cts FROM events
  WHERE event_type = 'click'
),
buys AS (SELECT user_id, ts AS pts FROM events WHERE event_type = 'purchase'),
firsts AS (
  SELECT c.cid, c.cts, min(b.pts) AS first_pts
  FROM clicks c JOIN buys b ON b.user_id = c.user_id
  WHERE b.pts >= c.cts AND b.pts <= c.cts + INTERVAL 60 MINUTES
  GROUP BY 1, 2
),
lags AS (SELECT CAST(date_diff('second', cts, first_pts) AS BIGINT) AS lag_s FROM firsts)
SELECT count(*) AS n_conversions,
       round(CAST(sum(lag_s) AS BIGINT) / count(*), 6) AS mean_lag_s,
       round(quantile_cont(lag_s, 0.5), 6) AS p50_lag_s,
       max(lag_s) AS max_lag_s
FROM lags
"""


def q_revenue_share(spark, sf_dir):
    """Each nation's share of global revenue — window-over-aggregate
    on the star-join rollup (25 rounded summands; round-6 absorbs the
    window sum's order ulps)."""
    rev = relational.revenue_by_nation(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )
    # bounded-input: one row per nation
    w = Window.partitionBy()
    return rev.select(
        "n_name",
        "r_name",
        "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(w), 6).alias("share"),
    )


ORACLE["revenue_share"] = f"""
WITH rev AS ({_REVENUE_BY_NATION_SQL})
SELECT n_name, r_name, revenue,
       round(revenue / sum(revenue) OVER (), 6) AS share
FROM rev
"""


def q_funnel_counts(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return funnel.funnel_counts(ev, steps=["view", "click", "purchase"])


# funnel: the oracle decides step completion by stepwise-min (earliest
# step-1 event, then earliest step-2 event strictly after it, ...) —
# a different algorithm than the operator's greedy array fold, but the
# same function (greedy earliest-first subsequence matching is exact),
# so this is a genuine cross-check, not a replay.
ORACLE["funnel_counts"] = """
WITH t1 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
t2 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN t1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > t1.t GROUP BY e.user_id
),
t3 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN t2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > t2.t GROUP BY e.user_id
)
SELECT 1 AS step, 'view' AS event_type, (SELECT count(*) FROM t1) AS n_users
UNION ALL
SELECT 2, 'click', (SELECT count(*) FROM t2)
UNION ALL
SELECT 3, 'purchase', (SELECT count(*) FROM t3)
"""


def q_cohort_retention(spark, sf_dir):
    return funnel.cohort_retention(load_table(spark, sf_dir, "events"))


ORACLE["cohort_retention"] = """
WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id),
a AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
  FROM events
)
SELECT strftime(CAST(date_trunc('week', f.first_ts) AS DATE), '%Y-%m-%d') AS cohort_week,
       CAST(date_diff('day', CAST(date_trunc('week', f.first_ts) AS DATE), a.wk) / 7
            AS INTEGER) AS week_offset,
       count(*) AS n_users
FROM a JOIN f USING (user_id)
GROUP BY 1, 2
"""


def q_user_entropy(spark, sf_dir):
    """Per-user Shannon entropy of the event-type distribution."""
    return funnel.user_entropy(load_table(spark, sf_dir, "events"))


ORACLE["user_entropy"] = """
WITH by_type AS (
  SELECT user_id, event_type, count(*) AS cnt FROM events GROUP BY 1, 2
),
per_user AS (
  SELECT user_id, CAST(sum(cnt) AS BIGINT) AS n_events, count(*) AS n_types
  FROM by_type GROUP BY user_id
),
c AS (
  SELECT b.user_id, p.n_events, p.n_types,
         round(-(b.cnt / p.n_events * ln(b.cnt / p.n_events)), 6) AS c
  FROM by_type b JOIN per_user p USING (user_id)
)
SELECT user_id, n_events, n_types, round(sum(c), 6) AS entropy
FROM c GROUP BY 1, 2, 3
"""


def q_event_transitions(spark, sf_dir):
    """First-order Markov matrix over per-user event sequences."""
    return funnel.event_transitions(load_table(spark, sf_dir, "events"))


ORACLE["event_transitions"] = """
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type,
         event_type
  FROM events
),
c AS (
  SELECT prev_type, event_type, count(*) AS cnt
  FROM pairs WHERE prev_type IS NOT NULL GROUP BY 1, 2
)
SELECT prev_type, event_type, cnt,
       round(cnt / sum(cnt) OVER (PARTITION BY prev_type), 6) AS prob
FROM c
"""


def q_customers_without_orders(spark, sf_dir):
    """Anti join with a pushed-down filter on the probe side. The plain
    "no orders at all" variant is empty in this synthetic data (every
    customer ordered), so the query anti-joins against URGENT orders —
    non-empty at every sf, same plan shape."""
    urgent = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return relational.customers_without_orders(
        load_table(spark, sf_dir, "customer"), urgent
    )


ORACLE["customers_without_orders"] = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
"""


def q_salted_order_revenue(spark, sf_dir):
    """End-to-end salted_join demonstration: lineitem (the big,
    potentially hot-keyed side) joined to orders over an 8-way salt,
    then decimal-exact revenue per customer. The oracle is the PLAIN
    join — salting must be invisible in the result."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_custkey"
    )
    joined = skew.salted_join(li, orders, on="l_orderkey", how="inner", salt=8)
    # exact double-product → decimal(18,6) term (see
    # relational._exact_product_dec for the exactness argument)
    revenue = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ).cast("decimal(18,6)")
    return joined.groupBy("o_custkey").agg(
        F.round(F.sum(revenue), 6).cast("double").alias("revenue"),
        F.count("*").alias("n_items"),
    )


ORACLE["salted_order_revenue"] = """
SELECT o_custkey,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                      * (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))), 6)
            AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_custkey
"""


def _staged_bucketed_tables(spark, sf_dir: str) -> tuple[str, str]:
    """Stage orders + customer as co-bucketed EXTERNAL parquet tables
    (8 buckets on the customer key, bucket-sorted) once per process —
    the layout that lets every later join/agg on that key skip its
    exchange. External paths (``option("path")``) keep the catalog's
    warehouse dir out of the repo CWD."""
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    ot, ct = f"mras_orders_b{tag}", f"mras_customer_b{tag}"

    def write(stage):
        (
            load_table(spark, sf_dir, "orders")
            .write.format("parquet")
            .mode("overwrite")
            .bucketBy(8, "o_custkey")
            .sortBy("o_custkey")
            .option("path", f"{stage}/{ot}")
            .saveAsTable(ot)
        )
        (
            load_table(spark, sf_dir, "customer")
            .write.format("parquet")
            .mode("overwrite")
            .bucketBy(8, "c_custkey")
            .sortBy("c_custkey")
            .option("path", f"{stage}/{ct}")
            .saveAsTable(ct)
        )

    _stage_once("bucketed", sf_dir, write)
    return ot, ct


def q_bucketed_customer_orders(spark, sf_dir):
    """Bucketed-layout demonstration under the oracle: orders ⋈
    customer on the bucket key, rolled up per market segment. With both
    sides co-bucketed the join and the aggregation read co-located
    buckets (the zero-exchange property is plan-asserted in
    tests/test_bucketed.py); values must equal the plain-layout SQL."""
    from ..sources.bucketed import read_bucketed

    ot, ct = _staged_bucketed_tables(spark, sf_dir)
    orders = read_bucketed(spark, ot)
    cust = read_bucketed(spark, ct)
    j = orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 6)
        .cast("double")
        .alias("total_price"),
    )


ORACLE["bucketed_customer_orders"] = """
SELECT c_mktsegment, count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 6) AS DOUBLE)
         AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_event_cube(spark, sf_dir):
    """Full CUBE over (event_type, day): every grouping-set combination
    in ONE pass (Expand + partial agg), subtotal rows labelled '(all)'
    so no real value is ambiguous with a rollup marker."""
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        "value",
    )
    return (
        ev.cube("event_type", "day")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 6)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("(all)")).alias("event_type"),
            F.coalesce("day", F.lit("(all)")).alias("day"),
            "n",
            "total_value",
        )
    )


ORACLE["event_cube"] = """
WITH e AS (
  SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, value
  FROM events
)
SELECT coalesce(event_type, '(all)') AS event_type,
       coalesce(day, '(all)') AS day,
       count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE) AS total_value
FROM e GROUP BY CUBE(event_type, day)
"""


def q_session_stats(spark, sf_dir):
    """Per-session rows via Spark's native session_window grouping
    (dynamic-gap windows; end = last event + gap, strict overlap)."""
    return relational.session_stats(_events(spark, sf_dir), gap_minutes=30)


ORACLE["session_stats"] = """
WITH s AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), g AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM s
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
       count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE) AS total_value
FROM g GROUP BY user_id, sid
"""


def q_co_engagement(spark, sf_dir):
    """Distinct-user co-engagement counts for every event-type pair."""
    return funnel.co_engagement(_events(spark, sf_dir))


ORACLE["co_engagement"] = """
WITH ui AS (SELECT DISTINCT user_id AS u, event_type AS i FROM events)
SELECT a.i AS item_a, b.i AS item_b, count(*) AS users
FROM ui a JOIN ui b ON a.u = b.u AND a.i < b.i
GROUP BY 1, 2
"""


def q_brand_nation_revenue(spark, sf_dir):
    """Supply-side star join (TPC-H Q9 flavor): discounted revenue per
    (supplier nation, part brand) — exercises the part and supplier
    dimension tables."""
    return relational.brand_nation_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


ORACLE["brand_nation_revenue"] = """
SELECT n_name, p_brand,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                      * (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))), 6)
            AS DOUBLE) AS revenue
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY n_name, p_brand
"""


def q_late_orders_by_priority(spark, sf_dir):
    """TPC-H Q4-shaped EXISTS semi-join: orders with at least one
    lineitem shipped > 60 days after the order date, counted by
    priority. LEFT SEMI keeps each order once regardless of how many
    lineitems qualify — no fact-side duplication ever materializes."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (orders["o_orderkey"] == li["l_orderkey"]) & (
        F.to_date(li["l_shipdate"]) > F.date_add(F.to_date(orders["o_orderdate"]), 60)
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


ORACLE["late_orders_by_priority"] = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND CAST(l.l_shipdate AS DATE)
                    > CAST(o.o_orderdate AS DATE) + 60)
GROUP BY 1
"""


def q_forecast_revenue(spark, sf_dir):
    return relational.forecast_revenue(load_table(spark, sf_dir, "lineitem"))


ORACLE["forecast_revenue"] = """
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                      * CAST(l_discount AS DECIMAL(8,6))), 6) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


def q_top_return_customers(spark, sf_dir):
    return relational.top_return_customers(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        k=20,
    )


ORACLE["top_return_customers"] = """
SELECT c.c_custkey, c.c_name, c.c_acctbal,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                      * (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))), 6)
            AS DOUBLE) AS lost_revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE l.l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY lost_revenue DESC, c.c_custkey ASC
LIMIT 20
"""


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: top-10 in-flight BUILDING-segment orders by
    accrued revenue at the 1998-07-01 cutoff."""
    return relational.shipping_priority(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


ORACLE["shipping_priority"] = """
SELECT l.l_orderkey, o.o_orderdate,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                      * (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))), 6)
            AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-07-01'
  AND l.l_shipdate > TIMESTAMP '1998-07-01'
GROUP BY 1, 2
ORDER BY revenue DESC, l.l_orderkey ASC
LIMIT 10
"""


def q_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: PROMO-part revenue share for ship-month
    1998-03 — conditional aggregation over one broadcast join."""
    return relational.promo_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


ORACLE["promo_revenue"] = """
SELECT
  CAST(round(sum(CASE WHEN p.p_type LIKE 'PROMO%'
                      THEN CAST(l_extendedprice AS DECIMAL(18,6))
                           * (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))
                      ELSE CAST(0 AS DECIMAL(18,6)) END), 6) AS DOUBLE) AS promo_revenue,
  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                 * (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))), 6)
       AS DOUBLE) AS total_revenue,
  round(100.0
        * CAST(sum(CASE WHEN p.p_type LIKE 'PROMO%'
                        THEN CAST(l_extendedprice AS DECIMAL(18,6))
                             * (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))
                        ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
        / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                   * (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))) AS DOUBLE),
        6) AS promo_pct
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1998-03-01'
  AND l.l_shipdate < TIMESTAMP '1998-04-01'
"""


def q_large_volume_orders(spark, sf_dir):
    """TPC-H Q18 shape: aggregate-then-join — orders whose total
    quantity tops 250, with their customers."""
    return relational.large_volume_orders(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


ORACLE["large_volume_orders"] = """
WITH q AS (
  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,6))) AS q
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS DECIMAL(18,6))) > CAST(250.0 AS DECIMAL(18,6))
)
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       CAST(round(q.q, 6) AS DOUBLE) AS total_qty
FROM q
JOIN orders o ON q.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
LIMIT 20
"""


def q_part_bracket_revenue(spark, sf_dir):
    """TPC-H Q19 shape: one-pass disjunction of three
    (brand, size, quantity) brackets over the broadcast part join."""
    return relational.part_bracket_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


ORACLE["part_bracket_revenue"] = """
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                      * (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))), 6)
            AS DOUBLE) AS revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
"""


def q_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: bidirectional revenue flow between two nations
    per ship year."""
    return relational.volume_shipping(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


ORACLE["volume_shipping"] = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                      * (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))), 6)
            AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
"""


def q_market_share(spark, sf_dir):
    """TPC-H Q8 shape: NATION_3's share of ASIA's ECONOMY-part market
    per order year — conditional aggregation over a 5-way star."""
    return relational.market_share(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


ORACLE["market_share"] = """
WITH base AS (
  SELECT year(o.o_orderdate) AS o_year,
         CAST(l_extendedprice AS DECIMAL(18,6))
           * (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6))) AS dp,
         (sn.n_name = 'NATION_3') AS is_target
  FROM lineitem l
  JOIN part p     ON l.l_partkey = p.p_partkey
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
  JOIN region r   ON cn.n_regionkey = r.r_regionkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
  WHERE p.p_type = 'ECONOMY'
    AND r.r_name = 'ASIA'
    AND o.o_orderdate >= TIMESTAMP '1996-01-01'
    AND o.o_orderdate <  TIMESTAMP '1998-01-01'
)
SELECT CAST(o_year AS INTEGER) AS o_year,
       round(CAST(sum(CASE WHEN is_target THEN dp
                           ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
             / CAST(sum(dp) AS DOUBLE), 6) AS mkt_share,
       CAST(round(sum(dp), 6) AS DOUBLE) AS total_revenue
FROM base
GROUP BY o_year
"""


def q_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: distribution of customers by qualifying order
    count (two-level aggregation over a left outer join)."""
    return relational.customer_distribution(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
    )


ORACLE["customer_distribution"] = """
WITH per_cust AS (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM per_cust GROUP BY c_count
"""


def q_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: the max-revenue supplier(s) of 1996Q1, ties
    kept — aggregate, single-row max broadcast back, dimension join."""
    return relational.top_supplier(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
    )


ORACLE["top_supplier"] = """
WITH rev AS (
  SELECT l_suppkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,6))
             * (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))) AS rev_dec
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name,
       CAST(round(r.rev_dec, 6) AS DOUBLE) AS total_revenue
FROM rev r
JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.rev_dec = (SELECT max(rev_dec) FROM rev)
"""


def q_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: decorrelated avg-quantity subquery — yearly
    revenue in Brand#23 lineitems below 20% of their part's average
    quantity."""
    return relational.small_quantity_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


ORACLE["small_quantity_revenue"] = """
WITH li AS (
  SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_brand = 'Brand#23'
), caps AS (
  SELECT l_partkey,
         round(CAST(0.2 AS DOUBLE) * CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
               / count(*), 6) AS qty_cap
  FROM li GROUP BY l_partkey
)
SELECT round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0, 6)
       AS avg_yearly
FROM li l
JOIN caps c ON l.l_partkey = c.l_partkey
WHERE l.l_quantity < c.qty_cap
"""


def q_session_paths(spark, sf_dir):
    """Top-20 session entry paths (first 3 event types per 30-minute
    session) — the how-do-sessions-start report."""
    return funnel.session_paths(_events(spark, sf_dir))


ORACLE["session_paths"] = """
WITH s AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), g AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM s
), r AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, sid
                               ORDER BY ts, event_id) AS rn
  FROM g
), paths AS (
  SELECT user_id, sid, string_agg(event_type, '>' ORDER BY rn) AS path
  FROM r WHERE rn <= 3 GROUP BY 1, 2
)
SELECT path, count(*) AS n_sessions
FROM paths GROUP BY 1
ORDER BY n_sessions DESC, path ASC
LIMIT 20
"""


def q_user_purge_report(spark, sf_dir):
    """GDPR-style deletion dry run over every 5th user: one
    conditional-aggregation pass accounts for what a purge would
    remove — (n_purge_users, n_events_removed, n_events_kept). When
    the purge predicate is row-computable this single pass IS the
    scale shape (an external deletion list would take the
    customers_without_orders anti-join instead)."""
    flag = F.col("user_id") % 5 == 0
    return _events(spark, sf_dir).agg(
        F.count_distinct(F.when(flag, F.col("user_id"))).alias("n_purge_users"),
        F.sum(flag.cast("int")).cast("long").alias("n_events_removed"),
        F.sum((~flag).cast("int")).cast("long").alias("n_events_kept"),
    )


ORACLE["user_purge_report"] = """
SELECT CAST(count(DISTINCT CASE WHEN user_id % 5 = 0 THEN user_id END) AS BIGINT)
         AS n_purge_users,
       CAST(sum(CASE WHEN user_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_events_removed,
       CAST(sum(CASE WHEN user_id % 5 = 0 THEN 0 ELSE 1 END) AS BIGINT)
         AS n_events_kept
FROM events
"""

_DP_SQL = (
    "CAST(l_extendedprice AS DECIMAL(18,6)) "
    "* (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))"
)


def q_nation_trade_balance(spark, sf_dir):
    """Exports vs imports per nation: two nation-sized star rollups,
    full-outer combined at dimension scale."""
    return relational.nation_trade_balance(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


ORACLE["nation_trade_balance"] = f"""
WITH exp AS (
  SELECT n.n_name, sum({_DP_SQL}) AS e
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n   ON s.s_nationkey = n.n_nationkey
  GROUP BY 1
), imp AS (
  SELECT n.n_name, sum({_DP_SQL}) AS i
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n   ON c.c_nationkey = n.n_nationkey
  GROUP BY 1
)
SELECT COALESCE(exp.n_name, imp.n_name) AS n_name,
       CAST(round(COALESCE(e, CAST(0 AS DECIMAL(18,6))), 6) AS DOUBLE) AS exports,
       CAST(round(COALESCE(i, CAST(0 AS DECIMAL(18,6))), 6) AS DOUBLE) AS imports,
       CAST(round(COALESCE(e, CAST(0 AS DECIMAL(18,6)))
                  - COALESCE(i, CAST(0 AS DECIMAL(18,6))), 6) AS DOUBLE) AS balance
FROM exp FULL OUTER JOIN imp ON exp.n_name = imp.n_name
"""


def q_discount_effectiveness(spark, sf_dir):
    """Volume response per discount level — grid-cardinality
    conditional aggregation."""
    return relational.discount_effectiveness(load_table(spark, sf_dir, "lineitem"))


ORACLE["discount_effectiveness"] = f"""
SELECT round(l_discount, 2) AS discount,
       count(*) AS n_items,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
         AS avg_qty,
       CAST(round(sum({_DP_SQL}), 6) AS DOUBLE) AS revenue
FROM lineitem
GROUP BY 1
"""


def q_basket_lift(spark, sf_dir):
    """Session-basket association lift between event-type pairs —
    co-occurrence vs independence over 30-minute session baskets."""
    return funnel.basket_lift(_events(spark, sf_dir))


ORACLE["basket_lift"] = """
WITH s AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), g AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM s
), b AS (
  SELECT DISTINCT user_id, sid, event_type FROM g
), tot AS (
  SELECT count(*) AS n_sessions
  FROM (SELECT DISTINCT user_id, sid FROM b)
), marg AS (
  SELECT event_type AS t, count(*) AS n_t FROM b GROUP BY 1
), pairs AS (
  SELECT a.event_type AS type_a, c.event_type AS type_b, count(*) AS n_both
  FROM b a JOIN b c
    ON a.user_id = c.user_id AND a.sid = c.sid
   AND a.event_type < c.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, n_both,
       round(CAST(n_both AS DOUBLE) * tot.n_sessions
             / (ma.n_t * mb.n_t), 6) AS lift
FROM pairs
JOIN marg ma ON ma.t = type_a
JOIN marg mb ON mb.t = type_b
CROSS JOIN tot
"""


def q_rfm_segments(spark, sf_dir):
    """Exact tercile RFM segmentation rollup over orders — the
    classic marketing segmentation without a global sort."""
    return relational.rfm_segments(load_table(spark, sf_dir, "orders"))


ORACLE["rfm_segments"] = """
WITH pc AS (
  SELECT o_custkey,
         date_diff('day', max(o_orderdate), TIMESTAMP '2001-12-31')
           AS recency_days,
         count(*) AS frequency,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 6) AS DOUBLE)
           AS monetary
  FROM orders GROUP BY 1
), b AS (
  SELECT quantile_cont(recency_days, [1.0/3, 2.0/3]) AS rb,
         quantile_cont(frequency,    [1.0/3, 2.0/3]) AS fb,
         quantile_cont(monetary,     [1.0/3, 2.0/3]) AS mb
  FROM pc
)
SELECT CAST(len(list_filter(b.rb, s -> pc.recency_days > s)) + 1 AS INTEGER)
         AS r_bucket,
       CAST(len(list_filter(b.fb, s -> pc.frequency > s)) + 1 AS INTEGER)
         AS f_bucket,
       CAST(len(list_filter(b.mb, s -> pc.monetary > s)) + 1 AS INTEGER)
         AS m_bucket,
       count(*) AS n_customers
FROM pc CROSS JOIN b
GROUP BY 1, 2, 3
"""


def q_transition_latency(spark, sf_dir):
    """Dwell-time stats per event-type transition — the latency
    companion to the Markov transition matrix."""
    return funnel.transition_latency(_events(spark, sf_dir))


ORACLE["transition_latency"] = """
WITH s AS (
  SELECT user_id, event_type,
         lag(event_type) OVER w AS prev_type,
         (epoch_us(ts) - epoch_us(lag(ts) OVER w))
           / CAST(1000000 AS DOUBLE) AS delta_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT prev_type AS from_type, event_type AS to_type, count(*) AS n,
       round(quantile_cont(delta_s, 0.5), 6) AS median_seconds,
       round(avg(delta_s), 6) AS avg_seconds
FROM s WHERE prev_type IS NOT NULL
GROUP BY 1, 2
"""


def q_linear_attribution(spark, sf_dir):
    """Equal-credit multi-touch attribution of purchases across
    click/view touches — trailing running counts, no touch join."""
    return funnel.linear_attribution(_events(spark, sf_dir))


ORACLE["linear_attribution"] = """
WITH c AS (
  SELECT event_type,
         COALESCE(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    OVER wp, 0) AS ck,
         COALESCE(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    OVER wp, 0) AS cv
  FROM events
  WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), conv AS (SELECT ck, cv FROM c WHERE event_type = 'purchase'),
credits AS (
  SELECT 'click' AS touch_type,
         CASE WHEN ck + cv > 0 THEN CAST(ck AS DOUBLE) / (ck + cv)
              ELSE CAST(0 AS DOUBLE) END AS credit
  FROM conv
  UNION ALL
  SELECT 'view',
         CASE WHEN ck + cv > 0 THEN CAST(cv AS DOUBLE) / (ck + cv)
              ELSE CAST(0 AS DOUBLE) END
  FROM conv
  UNION ALL
  SELECT '(none)',
         CASE WHEN ck + cv = 0 THEN CAST(1 AS DOUBLE)
              ELSE CAST(0 AS DOUBLE) END
  FROM conv
)
SELECT touch_type, round(sum(credit), 6) AS total_credit,
       CAST(sum(CASE WHEN credit > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_conversions
FROM credits GROUP BY 1
HAVING round(sum(credit), 6) > 0
"""


def q_rolling_weekly_revenue(spark, sf_dir):
    """Daily revenue with a true 7-calendar-day RANGE window over the
    day-cardinality rollup."""
    return relational.rolling_weekly_revenue(load_table(spark, sf_dir, "orders"))


ORACLE["rolling_weekly_revenue"] = """
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS d,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 6) AS DOUBLE)
           AS day_revenue
  FROM orders GROUP BY 1
), keyed AS (
  SELECT d, day_revenue,
         date_diff('day', TIMESTAMP '1970-01-01', d) AS day_no
  FROM daily
)
SELECT strftime(d, '%Y-%m-%d') AS order_day, day_revenue,
       round(sum(day_revenue) OVER (ORDER BY day_no
                                    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW),
             6) AS week_revenue
FROM keyed
"""


def q_yoy_growth(spark, sf_dir):
    """Year-over-year monthly revenue growth via the shifted-month
    self-join (missing months yield NULL, as they must)."""
    return relational.yoy_growth(load_table(spark, sf_dir, "orders"))


ORACLE["yoy_growth"] = """
WITH monthly AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
         date_trunc('month', o_orderdate) AS m0,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 6) AS DOUBLE)
           AS revenue
  FROM orders GROUP BY 1, 2
), prev AS (
  SELECT strftime(m0 + INTERVAL 12 MONTH, '%Y-%m') AS month,
         revenue AS prev_year_revenue
  FROM monthly
)
SELECT m.month, m.revenue, p.prev_year_revenue,
       CASE WHEN p.prev_year_revenue > 0
            THEN round((m.revenue - p.prev_year_revenue)
                       / p.prev_year_revenue * 100, 6) END AS yoy_pct
FROM monthly m LEFT OUTER JOIN prev p ON m.month = p.month
"""


def q_lines_per_order_histogram(spark, sf_dir):
    """Join fan-out profile: how many orders have exactly k lineitems
    — (n_lines, n_orders). The distribution every orders ⋈ lineitem
    cost model starts from."""
    per_order = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n_lines"))
    )
    return per_order.groupBy("n_lines").agg(F.count("*").alias("n_orders"))


ORACLE["lines_per_order_histogram"] = """
WITH po AS (
  SELECT l_orderkey, count(*) AS n_lines FROM lineitem GROUP BY 1
)
SELECT n_lines, count(*) AS n_orders FROM po GROUP BY 1
"""


def q_interarrival_rates(spark, sf_dir):
    """Per-event-type inter-arrival statistics within each user's
    stream of THAT type: n_gaps, mean gap seconds, and the
    exponential-MLE rate per hour (λ = 1/mean) — the load-model
    parameters capacity planning reads off."""
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gaps = (
        _events(spark, sf_dir)
        .select("user_id", "event_type", "ts", "event_id")
        .withColumn("gap_s", (us - F.lag(us).over(w)) / 1_000_000.0)
        .where(F.col("gap_s").isNotNull())
    )
    return gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.round(F.avg("gap_s"), 6).alias("mean_gap_s"),
        F.round(F.lit(3600.0) / F.avg("gap_s"), 6).alias("rate_per_hour"),
    )


ORACLE["interarrival_rates"] = """
WITH g AS (
  SELECT event_type,
         (epoch_us(ts) - epoch_us(lag(ts) OVER w))
           / CAST(1000000 AS DOUBLE) AS gap_s
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
)
SELECT event_type, count(*) AS n_gaps,
       round(avg(gap_s), 6) AS mean_gap_s,
       round(CAST(3600 AS DOUBLE) / avg(gap_s), 6) AS rate_per_hour
FROM g WHERE gap_s IS NOT NULL
GROUP BY 1
"""


def q_customer_growth_topk(spark, sf_dir):
    """Top-15 customers by 1997-over-1996 spend growth (both years
    required): two year-filtered rollups inner-joined at customer
    cardinality, TakeOrdered top-k; ties break on custkey."""
    o = load_table(spark, sf_dir, "orders")

    def year_spend(y, alias):
        return (
            o.where(F.year("o_orderdate") == y)
            .groupBy("o_custkey")
            .agg(
                F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 6)
                .cast("double")
                .alias(alias)
            )
        )

    a = year_spend(1996, "spend_1996")
    b = year_spend(1997, "spend_1997")
    return (
        a.join(b, "o_custkey")
        .where(F.col("spend_1996") > 0)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "spend_1996",
            "spend_1997",
            F.round(
                (F.col("spend_1997") - F.col("spend_1996"))
                / F.col("spend_1996")
                * 100,
                6,
            ).alias("growth_pct"),
        )
        .orderBy(F.desc("growth_pct"), F.asc("c_custkey"))
        .limit(15)
    )


ORACLE["customer_growth_topk"] = """
WITH a AS (
  SELECT o_custkey,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 6) AS DOUBLE)
           AS spend_1996
  FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1
), b AS (
  SELECT o_custkey,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 6) AS DOUBLE)
           AS spend_1997
  FROM orders WHERE year(o_orderdate) = 1997 GROUP BY 1
)
SELECT a.o_custkey AS c_custkey, a.spend_1996, b.spend_1997,
       round((b.spend_1997 - a.spend_1996) / a.spend_1996 * 100, 6)
         AS growth_pct
FROM a JOIN b USING (o_custkey)
WHERE a.spend_1996 > 0
ORDER BY growth_pct DESC, c_custkey ASC
LIMIT 15
"""


def q_order_size_correlation(spark, sf_dir):
    """Does basket size predict order value? Pearson correlation of
    lineitem count vs o_totalprice across orders — one
    sufficient-statistics aggregate, no per-pair work."""
    per_order = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n_lines"))
    )
    j = per_order.join(
        load_table(spark, sf_dir, "orders"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return j.agg(
        F.count("*").alias("n_orders"),
        F.round(F.corr(F.col("n_lines").cast("double"), "o_totalprice"), 6).alias(
            "pearson_r"
        ),
    )


ORACLE["order_size_correlation"] = """
WITH po AS (
  SELECT l_orderkey, count(*) AS n_lines FROM lineitem GROUP BY 1
)
SELECT count(*) AS n_orders,
       round(corr(CAST(po.n_lines AS DOUBLE), o.o_totalprice), 6) AS pearson_r
FROM po JOIN orders o ON po.l_orderkey = o.o_orderkey
"""


def q_region_nation_share(spark, sf_dir):
    """Hierarchical percent-of-parent report: nation revenue, its
    share within the region, and the region's share of the world —
    two window-over-aggregate levels on a dimension-sized frame."""
    rev = relational.revenue_by_nation(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )
    wr = Window.partitionBy("r_name")
    # bounded-input: one row per nation
    wg = Window.partitionBy()
    return rev.select(
        "r_name",
        "n_name",
        "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(wr), 6).alias(
            "share_of_region"
        ),
        F.round(
            F.sum("revenue").over(wr) / F.sum("revenue").over(wg), 6
        ).alias("region_share_of_world"),
    )


ORACLE["region_nation_share"] = """
WITH rev AS (
  SELECT n.n_name, r.r_name,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                        * (CAST(1 AS DECIMAL(8,6))
                           - CAST(l_discount AS DECIMAL(8,6)))), 6)
              AS DOUBLE) AS revenue
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n   ON c.c_nationkey = n.n_nationkey
  JOIN region r   ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2
)
SELECT r_name, n_name, revenue,
       round(revenue / sum(revenue) OVER (PARTITION BY r_name), 6)
         AS share_of_region,
       round(sum(revenue) OVER (PARTITION BY r_name)
             / sum(revenue) OVER (), 6) AS region_share_of_world
FROM rev
"""


def q_prospective_customers(spark, sf_dir):
    """TPC-H Q22 shape: per nation, customers with ABOVE-AVERAGE
    positive account balance and NO ORDER SINCE 2000 (lapsed
    prospects) — the global-average scalar subquery (one-row
    broadcast) feeding an anti-join against the date-pruned orders
    side, grouped at nation cardinality."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    avg_bal = cust.where(F.col("c_acctbal") > 0).agg(
        F.round(
            F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("ab")
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).where(
        F.col("c_acctbal") > F.col("ab")
    )
    no_orders = rich.join(
        orders.select(F.col("o_custkey").alias("c_custkey")),
        "c_custkey",
        "left_anti",
    )
    return no_orders.groupBy("c_nationkey").agg(
        F.count("*").alias("n_cust"),
        F.round(F.sum(F.col("c_acctbal").cast("decimal(18,6)")), 6)
        .cast("double")
        .alias("total_acctbal"),
    )


ORACLE["prospective_customers"] = """
WITH ab AS (
  SELECT round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
               / count(*), 6) AS ab
  FROM customer WHERE c_acctbal > 0
)
SELECT c.c_nationkey, count(*) AS n_cust,
       CAST(round(sum(CAST(c.c_acctbal AS DECIMAL(18,6))), 6) AS DOUBLE)
         AS total_acctbal
FROM customer c CROSS JOIN ab
WHERE c.c_acctbal > ab.ab
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY 1
"""


def q_conversion_by_activity(spark, sf_dir):
    """Does activity predict conversion? Users bucketed into exact
    activity terciles (one percentile broadcast — the quantile_buckets
    convention), conversion rate per bucket: (bucket, n_users,
    n_converted, conv_rate)."""
    per_user = (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.max((F.col("event_type") == "purchase").cast("int")).alias("conv"),
        )
    )
    bounds = per_user.agg(
        F.expr("percentile(n_events, array(0.3333333333333333, 0.6666666666666666))").alias("_b")
    )
    return (
        per_user.crossJoin(F.broadcast(bounds))
        .select(
            (
                F.size(F.filter(F.col("_b"), lambda s: F.col("n_events") > s)) + 1
            ).alias("bucket"),
            "conv",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("conv").cast("long").alias("n_converted"),
            F.round(F.sum("conv") / F.count("*"), 6).alias("conv_rate"),
        )
    )


ORACLE["conversion_by_activity"] = """
WITH pu AS (
  SELECT user_id, count(*) AS n_events,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1
), b AS (
  SELECT quantile_cont(n_events, [1.0/3, 2.0/3]) AS bs FROM pu
)
SELECT CAST(len(list_filter(b.bs, s -> pu.n_events > s)) + 1 AS INTEGER)
         AS bucket,
       count(*) AS n_users,
       CAST(sum(conv) AS BIGINT) AS n_converted,
       round(CAST(sum(conv) AS DOUBLE) / count(*), 6) AS conv_rate
FROM pu CROSS JOIN b
GROUP BY 1
"""


def q_pareto_report(spark, sf_dir):
    """The 80/20 readout: what share of total revenue comes from the
    top quintile of customers by spend — (n_customers,
    top_quintile_share). One exact p80 broadcast splits the
    per-customer rollup; both sums come from one conditional pass."""
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 6)
            .cast("double")
            .alias("spend")
        )
    )
    p80 = per_cust.agg(
        F.round(F.expr("percentile(spend, 0.8)"), 6).alias("p80")
    )
    j = per_cust.crossJoin(F.broadcast(p80))
    return j.agg(
        F.count("*").alias("n_customers"),
        F.round(
            F.sum(F.when(F.col("spend") > F.col("p80"), F.col("spend")).otherwise(0.0))
            / F.sum("spend"),
            6,
        ).alias("top_quintile_share"),
    )


ORACLE["pareto_report"] = """
WITH pc AS (
  SELECT o_custkey,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 6) AS DOUBLE)
           AS spend
  FROM orders GROUP BY 1
), p AS (SELECT round(quantile_cont(spend, 0.8), 6) AS p80 FROM pc)
SELECT count(*) AS n_customers,
       round(sum(CASE WHEN pc.spend > p.p80 THEN pc.spend ELSE 0.0 END)
             / sum(pc.spend), 6) AS top_quintile_share
FROM pc CROSS JOIN p
"""


def q_ab_test_zscore(spark, sf_dir):
    """Two-proportion z-test between user_id-parity A/B variants on
    purchase conversion — the experiment significance readout."""
    return funnel.ab_test_zscore(_events(spark, sf_dir))


ORACLE["ab_test_zscore"] = """
WITH pu AS (
  SELECT user_id, (user_id % 2 = 1) AS is_b,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY 1, 2
), agg AS (
  SELECT CAST(sum(CASE WHEN NOT is_b THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN NOT is_b THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
         CAST(sum(CASE WHEN is_b THEN converted ELSE 0 END) AS BIGINT) AS conv_b
  FROM pu
)
SELECT n_a, n_b, conv_a, conv_b,
       round(CAST(conv_a AS DOUBLE) / n_a, 6) AS rate_a,
       round(CAST(conv_b AS DOUBLE) / n_b, 6) AS rate_b,
       CASE WHEN (CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                 * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                 * (1.0 / n_a + 1.0 / n_b) > 0
            THEN round((CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a)
                       / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                              * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                              * (1.0 / n_a + 1.0 / n_b)), 6)
       END AS zscore
FROM agg
"""


def q_order_gap_stats(spark, sf_dir):
    """Inter-purchase day-gap distribution per market segment — the
    repeat-purchase-cadence retention metric."""
    return relational.order_gap_stats(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


ORACLE["order_gap_stats"] = """
WITH g AS (
  SELECT o_custkey,
         date_diff('day',
                   lag(o_orderdate) OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey),
                   o_orderdate) AS gap_days
  FROM orders
)
SELECT c.c_mktsegment, count(*) AS n_gaps,
       round(CAST(sum(gap_days) AS DOUBLE) / count(*), 6) AS avg_gap_days,
       round(quantile_cont(gap_days, 0.5), 6) AS median_gap_days
FROM g JOIN customer c ON g.o_custkey = c.c_custkey
WHERE gap_days IS NOT NULL
GROUP BY 1
"""


def q_revenue_rollup(spark, sf_dir):
    """ROLLUP revenue report: (nation, order-year) leaves plus nation
    subtotals and a grand total from ONE Expand-based aggregation."""
    return relational.revenue_rollup(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


ORACLE["revenue_rollup"] = """
SELECT COALESCE(n_name, '(all)') AS n_name,
       CAST(COALESCE(year(o.o_orderdate), -1) AS INTEGER) AS o_year,
       CAST(grouping(n_name, year(o.o_orderdate)) AS INTEGER) AS lvl,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                      * (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))), 6)
            AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
GROUP BY ROLLUP(n_name, year(o.o_orderdate))
"""


def q_last_touch_attribution(spark, sf_dir):
    """Last-touch attribution of purchases to the user's most recent
    preceding click/view — one streaming window pass, no range join."""
    return relational.last_touch_attribution(_events(spark, sf_dir))


ORACLE["last_touch_attribution"] = """
WITH t AS (
  SELECT event_type,
         last_value(CASE WHEN event_type IN ('click', 'view')
                         THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
  FROM events
)
SELECT COALESCE(touch, '(none)') AS touch_type,
       count(*) AS n_conversions
FROM t WHERE event_type = 'purchase'
GROUP BY 1
"""
