"""General relational queries over the TPC-H-ish testdata tables.

The reference has no general SQL surface (every query is a compiled
MR driver), but the engine is DataFrame/SQL-native, so full relational
capability comes with the substrate. These queries are the engine's
flagship demonstrations: multi-way joins with broadcast dimension
tables, decimal-exact aggregation, top-k, and window analytics.

Oracle-parity note: monetary aggregates are computed in DECIMAL so
Spark and DuckDB agree bit-for-bit regardless of summation order, then
rounded and cast to double for the result schema.

Scale design: nation/region/customer-sized dims are broadcast
(``F.broadcast``); fact-side filters sit directly on the scan so
Parquet pushdown prunes row groups; aggregations are partial+final.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.window import Window

__all__ = [
    "pricing_summary",
    "forecast_revenue",
    "top_return_customers",
    "top_revenue_orders",
    "shipping_priority",
    "promo_revenue",
    "large_volume_orders",
    "part_bracket_revenue",
    "revenue_by_nation",
    "brand_nation_revenue",
    "user_sessions",
    "session_stats",
    "top_orders_per_customer",
    "customers_without_orders",
    "volume_shipping",
    "market_share",
    "customer_distribution",
    "top_supplier",
    "small_quantity_revenue",
    "revenue_rollup",
    "last_touch_attribution",
    "order_gap_stats",
    "nation_trade_balance",
    "discount_effectiveness",
    "rfm_segments",
    "rolling_weekly_revenue",
    "yoy_growth",
]

# Measure columns are summed as decimal(18,6): Long-backed in Spark,
# and within DuckDB's range too (DuckDB errors on decimal overflow
# rather than reducing scale).
_DEC = "decimal(18,6)"


def _dec(col: str):
    return F.col(col).cast(_DEC)


def _exact_product_dec(*cols_and_factors) -> "F.Column":
    """Exact decimal(18,6) term from a product of low-decimal doubles.

    The monetary columns are 2-decimal values stored as doubles, so a
    product of up to three of them has ≤6 true decimals. Computing the
    product in DOUBLE and casting once to decimal(18,6) rounds to that
    exact 6-decimal value (input representation error ~1e-11 is far
    inside the 5e-7 half-step of the grid), and the subsequent SUM
    runs on Spark's Long-backed decimal — exact, order-independent,
    and ~2x faster than multiplying in wide decimal per row (which
    forces BigDecimal aggregation buffers). Bit-equality with the
    oracle's all-decimal pipeline was validated over all 147k order
    groups at sf0.1 (max |diff| = 0.0)."""
    prod = cols_and_factors[0]
    for c in cols_and_factors[1:]:
        prod = prod * c
    return prod.cast(_DEC)


def pricing_summary(lineitem: DataFrame, ship_before: str = "1998-09-01") -> DataFrame:
    """TPC-H Q1-style pricing summary report.

    Aggregates are computed in exact decimal, then rounded and cast to
    double — so results are bit-identical across engines regardless of
    summation order (the oracle-parity contract). Averages are exact
    decimal sums divided by counts in double, same reason.
    """
    li = lineitem.where(F.col("l_shipdate") < F.lit(ship_before).cast("timestamp"))
    disc_price = _exact_product_dec(
        F.col("l_extendedprice"), F.lit(1.0) - F.col("l_discount")
    )
    charge = _exact_product_dec(
        F.col("l_extendedprice"),
        F.lit(1.0) - F.col("l_discount"),
        F.lit(1.0) + F.col("l_tax"),
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(_dec("l_quantity")), 6).cast("double").alias("sum_qty"),
            F.round(F.sum(_dec("l_extendedprice")), 6).cast("double").alias("sum_base_price"),
            F.round(F.sum(disc_price), 6).cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge), 6).cast("double").alias("sum_charge"),
            F.round(F.sum(_dec("l_quantity")).cast("double") / F.count("*"), 6).alias("avg_qty"),
            F.round(F.sum(_dec("l_discount")).cast("double") / F.count("*"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def forecast_revenue(
    lineitem: DataFrame,
    ship_from: str = "1996-01-01",
    ship_before: str = "1997-01-01",
    disc_lo: float = 0.05,
    disc_hi: float = 0.07,
    max_qty: float = 24.0,
) -> DataFrame:
    """TPC-H Q6-style forecasting-revenue-change query: the revenue
    that would have been gained by eliminating a discount band on
    small-quantity orders in one ship year — a single filtered scalar
    aggregate, no join, no group.

    Scale: the canonical predicate-pushdown showcase. All four
    predicates are scan-level PushedFilters on the parquet source
    (range on l_shipdate, band on l_discount, bound on l_quantity),
    so row groups outside the year never decompress; the revenue term
    uses the exact-decimal product convention (:func:`pricing_summary`)
    for engine-bit-identical summation.
    """
    li = lineitem.where(
        (F.col("l_shipdate") >= F.lit(ship_from).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(ship_before).cast("timestamp"))
        & (F.col("l_discount") >= disc_lo)
        & (F.col("l_discount") <= disc_hi)
        & (F.col("l_quantity") < max_qty)
    )
    rev = F.sum(_exact_product_dec(F.col("l_extendedprice"), F.col("l_discount")))
    return li.agg(F.round(rev, 6).cast("double").alias("revenue"))


def top_revenue_orders(
    lineitem: DataFrame, orders: DataFrame, customer: DataFrame, k: int = 10
) -> DataFrame:
    """TPC-H Q3-style: top-k orders by discounted revenue with
    customer segment context. Customer is broadcast; the orders ⋈
    lineitem join shuffles on the key both sides already share."""
    revenue = F.sum(
        _exact_product_dec(F.col("l_extendedprice"), F.lit(1.0) - F.col("l_discount"))
    )
    return (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"])
        .groupBy("o_orderkey", "c_mktsegment", "o_orderdate")
        .agg(F.round(revenue, 6).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(k)
    )


def top_return_customers(
    lineitem: DataFrame, orders: DataFrame, customer: DataFrame, k: int = 20
) -> DataFrame:
    """TPC-H Q10-style returned-item report: the top-k customers by
    revenue lost to returned lineitems (``l_returnflag = 'R'``) — the
    who-is-returning-the-most dashboard.

    Scale: the returnflag filter pushes to the lineitem scan (returns
    are a small fraction of the fact table), the surviving rows join
    orders on the key both sides share, and customer broadcasts as a
    dimension. Revenue uses the exact-decimal product convention
    (:func:`pricing_summary`); ties break on ``c_custkey`` so the
    limit is deterministic across engines.
    """
    revenue = F.sum(
        _exact_product_dec(F.col("l_extendedprice"), F.lit(1.0) - F.col("l_discount"))
    )
    return (
        lineitem.where(F.col("l_returnflag") == "R")
        .join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal")
        .agg(F.round(revenue, 6).cast("double").alias("lost_revenue"))
        .orderBy(F.desc("lost_revenue"), F.asc("c_custkey"))
        .limit(k)
    )


def revenue_by_nation(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """TPC-H Q5-flavored star join: revenue per nation. All dimension
    tables broadcast; only the lineitem ⋈ orders join shuffles."""
    revenue = F.sum(
        _exact_product_dec(F.col("l_extendedprice"), F.lit(1.0) - F.col("l_discount"))
    )
    return (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("n_name", "r_name")
        .agg(F.round(revenue, 6).cast("double").alias("revenue"))
    )


def brand_nation_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """TPC-H Q9-flavored star join over the SUPPLY side of the schema:
    discounted revenue per (supplier nation, part brand). part /
    supplier / nation are all dimensions — broadcast; the fact table
    never shuffles for the joins, only for the final aggregation."""
    revenue = F.sum(
        _exact_product_dec(F.col("l_extendedprice"), F.lit(1.0) - F.col("l_discount"))
    )
    return (
        lineitem.join(F.broadcast(part), lineitem["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(supplier), lineitem["l_suppkey"] == supplier["s_suppkey"])
        .join(F.broadcast(nation), supplier["s_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name", "p_brand")
        .agg(F.round(revenue, 6).cast("double").alias("revenue"))
    )


def shipping_priority(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    segment: str = "BUILDING",
    cutoff: str = "1998-07-01",
    k: int = 10,
) -> DataFrame:
    """TPC-H Q3-style shipping-priority report: the top-k orders by
    revenue still accruing after the cutoff, for one market segment —
    orders PLACED before the cutoff whose lineitems SHIP after it
    (the "what's in flight right now" dashboard).

    Scale: both date predicates push down to their scans (each side of
    the fact join shrinks before shuffling), the segment filter prunes
    the customer dimension BEFORE it broadcasts, and the aggregation
    runs on the join key it already shuffled on. Ties break on
    ``l_orderkey`` so the limit is deterministic across engines.
    """
    revenue = F.sum(
        _exact_product_dec(F.col("l_extendedprice"), F.lit(1.0) - F.col("l_discount"))
    )
    cutoff_ts = F.lit(cutoff).cast("timestamp")
    return (
        lineitem.where(F.col("l_shipdate") > cutoff_ts)
        .join(
            orders.where(F.col("o_orderdate") < cutoff_ts),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(customer.where(F.col("c_mktsegment") == segment)),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(revenue, 6).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(k)
    )


def promo_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    month_start: str = "1998-03-01",
    month_end: str = "1998-04-01",
) -> DataFrame:
    """TPC-H Q14-style promotion report: the share of one ship-month's
    revenue that came from PROMO-type parts — one row
    ``(promo_revenue, total_revenue, promo_pct)``.

    Scale: the month predicate pushes to the lineitem scan, part
    broadcasts as a dimension, and both sums come out of ONE pass
    (conditional aggregation, no second join or self-union). Sums are
    exact decimal, so the final double division is bit-identical
    across engines.
    """
    dp = _exact_product_dec(
        F.col("l_extendedprice"), F.lit(1.0) - F.col("l_discount")
    )
    promo = F.sum(
        F.when(F.col("p_type").startswith("PROMO"), dp).otherwise(
            F.lit(0).cast(_DEC)
        )
    )
    total = F.sum(dp)
    return (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit(month_start).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(month_end).cast("timestamp"))
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(promo, 6).cast("double").alias("promo_revenue"),
            F.round(total, 6).cast("double").alias("total_revenue"),
            F.round(
                F.lit(100.0) * promo.cast("double") / total.cast("double"), 6
            ).alias("promo_pct"),
        )
    )


def large_volume_orders(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    min_qty: float = 250.0,
    k: int = 20,
) -> DataFrame:
    """TPC-H Q18-style large-volume-customer report: the top-k orders
    whose total lineitem quantity exceeds ``min_qty``, with their
    customers — ``(c_custkey, c_name, o_orderkey, o_orderdate,
    o_totalprice, total_qty)``.

    Scale: the quantity rollup is a pre-aggregation on the fact
    table's own key (map-side partial combine, no join inflation), and
    only the few surviving order keys join onward — the
    aggregate-then-join plan Q18 exists to teach. The HAVING filter is
    applied on the exact decimal sum so the survivor set is
    engine-stable; ties break on ``o_orderkey``.
    """
    qty = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("q"))
        .where(F.col("q") > F.lit(min_qty).cast(_DEC))
    )
    return (
        qty.join(orders, qty["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round(F.col("q"), 6).cast("double").alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(k)
    )


def part_bracket_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q19-style bracketed-discount report: revenue from
    lineitems matching ANY of three (brand, size-range,
    quantity-range) brackets — one row ``(revenue)``.

    Scale: the disjunction lives in ONE join's post-condition over the
    broadcast part dimension, so the fact table is scanned once; the
    quantity bounds (the only fact-side conjuncts common to a bracket)
    are evaluated row-side before the OR. Catalyst folds the whole
    predicate into the broadcast join — no union-of-three-scans
    rewrite needed.
    """
    brackets = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    revenue = F.sum(
        _exact_product_dec(F.col("l_extendedprice"), F.lit(1.0) - F.col("l_discount"))
    )
    return (
        lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .where(brackets)
        .agg(F.round(revenue, 6).cast("double").alias("revenue"))
    )


def top_orders_per_customer(orders: DataFrame, k: int = 3) -> DataFrame:
    """Window analytics: each customer's ``k`` highest-value orders,
    ``(o_custkey, o_orderkey, o_totalprice, rn)``. One shuffle on
    o_custkey; the per-partition rank is computed streaming within the
    sorted window (AQE skew-splits a celebrity customer). Ties break by
    ascending order key for cross-engine determinism."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
    )


def user_sessions(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Sessionization via window functions: a new session starts when
    the gap from a user's previous event exceeds ``gap_minutes``.
    Returns ``(user_id, n_sessions, n_events)``.

    Window is partitioned by user_id — at 100 TB this shuffles once on
    user_id with AQE skew-splitting for celebrity users.
    """
    w = Window.partitionBy("user_id").orderBy("ts")
    # microsecond-exact integers: sub-second timestamps must not be
    # truncated (cast-to-long floors to seconds and disagrees with any
    # micros-exact engine right at the gap boundary).
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_minutes * 60 * 1_000_000), 1).otherwise(0)
    return (
        events.select("user_id", "ts")
        .withColumn("new_session", is_new)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


def session_stats(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Per-session statistics via Spark's native ``session_window``
    grouping: ``(user_id, session_start, session_end, n_events,
    total_value)``, one row per session. ``session_end`` follows the
    engine convention ``last event + gap`` (the window's exclusive
    bound); two events exactly ``gap`` apart DO merge (an event
    landing right on the previous window's end extends it —
    pinned by a boundary unit test so the SQL oracle's break rule
    can never silently drift from the engine's).

    Complements :func:`user_sessions` (the lag/cumsum formulation —
    per-user totals) with the built-in dynamic-gap window, which plans
    as a single aggregation over (user, session window) — partial
    aggregation applies, no explicit lag window pass. Same one shuffle
    on user_id; the same API runs unchanged under readStream with a
    watermark.
    """
    sw = F.session_window("ts", f"{gap_minutes} minutes")
    return (
        events.groupBy(sw.alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 6)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def customers_without_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Customers that never placed an order — the relational
    set-difference, as a LEFT ANTI join.

    The anti join is the right physical primitive: one hash equi-join
    shuffle on the key with NO materialization of the orders payload
    (only the key column crosses the wire) and no distinct/aggregate
    pre-pass — Spark's anti join short-circuits on the first probe
    match. Survives 100 TB: both sides shuffle on custkey once; a
    NOT IN / except-based rewrite would add a distinct shuffle.
    """
    return customer.join(
        orders.select(F.col("o_custkey").alias("c_custkey")),
        "c_custkey",
        "left_anti",
    ).select("c_custkey", "c_name", "c_mktsegment")


def volume_shipping(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_a: str = "NATION_1",
    nation_b: str = "NATION_2",
    ship_from: str = "1996-01-01",
    ship_before: str = "1998-01-01",
) -> DataFrame:
    """TPC-H Q7-style volume-shipping report: revenue flowing between
    two nations (supplier nation → customer nation, both directions)
    per ship year — ``(supp_nation, cust_nation, l_year, revenue)``.

    Scale: the nation pair prunes BOTH dimension paths before they
    broadcast — supplier and customer each shrink to two nations'
    worth of keys, so the fact table's two hash joins probe tiny
    broadcast sides; the disjunctive pair predicate is evaluated on
    broadcast columns after the joins, never as a fact-side cross.
    The ship-year range pushes to the lineitem scan.
    """
    pair = [nation_a, nation_b]
    n1 = nation.where(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.where(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    supp = supplier.join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey")
    ).select("s_suppkey", "supp_nation")
    cust = customer.join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey")
    ).select("c_custkey", "cust_nation")
    revenue = F.sum(
        _exact_product_dec(F.col("l_extendedprice"), F.lit(1.0) - F.col("l_discount"))
    )
    return (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit(ship_from).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(ship_before).cast("timestamp"))
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .where(
            ((F.col("supp_nation") == nation_a) & (F.col("cust_nation") == nation_b))
            | ((F.col("supp_nation") == nation_b) & (F.col("cust_nation") == nation_a))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.round(revenue, 6).cast("double").alias("revenue"))
    )


def market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    part: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    target_nation: str = "NATION_3",
    region_name: str = "ASIA",
    part_type: str = "ECONOMY",
    order_from: str = "1996-01-01",
    order_before: str = "1998-01-01",
) -> DataFrame:
    """TPC-H Q8-style national market share: within one region's
    market for one part type, the fraction of revenue supplied by the
    target nation per order year — ``(o_year, mkt_share,
    total_revenue)``. Attribution is by the SUPPLIER's nation
    (``l_suppkey → s_nationkey``), the consuming market by the
    CUSTOMER's region — classic Q8 minus the absent supplycost.

    Scale: part-type and region filters prune their dimensions before
    broadcast; supplier reduces to a (suppkey, is_target) flag frame;
    only lineitem ⋈ orders shuffles; both sums come from ONE
    conditional-aggregation pass per year group, no second scan.
    """
    region_nations = (
        nation.join(
            F.broadcast(region.where(F.col("r_name") == region_name)),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("n_nationkey").alias("c_nkey"))
    )
    cust = customer.join(
        F.broadcast(region_nations), F.col("c_nationkey") == F.col("c_nkey")
    ).select("c_custkey")
    target_keys = nation.where(F.col("n_name") == target_nation).select(
        F.col("n_nationkey").alias("t_nkey")
    )
    supp_flag = supplier.join(
        F.broadcast(target_keys),
        F.col("s_nationkey") == F.col("t_nkey"),
        "left_outer",
    ).select("s_suppkey", F.col("t_nkey").isNotNull().alias("is_target"))
    dp = _exact_product_dec(
        F.col("l_extendedprice"), F.lit(1.0) - F.col("l_discount")
    )
    return (
        lineitem.join(
            F.broadcast(part.where(F.col("p_type") == part_type)),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            orders.where(
                (F.col("o_orderdate") >= F.lit(order_from).cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(order_before).cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_flag), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("is_target"), dp).otherwise(F.lit(0).cast(_DEC)))
                .cast("double")
                / F.sum(dp).cast("double"),
                6,
            ).alias("mkt_share"),
            F.round(F.sum(dp), 6).cast("double").alias("total_revenue"),
        )
    )


def customer_distribution(
    customer: DataFrame,
    orders: DataFrame,
    exclude_priority: str = "1-URGENT",
) -> DataFrame:
    """TPC-H Q13-style customer order-count distribution: how many
    customers placed exactly N qualifying orders (orders with the
    excluded priority do not count; customers with none appear in the
    N=0 bucket) — ``(c_count, custdist)``.

    Scale: the classic two-level aggregation over a LEFT OUTER join.
    The filter sits on the orders side BEFORE the join (so excluded
    orders never cross the wire), the first groupBy shuffles on
    custkey (same key as the join — one exchange), and the second
    groupBy reduces to at most max-orders-per-customer rows.
    """
    per_cust = (
        customer.select("c_custkey")
        .join(
            orders.where(F.col("o_orderpriority") != exclude_priority).select(
                F.col("o_custkey").alias("c_custkey"), "o_orderkey"
            ),
            "c_custkey",
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


def top_supplier(
    lineitem: DataFrame,
    supplier: DataFrame,
    ship_from: str = "1996-01-01",
    ship_before: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q15-style top supplier: the supplier(s) with maximum
    revenue over one ship quarter — ``(s_suppkey, s_name,
    total_revenue)``, ties all returned (the view-vs-max shape).

    Scale: revenue per supplier is a partial+final hash aggregate on
    the pruned quarter; the max is a single-row broadcast joined back
    against the aggregate (no window over the full supplier set, no
    second scan of the fact table).
    """
    dp = _exact_product_dec(
        F.col("l_extendedprice"), F.lit(1.0) - F.col("l_discount")
    )
    rev = (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit(ship_from).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(ship_before).cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(dp).alias("rev_dec"))
    )
    best = rev.agg(F.max("rev_dec").alias("best"))
    return (
        rev.join(F.broadcast(best), F.col("rev_dec") == F.col("best"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("rev_dec"), 6).cast("double").alias("total_revenue"),
        )
    )


def small_quantity_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    brand: str = "Brand#23",
    frac: float = 0.2,
    years: float = 7.0,
) -> DataFrame:
    """TPC-H Q17-style small-quantity-order revenue: average yearly
    revenue lost if orders below ``frac`` of a part's average quantity
    were not filled, for one brand — one row ``(avg_yearly)``.

    The correlated ``avg(l_quantity)`` subquery becomes a per-part
    aggregate joined back to the fact rows — the decorrelation every
    modern optimizer performs, written explicitly.

    Scale: the per-part average aggregates ONLY the brand's lineitems
    (the brand filter is applied via the broadcast part dimension
    before both passes), so the heavy fact table is scanned once per
    pass over a pruned key set; the final filter-and-sum is a
    broadcast join of per-part thresholds (bounded by part count, and
    collapsible to a shuffle join at 100 TB without plan changes).
    """
    brand_keys = part.where(F.col("p_brand") == brand).select("p_partkey")
    li = lineitem.join(
        F.broadcast(brand_keys), F.col("l_partkey") == F.col("p_partkey")
    )
    # threshold in exact decimal: frac * avg = frac * sum/cnt, rounded
    # to a fixed grid so Spark and DuckDB agree on boundary rows
    thresholds = li.groupBy("p_partkey").agg(
        F.round(
            F.lit(frac)
            * F.sum(_dec("l_quantity")).cast("double")
            / F.count("*"),
            6,
        ).alias("qty_cap")
    )
    return (
        li.join(
            F.broadcast(thresholds.withColumnRenamed("p_partkey", "t_partkey")),
            F.col("l_partkey") == F.col("t_partkey"),
        )
        .where(F.col("l_quantity") < F.col("qty_cap"))
        .agg(
            F.round(
                F.sum(_dec("l_extendedprice")).cast("double") / F.lit(years), 6
            ).alias("avg_yearly")
        )
    )


def revenue_rollup(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """ROLLUP report: discounted revenue by (customer nation, order
    year) with nation subtotals and a grand total in the same result —
    ``(n_name, o_year, lvl, revenue)`` where ``lvl`` is the
    ``grouping_id`` bit mask (0 = leaf, 1 = nation subtotal,
    3 = grand total). NULL grouping slots are coalesced to sentinels
    (``'(all)'`` / ``-1``) so the result is canonicalizer-safe.

    Scale: Spark plans rollup as ONE Expand (3 grouping sets) feeding
    a single partial-aggregated exchange — subtotals cost one extra
    pass over the aggregate rows, never a second scan or a
    union-of-three-queries rewrite. Dimensions broadcast as usual.
    """
    revenue = F.sum(
        _exact_product_dec(F.col("l_extendedprice"), F.lit(1.0) - F.col("l_discount"))
    )
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", F.year("o_orderdate").alias("o_year"),
                "l_extendedprice", "l_discount")
        .rollup("n_name", "o_year")
        .agg(
            F.grouping_id().cast("int").alias("lvl"),
            F.round(revenue, 6).cast("double").alias("revenue"),
        )
        .select(
            F.coalesce("n_name", F.lit("(all)")).alias("n_name"),
            F.coalesce("o_year", F.lit(-1)).alias("o_year"),
            "lvl",
            "revenue",
        )
    )


def last_touch_attribution(
    events: DataFrame,
    touch_types: tuple = ("click", "view"),
    convert_type: str = "purchase",
) -> DataFrame:
    """Last-touch conversion attribution: each conversion event is
    credited to the SAME user's most recent preceding touch event
    (``touch_types``), or ``'(none)'`` if the user never touched
    before converting — ``(touch_type, n_conversions)``.

    Scale: one window pass per user (shuffle on user_id, AQE
    skew-splits celebrities) using ``last(..., ignorenulls=True)``
    over a trailing unbounded frame — Spark evaluates it streaming in
    one sort, no self-join of conversions against touches (the naive
    formulation is a range join that explodes on active users).
    Ordering ties break on event_id for cross-engine determinism.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type").isin(*touch_types), F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("__touch", touch)
        .where(F.col("event_type") == convert_type)
        .groupBy(F.coalesce("__touch", F.lit("(none)")).alias("touch_type"))
        .agg(F.count("*").alias("n_conversions"))
    )


def order_gap_stats(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Inter-purchase interval report: per market segment, the
    distribution of day gaps between a customer's consecutive orders —
    ``(c_mktsegment, n_gaps, avg_gap_days, median_gap_days)``. The
    repeat-purchase-cadence metric retention teams watch.

    Scale: one window pass per customer (lag over the order date —
    shuffle on custkey, AQE splits heavy customers), then a
    partial-aggregated rollup per segment with an exact median over
    the segment's gap list (segments are few; the percentile state is
    the gap multiset, bounded by orders — computed per segment, never
    globally sorted). Gaps are integer day diffs, so engine parity is
    exact; ties in order dates yield 0-day gaps, deterministically
    ordered by o_orderkey.
    """
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.select("o_custkey", "o_orderdate", "o_orderkey")
        .withColumn(
            "gap_days",
            F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)),
        )
        .where(F.col("gap_days").isNotNull())
    )
    return (
        gaps.join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_gaps"),
            F.round(F.sum("gap_days") / F.count("*"), 6).alias("avg_gap_days"),
            F.round(F.expr("percentile(gap_days, 0.5)"), 6).alias("median_gap_days"),
        )
    )


def nation_trade_balance(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """Per-nation trade balance: revenue SUPPLIED by the nation's
    suppliers (exports) vs revenue CONSUMED by its customers
    (imports), and the balance — ``(n_name, exports, imports,
    balance)``.

    Scale: two independent single-exchange star aggregations over the
    same fact scan shape (supplier-side keys off l_suppkey and needs
    no orders join; customer-side routes through orders), each rolled
    up to nation-sized frames BEFORE the final full-outer combine —
    the combine joins 25-row tables, never facts. Exact-decimal sums
    throughout.
    """
    dp = _exact_product_dec(
        F.col("l_extendedprice"), F.lit(1.0) - F.col("l_discount")
    )
    n = F.broadcast(nation.select("n_nationkey", "n_name"))
    exports = (
        lineitem.join(
            F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(dp).alias("exp_dec"))
    )
    imports = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(dp).alias("imp_dec"))
    )
    zero = F.lit(0).cast(_DEC)
    return (
        exports.join(imports, "n_name", "full_outer")
        .select(
            "n_name",
            F.round(F.coalesce("exp_dec", zero), 6).cast("double").alias("exports"),
            F.round(F.coalesce("imp_dec", zero), 6).cast("double").alias("imports"),
            F.round(
                F.coalesce("exp_dec", zero) - F.coalesce("imp_dec", zero), 6
            )
            .cast("double")
            .alias("balance"),
        )
    )


def discount_effectiveness(lineitem: DataFrame) -> DataFrame:
    """Does discounting move volume? Per discount level (the data's
    own 2-decimal grid): lineitem count, average quantity, and
    discounted revenue — ``(discount, n_items, avg_qty, revenue)``.

    Scale: one partial-aggregated exchange keyed on the discount
    level (cardinality = the discount grid, ~a dozen rows); quantity
    and revenue sums are exact decimal so the averages divide
    engine-stably.
    """
    dp = _exact_product_dec(
        F.col("l_extendedprice"), F.lit(1.0) - F.col("l_discount")
    )
    return (
        lineitem.groupBy(
            F.round(F.col("l_discount"), 2).alias("discount")
        )
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum(_dec("l_quantity")).cast("double") / F.count("*"), 6)
            .alias("avg_qty"),
            F.round(F.sum(dp), 6).cast("double").alias("revenue"),
        )
    )


def rfm_segments(orders: DataFrame, n_buckets: int = 3) -> DataFrame:
    """RFM customer segmentation rollup: score every customer 1–n on
    Recency (days since last order, LOWER is better but scored on the
    raw value — bucket 1 = most recent), Frequency (order count), and
    Monetary (total spend), then count customers per (r, f, m)
    segment — ``(r_bucket, f_bucket, m_bucket, n_customers)``, at
    most n³ rows. The classic marketing segmentation, computed
    exactly.

    Scale: one per-customer rollup (exchange on custkey), a single
    3×(n−1)-value exact-percentile aggregate broadcast back (the
    :func:`features.quantile_buckets` shape — no ntile, no global
    sort, no single-partition window), and a narrow bucket projection
    into the final 3-key count. Bucket boundary convention matches
    quantile_buckets: a value equal to a split lands in the LOWER
    bucket.
    """
    per_cust = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("2001-12-31").cast("timestamp"), F.max("o_orderdate")
        ).alias("recency_days"),
        F.count("*").alias("frequency"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 6)
        .cast("double")
        .alias("monetary"),
    )
    qs = ", ".join(str(i / n_buckets) for i in range(1, n_buckets))
    bounds = per_cust.agg(
        F.expr(f"percentile(recency_days, array({qs}))").alias("_rb"),
        F.expr(f"percentile(frequency, array({qs}))").alias("_fb"),
        F.expr(f"percentile(monetary, array({qs}))").alias("_mb"),
    )

    def bucket(col, b):
        return (
            F.size(F.filter(F.col(b), lambda s: F.col(col) > s)) + 1
        ).alias(col + "_bucket")

    return (
        per_cust.crossJoin(F.broadcast(bounds))
        .select(
            bucket("recency_days", "_rb"),
            bucket("frequency", "_fb"),
            bucket("monetary", "_mb"),
        )
        .groupBy(
            F.col("recency_days_bucket").alias("r_bucket"),
            F.col("frequency_bucket").alias("f_bucket"),
            F.col("monetary_bucket").alias("m_bucket"),
        )
        .agg(F.count("*").alias("n_customers"))
    )


def rolling_weekly_revenue(orders: DataFrame) -> DataFrame:
    """Daily order revenue with a TRUE 7-calendar-day trailing window
    (RANGE frame over day numbers, not ROWS over observed days — gap
    days genuinely shrink the window, the distinction the
    hourly_anomalies docstring lesson is about) — ``(order_day,
    day_revenue, week_revenue)``.

    Scale: revenue first collapses to one row PER DAY (partial
    aggregation on the calendar key), and the RANGE window runs over
    that day-cardinality frame — thousands of rows for years of data,
    so the unpartitioned window is bounded by the calendar, not the
    corpus. Exact-decimal day sums; the week sum adds ≤ 7 rounded
    doubles in frame order, engine-deterministic.
    """
    daily = (
        orders.select(
            F.date_trunc("day", F.col("o_orderdate")).alias("d"),
            F.col("o_totalprice").cast("decimal(18,6)").alias("p"),
        )
        .groupBy("d")
        .agg(F.round(F.sum("p"), 6).cast("double").alias("day_revenue"))
        .withColumn("day_no", F.datediff(F.col("d"), F.lit("1970-01-01").cast("timestamp")))
    )
    w = Window.orderBy("day_no").rangeBetween(-6, 0)
    return daily.select(
        F.date_format("d", "yyyy-MM-dd").alias("order_day"),
        "day_revenue",
        F.round(F.sum("day_revenue").over(w), 6).alias("week_revenue"),
    )


def yoy_growth(orders: DataFrame) -> DataFrame:
    """Year-over-year monthly revenue growth: ``(month, revenue,
    prev_year_revenue, yoy_pct)`` — the month joined against itself
    twelve months back (an equi-join on the shifted month key, not a
    lag-12 window: a missing month must yield NULL, not the 12th
    PRIOR OBSERVED month).

    Scale: both sides are the same month-cardinality rollup; the
    self-join is dimension-sized. Exact-decimal sums; growth rounds
    from two rounded doubles.
    """
    monthly = (
        orders.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            F.trunc("o_orderdate", "month").alias("m0"),
            F.col("o_totalprice").cast("decimal(18,6)").alias("p"),
        )
        .groupBy("month", "m0")
        .agg(F.round(F.sum("p"), 6).cast("double").alias("revenue"))
    )
    prev = monthly.select(
        F.date_format(F.add_months(F.col("m0"), 12), "yyyy-MM").alias("month"),
        F.col("revenue").alias("prev_year_revenue"),
    )
    return (
        monthly.join(prev, "month", "left_outer")
        .select(
            "month",
            "revenue",
            "prev_year_revenue",
            F.when(
                F.col("prev_year_revenue") > 0,
                F.round(
                    (F.col("revenue") - F.col("prev_year_revenue"))
                    / F.col("prev_year_revenue")
                    * 100,
                    6,
                ),
            ).alias("yoy_pct"),
        )
    )
