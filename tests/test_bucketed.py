from __future__ import annotations

import pytest

from mapreduce_assignments_spark.session import scoped_conf
from mapreduce_assignments_spark.sources.bucketed import read_bucketed, write_bucketed
from mapreduce_assignments_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def no_broadcast(spark):
    with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        yield


def test_bucketed_join_has_no_exchange(spark, no_broadcast):
    orders = load_table(spark, SF_DIR, "orders")
    lineitem = load_table(spark, SF_DIR, "lineitem")
    write_bucketed(orders, "orders_b", "o_orderkey", buckets=8)
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "lineitem_b",
        "o_orderkey",
        buckets=8,
    )
    a = read_bucketed(spark, "orders_b")
    b = read_bucketed(spark, "lineitem_b")
    joined = a.join(b, "o_orderkey")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # co-located: no shuffle at all
    # and the result is right
    assert joined.count() == lineitem.join(
        orders, lineitem["l_orderkey"] == orders["o_orderkey"]
    ).count()


def test_bucketed_aggregation_skips_shuffle(spark, no_broadcast):
    lineitem = load_table(spark, SF_DIR, "lineitem")
    write_bucketed(lineitem, "lineitem_agg_b", "l_orderkey", buckets=8)
    agg = read_bucketed(spark, "lineitem_agg_b").groupBy("l_orderkey").count()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert agg.count() == lineitem.select("l_orderkey").distinct().count()
