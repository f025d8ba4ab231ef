"""The SQL front-end must agree with the DataFrame operators exactly,
and (for the relational set) with DuckDB over the same parquet."""

from __future__ import annotations

import duckdb
import pyspark.sql.functions as F
import pytest

from mapreduce_assignments_spark.operators import relational, text, timeseries
from mapreduce_assignments_spark.operators.index import term_frequencies
from mapreduce_assignments_spark.plans import sql_workloads
from mapreduce_assignments_spark.plans.rpn import BooleanQueryPlanner, rpn_to_sql
from mapreduce_assignments_spark.sources.tables import load_table, register_views

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module", autouse=True)
def views(spark):
    register_views(spark, SF_DIR)


@pytest.fixture(scope="module")
def tweets(spark):
    rows = [
        ("1", "Sun Jan 23 00:14:05 +0000 2011", "u1", "hello world"),
        ("2", "Sun Jan 23 00:44:05 +0000 2011", "u2", "Egypt protest"),
        ("3", "Mon Feb 07 13:01:59 +0000 2011", "u3", "news from CAIRO"),
        ("4", "Mon Mar 07 13:01:59 +0000 2011", "u4", "march tweet"),
        ("5", "Sun Jan 23 00:20:00 +0000 2011", "u5", "egypt and cairo"),
    ]
    df = spark.createDataFrame(rows, "id string, timestamp string, user string, message string")
    df.createOrReplaceTempView("tweets")
    return df


def test_sql_word_count_matches_dataframe(spark):
    docs = load_table(spark, SF_DIR, "documents")
    assert _rows(spark.sql(sql_workloads.WORD_COUNT)) == _rows(text.word_count(docs))


def test_sql_hourly_tweets_matches_dataframe_and_pig_semantics(spark, tweets):
    got_sql = _rows(spark.sql(sql_workloads.HOURLY_COUNTS_TWEETS))
    got_df = _rows(timeseries.hourly_counts_tweets(tweets))
    assert got_sql == got_df
    assert got_sql == sorted([("1/23", "00", 3), ("2/07", "13", 1)])


def test_sql_hourly_egypt_matches_dataframe(spark, tweets):
    got_sql = _rows(spark.sql(sql_workloads.HOURLY_COUNTS_EGYPT))
    got_df = _rows(
        timeseries.hourly_counts_tweets(tweets, message_regex="(?i)(egypt|cairo)")
    )
    assert got_sql == got_df
    assert got_sql == sorted([("1/23", "00", 2), ("2/07", "13", 1)])


def test_sql_hourly_events_matches_dataframe(spark):
    events = load_table(spark, SF_DIR, "events")
    assert _rows(spark.sql(sql_workloads.HOURLY_COUNTS_EVENTS)) == _rows(
        timeseries.hourly_counts_events(events)
    )


@pytest.mark.parametrize("name", ["pricing_summary", "revenue_by_nation",
                                  "top_revenue_orders", "user_sessions"])
def test_sql_relational_matches_dataframe_and_duckdb(spark, name):
    li = load_table(spark, SF_DIR, "lineitem")
    orders = load_table(spark, SF_DIR, "orders")
    cust = load_table(spark, SF_DIR, "customer")
    nation = load_table(spark, SF_DIR, "nation")
    region = load_table(spark, SF_DIR, "region")
    events = load_table(spark, SF_DIR, "events")
    df = {
        "pricing_summary": lambda: relational.pricing_summary(li),
        "revenue_by_nation": lambda: relational.revenue_by_nation(
            li, orders, cust, nation, region
        ),
        "top_revenue_orders": lambda: relational.top_revenue_orders(li, orders, cust),
        "user_sessions": lambda: relational.user_sessions(events),
    }[name]()
    sql_rows = _rows(spark.sql(sql_workloads.ALL_SQL[name]))
    assert sql_rows == _rows(df)

    # the same SQL text runs on DuckDB over the same parquet (sole
    # dialect difference: Spark's unix_micros is DuckDB's epoch_us)
    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer", "nation", "region", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    duck_sql = sql_workloads.ALL_SQL[name].replace("unix_micros(ts)", "epoch_us(ts)")
    duck = con.execute(duck_sql).fetchall()
    norm = sorted(
        tuple(int(v) if isinstance(v, int) else v for v in row) for row in duck
    )
    spark_norm = sorted(
        tuple(
            v.strftime("%Y-%m-%d %H:%M:%S") if hasattr(v, "strftime") else v
            for v in row
        )
        for row in sql_rows
    )
    duck_norm = sorted(
        tuple(
            v.strftime("%Y-%m-%d %H:%M:%S") if hasattr(v, "strftime") else v
            for v in row
        )
        for row in norm
    )
    assert spark_norm == duck_norm


def test_rpn_sql_runs_on_both_engines(spark):
    docs = load_table(spark, SF_DIR, "documents")
    tfs = term_frequencies(docs)
    planner = BooleanQueryPlanner(tfs)
    query = "hash join AND scan OR"
    df_ids = {r["docid"] for r in planner.plan(query).collect()}

    # Spark SQL path: compile once, run on spark.sql
    tfs.createOrReplaceTempView("postings")
    sql = f"SELECT docid FROM {rpn_to_sql(query)} q"
    spark_ids = {r["docid"] for r in spark.sql(sql).collect()}

    # DuckDB path: same compiled SQL text over the same logical table
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW postings AS "
        f"SELECT t AS term, doc_id AS docid FROM (SELECT doc_id, "
        f"unnest(list_filter(regexp_split_to_array(text, '\\s+'), "
        f"t -> len(t) > 0)) AS t FROM '{SF_DIR}/documents.parquet')"
    )
    duck_ids = {r[0] for r in con.execute(sql).fetchall()}

    assert df_ids == spark_ids == duck_ids
    assert len(df_ids) > 0


def test_top_orders_per_customer(spark):
    from mapreduce_assignments_spark.operators.relational import top_orders_per_customer

    orders = load_table(spark, SF_DIR, "orders")
    out = top_orders_per_customer(orders, k=2).collect()
    by_cust = {}
    for r in out:
        by_cust.setdefault(r["o_custkey"], []).append(r)
    assert all(len(v) <= 2 for v in by_cust.values())
    full = orders.select("o_custkey", "o_orderkey", "o_totalprice").collect()
    want_top = {}
    for r in full:
        want_top.setdefault(r["o_custkey"], []).append((r["o_totalprice"], -r["o_orderkey"]))
    for ck, rows in by_cust.items():
        want = sorted(want_top[ck], reverse=True)[: len(rows)]
        got = [(r["o_totalprice"], -r["o_orderkey"]) for r in sorted(rows, key=lambda r: r["rn"])]
        assert got == want


def test_load_table_memo_keyed_on_session_identity(spark):
    """The loaded-table memo is keyed on the JVM session, not on its
    Python wrapper: a second wrapper of the same session gets the same
    plan back, and another session gets an entry of its own."""
    from pyspark.sql import SparkSession

    first = load_table(spark, SF_DIR, "nation")
    twin = SparkSession(
        spark.sparkContext, spark._jsparkSession.sqlContext().sparkSession()
    )
    assert twin._jsparkSession is not spark._jsparkSession
    assert load_table(twin, SF_DIR, "nation") is first

    other = spark.newSession()
    own = load_table(other, SF_DIR, "nation")
    assert own is not first
    assert own.sparkSession._jsparkSession.sessionUUID() == (
        other._jsparkSession.sessionUUID()
    )
    assert load_table(other, SF_DIR, "nation") is own
