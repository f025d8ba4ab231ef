from __future__ import annotations

import datetime as dt

from mapreduce_assignments_spark.operators.timeseries import (
    hourly_counts_events,
    hourly_counts_tweets,
)


def test_hourly_counts_tweets(spark):
    rows = [
        ("1", "Sun Jan 23 00:14:05 +0000 2011", "u1", "hello world"),
        ("2", "Sun Jan 23 00:59:59 +0000 2011", "u2", "Egypt news"),
        ("3", "Sun Jan 23 01:00:00 +0000 2011", "u3", "cairo calling"),
        ("4", "Mon Feb 07 01:00:00 +0000 2011", "u4", "EgYpT mixed case"),
        ("5", "Tue Mar 01 05:00:00 +0000 2011", "u5", "egypt but march"),  # filtered: month
    ]
    df = spark.createDataFrame(rows, "id string, timestamp string, user string, message string")
    allc = {(r["date"], r["hour"]): r["cnt"] for r in hourly_counts_tweets(df).collect()}
    assert allc == {("1/23", "00"): 2, ("1/23", "01"): 1, ("2/07", "01"): 1}
    eg = {
        (r["date"], r["hour"]): r["cnt"]
        for r in hourly_counts_tweets(df, message_regex="(?i)(egypt|cairo)").collect()
    }
    assert eg == {("1/23", "00"): 1, ("1/23", "01"): 1, ("2/07", "01"): 1}


def test_hourly_counts_events(spark):
    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 10), 1, "click", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 0, 50), 2, "purchase", 2.0, "{}"),
        (3, dt.datetime(2024, 1, 1, 1, 5), 1, "error", 3.0, "{}"),
        (4, dt.datetime(2024, 1, 2, 0, 5), 3, "purchase", 4.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    allc = {(r["date"], r["hour"]): r["cnt"] for r in hourly_counts_events(df).collect()}
    assert allc == {("1/1", 0): 2, ("1/1", 1): 1, ("1/2", 0): 1}
    filt = {
        (r["date"], r["hour"]): r["cnt"]
        for r in hourly_counts_events(df, type_regex="(?i)purchase").collect()
    }
    assert filt == {("1/1", 0): 1, ("1/2", 0): 1}


def test_event_props_stats(spark):
    from mapreduce_assignments_spark.operators.timeseries import event_props_stats

    rows = [
        (1, "2024-01-01 10:00:00", 1, "click", 2.5, '{"k": 10}'),
        (2, "2024-01-01 11:00:00", 1, "click", 3.5, '{"k": 20}'),
        (3, "2024-01-01 12:00:00", 2, "view", 1.0, '{"k": 5}'),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", __import__("pyspark.sql.functions", fromlist=["F"]).to_timestamp("ts"))
    got = {r["event_type"]: r for r in event_props_stats(ev).collect()}
    assert got["click"]["n"] == 2
    assert got["click"]["sum_k"] == 30
    assert got["click"]["avg_value"] == 3.0
    assert got["view"]["sum_k"] == 5


def test_hourly_counts_tweets_all_months(spark):
    from mapreduce_assignments_spark.operators.timeseries import hourly_counts_tweets

    rows = [
        ("1", "Mon Mar 07 13:01:59 +0000 2011", "u", "m"),
        ("2", "Fri Dec 30 23:59:59 +0000 2011", "u", "m"),
    ]
    tweets = spark.createDataFrame(rows, "id string, timestamp string, user string, message string")
    got = {
        (r["date"], r["hour"]): r["cnt"]
        for r in hourly_counts_tweets(tweets, months=("Mar", "Dec")).collect()
    }
    assert got == {("3/07", "13"): 1, ("12/30", "23"): 1}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        hourly_counts_tweets(tweets, months=("Foo",))


def test_fill_hourly_gaps_inserts_zero_rows(spark):
    import datetime as dt

    from mapreduce_assignments_spark.operators.timeseries import fill_hourly_gaps

    T = dt.datetime.fromisoformat
    rows = [
        (1, T("2024-01-01 10:15")),
        (2, T("2024-01-01 10:45")),
        (3, T("2024-01-01 13:05")),  # 11:00 and 12:00 are gaps
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    got = {r["hour_ts"]: r["cnt"] for r in fill_hourly_gaps(df).collect()}
    assert got == {
        "2024-01-01 10:00:00": 2,
        "2024-01-01 11:00:00": 0,
        "2024-01-01 12:00:00": 0,
        "2024-01-01 13:00:00": 1,
    }


def test_maintain_hourly_rollup_touches_only_delta_partitions(spark, tmp_path):
    """Second delta touches only day 2: day 1's partition files must
    be byte-identical afterwards (dynamic overwrite), and the merged
    rollup equals the one-shot aggregation."""
    import os
    from datetime import datetime

    from mapreduce_assignments_spark.operators.timeseries import (
        maintain_hourly_rollup,
        read_hourly_rollup,
    )

    def ev(day, hour, n):
        return [(datetime(2024, 1, day, hour, 30),)] * n

    conf_key = "spark.sql.sources.partitionOverwriteMode"
    conf_before = spark.conf.get(conf_key)
    d = str(tmp_path / "rollup")
    batch1 = spark.createDataFrame(ev(1, 3, 2) + ev(2, 5, 1), "ts timestamp")
    maintain_hourly_rollup(spark, d, batch1)

    def snapshot(day):
        p = os.path.join(d, f"d=2024-01-0{day}")
        return {
            f: os.path.getmtime(os.path.join(p, f))
            for f in os.listdir(p)
            if f.endswith(".parquet")
        }

    day1_before = snapshot(1)
    batch2 = spark.createDataFrame(ev(2, 5, 4) + ev(2, 7, 1), "ts timestamp")
    maintain_hourly_rollup(spark, d, batch2)
    assert snapshot(1) == day1_before  # untouched partition not rewritten
    assert spark.conf.get(conf_key) == conf_before  # session conf untouched
    got = {
        (r["d"], r["hour"]): r["n"] for r in read_hourly_rollup(spark, d).collect()
    }
    assert got == {
        ("2024-01-01", 3): 2,
        ("2024-01-02", 5): 5,  # merged: 1 + 4
        ("2024-01-02", 7): 1,
    }


def test_hourly_top_movers_delta_and_gap_skip(spark):
    from datetime import datetime
    from mapreduce_assignments_spark.operators.timeseries import hourly_top_movers

    ev = spark.createDataFrame(
        # type a: hours 0 (2 events), 1 (5 events) -> delta +3
        [("a", datetime(2024, 1, 1, 0, m)) for m in (1, 2)]
        + [("a", datetime(2024, 1, 1, 1, m)) for m in range(5)]
        # type b: hour 0 only -> no prev, excluded
        + [("b", datetime(2024, 1, 1, 0, 1))],
        "event_type string, ts timestamp",
    )
    rows = hourly_top_movers(ev, k=5).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["event_type"], r["cnt"], r["prev_cnt"], r["delta"]) == ("a", 5, 2, 3)
    assert r["hour_ts"] == "2024-01-01 01:00:00"


def test_activity_heatmap_cells(spark):
    from datetime import datetime
    from mapreduce_assignments_spark.operators.timeseries import activity_heatmap

    # 2024-01-07 is a Sunday -> dow 1 in Spark's convention
    ev = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 7, 9, 5)),
            (1, datetime(2024, 1, 7, 9, 55)),
            (2, datetime(2024, 1, 8, 9, 5)),  # Monday -> dow 2
        ],
        "user_id long, ts timestamp",
    )
    rows = {(r["dow"], r["hour"]): (r["n_events"], r["n_users"])
            for r in activity_heatmap(ev).collect()}
    assert rows == {(1, 9): (2, 1), (2, 9): (1, 1)}


def test_slo_burn_rate_workload_shape(spark):
    from mapreduce_assignments_spark import workloads

    rows = workloads.ALL_QUERIES["slo_burn_rate"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["err_rate_1h"] <= 1.0
        assert 0.0 <= r["err_rate_6h"] <= 1.0
        if r["burn_rate"] is not None:
            assert r["burn_rate"] >= 0.0
