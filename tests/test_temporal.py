"""Unit tests for the temporal/interval operators with hand-checkable
fixtures: as-of join tie/strict semantics, range-join boundary
inclusion, rollup grain arithmetic, sliding-window frames, and the
anti join. (Driver-oracle coverage lives in workloads/; these pin
the edge cases the sf-data never exercises.)"""

from __future__ import annotations

from datetime import datetime

import pyspark.sql.functions as F
import pytest

from mapreduce_assignments_spark.operators import relational, temporal


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def trades(spark):
    rows = [
        (1, _ts("2024-01-01 10:00:00"), 100.0),
        (1, _ts("2024-01-01 10:05:00"), 101.0),
        (2, _ts("2024-01-01 09:00:00"), 50.0),  # before any quote
    ]
    return spark.createDataFrame(rows, "k int, ts timestamp, px double")


@pytest.fixture(scope="module")
def quotes(spark):
    rows = [
        (1, _ts("2024-01-01 09:59:00"), 99.5),
        (1, _ts("2024-01-01 10:00:00"), 99.9),  # exactly at trade 1's ts
        (1, _ts("2024-01-01 10:04:00"), 100.5),
        (2, _ts("2024-01-01 09:30:00"), 49.0),
    ]
    return spark.createDataFrame(rows, "k int, ts timestamp, bid double")


def test_asof_inclusive_picks_latest_at_or_before(spark, trades, quotes):
    out = temporal.asof_join(trades, quotes, on="k", carry=["bid"])
    got = {(r["k"], r["px"]): (r["ts_r"], r["bid_r"]) for r in out.collect()}
    # trade at 10:00 sees the 10:00 quote (inclusive), not 09:59
    assert got[(1, 100.0)] == (_ts("2024-01-01 10:00:00"), 99.9)
    assert got[(1, 101.0)] == (_ts("2024-01-01 10:04:00"), 100.5)
    # key 2's trade predates every quote -> left row kept with NULLs
    assert got[(2, 50.0)] == (None, None)


def test_asof_strict_excludes_simultaneous(spark, trades, quotes):
    out = temporal.asof_join(trades, quotes, on="k", carry=["bid"], strict=True)
    got = {(r["k"], r["px"]): r["bid_r"] for r in out.collect()}
    assert got[(1, 100.0)] == 99.5  # 10:00 quote no longer visible
    assert got[(1, 101.0)] == 100.5


def test_asof_matches_naive_theta_join(spark):
    """Property check on a bigger deterministic fixture: the one-shuffle
    formulation equals the obvious (quadratic) greatest-qualifying-row
    join."""
    left = spark.createDataFrame(
        [(i % 5, _ts("2024-01-01 00:00:00").replace(minute=i % 60), float(i)) for i in range(200)],
        "k int, ts timestamp, px double",
    ).distinct()
    right = spark.createDataFrame(
        [(i % 5, _ts("2024-01-01 00:00:00").replace(minute=(i * 7) % 60), float(i)) for i in range(100)],
        "k int, ts timestamp, bid double",
    ).groupBy("k", "ts").agg(F.max("bid").alias("bid"))  # unique (k, ts)
    fast = temporal.asof_join(left, right, on="k", carry=["bid"])
    naive = (
        left.alias("l")
        .join(right.alias("r"), (F.col("l.k") == F.col("r.k")) & (F.col("r.ts") <= F.col("l.ts")), "left")
        .groupBy("l.k", "l.ts", "l.px")
        .agg(F.max_by(F.col("r.bid"), F.col("r.ts")).alias("bid_r"))
    )
    a = {(r["k"], r["ts"], r["px"], r["bid_r"]) for r in fast.select("k", "ts", "px", "bid_r").collect()}
    b = {(r["k"], r["ts"], r["px"], r["bid_r"]) for r in naive.collect()}
    assert a == b


def test_range_join_boundaries(spark):
    facts = spark.createDataFrame(
        [
            (0, _ts("2024-01-01 17:59:59")),
            (1, _ts("2024-01-01 18:00:00")),  # == start: included
            (2, _ts("2024-01-02 03:00:00")),  # next day, same interval
            (3, _ts("2024-01-03 12:00:00")),  # == end: excluded
        ],
        "fid int, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [(7, _ts("2024-01-01 18:00:00"), _ts("2024-01-03 12:00:00"))],
        "iid int, start_ts timestamp, end_ts timestamp",
    )
    got = sorted(
        r["fid"] for r in temporal.range_join(facts, intervals).select("fid").collect()
    )
    assert got == [1, 2]


def test_range_join_overlapping_intervals_fan_out(spark):
    facts = spark.createDataFrame([(0, _ts("2024-01-02 00:00:00"))], "fid int, ts timestamp")
    intervals = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 00:00:00"), _ts("2024-01-03 00:00:00")),
            (2, _ts("2024-01-01 12:00:00"), _ts("2024-01-02 12:00:00")),
            (3, _ts("2024-01-02 00:00:01"), _ts("2024-01-02 02:00:00")),
        ],
        "iid int, start_ts timestamp, end_ts timestamp",
    )
    got = sorted(
        r["iid"] for r in temporal.range_join(facts, intervals).select("iid").collect()
    )
    assert got == [1, 2]


def test_hypertable_rollup_grains(spark):
    ev = spark.createDataFrame(
        [
            (_ts("2024-01-01 10:15:00"), 1.0),
            (_ts("2024-01-01 10:45:00"), 2.0),
            (_ts("2024-01-01 11:00:00"), 4.0),
            (_ts("2024-01-02 10:00:00"), 8.0),
        ],
        "ts timestamp, value double",
    )
    rows = temporal.hypertable_rollup(ev).collect()
    by_key = {(r["day"], r["hr"], r["grain"]): (r["n_events"], r["total_value"]) for r in rows}
    assert by_key[("2024-01-01", 10, 0)] == (2, 3.0)
    assert by_key[("2024-01-01", 11, 0)] == (1, 4.0)
    assert by_key[("2024-01-01", None, 1)] == (3, 7.0)
    assert by_key[("2024-01-02", None, 1)] == (1, 8.0)
    assert by_key[(None, None, 3)] == (4, 15.0)
    assert len(rows) == 3 + 2 + 1


def test_sliding_hourly_stats_frame(spark):
    ev = spark.createDataFrame(
        [
            ("click", _ts("2024-01-01 00:30:00"), 1.0),
            ("click", _ts("2024-01-01 01:30:00"), 2.0),
            ("click", _ts("2024-01-01 01:45:00"), 2.0),
            # hour 02 missing: ROWS frame skips the gap
            ("click", _ts("2024-01-01 03:30:00"), 4.0),
        ],
        "event_type string, ts timestamp, value double",
    )
    rows = {r["hour"]: r for r in temporal.sliding_hourly_stats(ev, preceding=1).collect()}
    assert rows["2024-01-01 00:00"]["moving_avg_n"] == 1.0
    assert rows["2024-01-01 01:00"]["n"] == 2
    assert rows["2024-01-01 01:00"]["moving_avg_n"] == 1.5  # (1 + 2) / 2
    # the 03:00 row's frame holds {01:00, 03:00} because ROWS, not RANGE
    assert rows["2024-01-01 03:00"]["moving_avg_n"] == 1.5
    assert rows["2024-01-01 03:00"]["moving_total_value"] == 8.0


def test_customers_without_orders(spark):
    customer = spark.createDataFrame(
        [(1, "a", "SEG1"), (2, "b", "SEG1"), (3, "c", "SEG2")],
        "c_custkey long, c_name string, c_mktsegment string",
    )
    orders = spark.createDataFrame(
        [(10, 1), (11, 1)], "o_orderkey long, o_custkey long"
    )
    got = sorted(
        r["c_custkey"]
        for r in relational.customers_without_orders(customer, orders).collect()
    )
    assert got == [2, 3]


def test_latest_snapshot_picks_max_ts_with_tiebreak(spark):
    ev = spark.createDataFrame(
        [
            (1, "click", 100, _ts("2024-01-01 00:00:00"), 1.0),
            (1, "click", 101, _ts("2024-01-01 02:00:00"), 2.0),
            # same ts: larger event_id wins
            (1, "view", 200, _ts("2024-01-01 01:00:00"), 3.0),
            (1, "view", 201, _ts("2024-01-01 01:00:00"), 4.0),
            (2, "click", 300, _ts("2024-01-01 00:30:00"), 5.0),
        ],
        "user_id long, event_type string, event_id long, ts timestamp, value double",
    )
    snap = temporal.latest_snapshot(
        ev, keys=("user_id", "event_type"), ts_col="ts", tiebreak="event_id"
    )
    got = {(r["user_id"], r["event_type"]): (r["event_id"], r["value"]) for r in snap.collect()}
    assert got == {
        (1, "click"): (101, 2.0),
        (1, "view"): (201, 4.0),
        (2, "click"): (300, 5.0),
    }
    assert set(snap.columns) == {"user_id", "event_type", "event_id", "ts", "value"}


def test_latest_snapshot_equals_window_formulation(spark):
    """Adversarial cross-check: the max_by aggregation must compute the
    same function as the classic row_number window on randomized data
    (including ts ties resolved by the tiebreak)."""
    import random

    from pyspark.sql import Window

    rng = random.Random(42)
    rows = [
        (
            rng.randrange(5),                      # user_id
            rng.choice(["a", "b", "c"]),           # event_type
            i,                                     # event_id (unique)
            _ts(f"2024-01-01 0{rng.randrange(10)}:00:00"),  # coarse ts => ties
            float(i),
        )
        for i in range(300)
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, event_id long, ts timestamp, value double"
    )
    got = {
        (r["user_id"], r["event_type"]): r["event_id"]
        for r in temporal.latest_snapshot(
            ev, keys=("user_id", "event_type"), tiebreak="event_id"
        ).collect()
    }
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    want = {
        (r["user_id"], r["event_type"]): r["event_id"]
        for r in ev.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .collect()
    }
    assert got == want


def test_snapshot_diff_classifies_changes(spark):
    old = spark.createDataFrame(
        [(1, "a", "10"), (2, "b", "20"), (3, "c", "30")],
        "id long, t string, v string",
    )
    new = spark.createDataFrame(
        [(2, "b", "20"), (3, "c", "31"), (4, "d", "40")],
        "id long, t string, v string",
    )
    got = {
        r["id"]: r["change_type"]
        for r in temporal.snapshot_diff(old, new, "id", ("t", "v")).collect()
    }
    # 1 deleted, 2 unchanged (absent), 3 updated, 4 inserted
    assert got == {1: "delete", 3: "update", 4: "insert"}


def test_hourly_anomalies_spike_detection(spark):
    # 7 quiet hours alternating 10/12 events (nonzero baseline
    # variance), then an hour with 100: huge z-score
    rows = []
    eid = 0
    for h in range(7):
        for _ in range(10 if h % 2 == 0 else 12):
            rows.append(("click", _ts(f"2024-01-01 {h:02d}:15:00"), float(eid)))
            eid += 1
    for _ in range(100):
        rows.append(("click", _ts("2024-01-01 07:15:00"), float(eid)))
        eid += 1
    ev = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    out = {r["hour"]: r for r in temporal.hourly_anomalies(ev).collect()}
    # hours 0 and 1 have baselines of < 2 points and are dropped
    assert "2024-01-01 00:00" not in out and "2024-01-01 01:00" not in out
    spike = out["2024-01-01 07:00"]
    assert spike["n"] == 100 and spike["is_anomaly"]
    assert spike["zscore"] > 3.0
    # baseline excluded the spike itself: mean of the quiet [12,10]*3
    assert spike["baseline_mean"] == 11.0
    # a quiet hour inside the alternation is scorable but NOT anomalous
    assert not out["2024-01-01 06:00"]["is_anomaly"]


def test_session_stats_gap_boundary(spark):
    """Events exactly gap apart DO merge (an event landing right on
    the previous window's end extends it) — pinned so the oracle's
    strict-> break rule and Spark's session_window agree forever.
    (The first draft of the oracle used >= and this test caught the
    divergence — the data never exercises the exact boundary.)"""
    ev = spark.createDataFrame(
        [
            (10, _ts("2024-01-01 00:00:00"), 1.0),
            (10, _ts("2024-01-01 00:29:59"), 2.0),  # inside gap: merges
            (10, _ts("2024-01-01 00:59:59"), 3.0),  # exactly 30:00 later: merges
            (11, _ts("2024-01-01 05:00:00"), 4.0),
        ],
        "user_id long, ts timestamp, value double",
    )
    rows = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"], r["total_value"])
        for r in relational.session_stats(ev, gap_minutes=30).collect()
    )
    assert rows == [
        (10, "2024-01-01 00:00:00", "2024-01-01 01:29:59", 3, 6.0),
        (11, "2024-01-01 05:00:00", "2024-01-01 05:30:00", 1, 4.0),
    ]
    # and a gap of 30:01 genuinely splits
    ev2 = spark.createDataFrame(
        [
            (10, _ts("2024-01-01 00:00:00"), 1.0),
            (10, _ts("2024-01-01 00:30:01"), 2.0),
        ],
        "user_id long, ts timestamp, value double",
    )
    assert relational.session_stats(ev2, gap_minutes=30).count() == 2


def test_snapshot_diff_null_not_ambiguous(spark):
    old = spark.createDataFrame([(1, "a", None), (2, None, "b")],
                                "id long, t string, v string")
    new = spark.createDataFrame([(1, None, "a"), (2, None, "b")],
                                "id long, t string, v string")
    got = {r["id"]: r["change_type"]
           for r in temporal.snapshot_diff(old, new, "id", ("t", "v")).collect()}
    # ('a', NULL) vs (NULL, 'a') must register as an update, and a
    # NULL-for-NULL identical row as unchanged
    assert got == {1: "update"}


def test_scd2_history_change_compression_and_intervals(spark):
    log = spark.createDataFrame(
        [
            # user 1: a -> a (heartbeat, no new version) -> b -> a
            (1, "a", _ts("2024-01-01 00:00:00"), 100),
            (1, "a", _ts("2024-01-01 01:00:00"), 101),
            (1, "b", _ts("2024-01-01 02:00:00"), 102),
            (1, "a", _ts("2024-01-01 03:00:00"), 103),
            # user 2: single row -> one open version
            (2, "x", _ts("2024-01-01 00:30:00"), 200),
        ],
        "user_id long, state string, ts timestamp, event_id long",
    )
    hist = temporal.scd2_history(
        log, keys=("user_id",), attrs=("state",), ts_col="ts", tiebreak="event_id"
    )
    rows = sorted(
        (r["user_id"], r["version"], r["state"],
         str(r["valid_from"]), str(r["valid_to"]), r["is_current"])
        for r in hist.collect()
    )
    assert rows == [
        (1, 1, "a", "2024-01-01 00:00:00", "2024-01-01 02:00:00", False),
        (1, 2, "b", "2024-01-01 02:00:00", "2024-01-01 03:00:00", False),
        (1, 3, "a", "2024-01-01 03:00:00", "None", True),
        (2, 1, "x", "2024-01-01 00:30:00", "None", True),
    ]


def test_scd2_history_tiebreak_orders_same_timestamp(spark):
    t = _ts("2024-01-01 00:00:00")
    log = spark.createDataFrame(
        [(1, "a", t, 2), (1, "b", t, 1)],  # b precedes a by event_id
        "user_id long, state string, ts timestamp, event_id long",
    )
    hist = temporal.scd2_history(
        log, keys=("user_id",), attrs=("state",), ts_col="ts", tiebreak="event_id"
    )
    got = [(r["version"], r["state"]) for r in hist.orderBy("version").collect()]
    assert got == [(1, "b"), (2, "a")]


def test_scd2_history_delimiter_bytes_cannot_alias_change(spark):
    # ('a|b','c') -> ('a','b|c'): same concat_ws rendering, different
    # rows — per-column digests must open a new version
    log = spark.createDataFrame(
        [
            (1, "a|b", "c", _ts("2024-01-01 00:00:00"), 1),
            (1, "a", "b|c", _ts("2024-01-01 01:00:00"), 2),
        ],
        "user_id long, x string, y string, ts timestamp, event_id long",
    )
    hist = temporal.scd2_history(
        log, keys=("user_id",), attrs=("x", "y"), ts_col="ts", tiebreak="event_id"
    )
    assert hist.count() == 2


def test_scd2_current_rows_equal_latest_snapshot(spark):
    """Cross-operator invariant: the is_current slice of the SCD2
    history carries exactly latest_snapshot's value per key (the
    history's open version IS the current state)."""
    import random

    rng = random.Random(7)
    rows = []
    eid = 0
    for user in range(1, 9):
        for _ in range(rng.randint(1, 12)):
            eid += 1
            rows.append(
                (user, rng.choice("abc"),
                 _ts(f"2024-01-{rng.randint(1, 28):02d} {rng.randint(0, 23):02d}:00:00"),
                 eid)
            )
    log = spark.createDataFrame(
        rows, "user_id long, state string, ts timestamp, event_id long"
    )
    hist = temporal.scd2_history(
        log, keys=("user_id",), attrs=("state",), ts_col="ts", tiebreak="event_id"
    )
    current = {
        r["user_id"]: r["state"]
        for r in hist.where("is_current").collect()
    }
    latest = {
        r["user_id"]: r["state"]
        for r in temporal.latest_snapshot(
            log.select("user_id", "state", "ts", "event_id"),
            keys=("user_id",), ts_col="ts", tiebreak="event_id",
        ).collect()
    }
    assert current == latest and len(current) == 8


def test_ewma_hourly_hand_checked(spark):
    """3-hour window, alpha 0.5: weights 0.5/0.25/0.125, literal-order
    sum; rows without full history are dropped."""
    from datetime import datetime

    import pyspark.sql.functions as F

    from mapreduce_assignments_spark.operators.temporal import ewma_hourly

    rows = []
    counts = [4, 2, 8, 6]  # hours 0..3
    for h, c in enumerate(counts):
        rows += [(datetime(2024, 1, 1, h, 5),)] * c
    events = spark.createDataFrame(rows, "ts timestamp")
    got = {
        r["hour"]: (r["n"], r["ewma"])
        for r in ewma_hourly(events, alpha=0.5, window=3).collect()
    }
    # first two hours lack full history
    assert set(got) == {"2024-01-01 02:00", "2024-01-01 03:00"}
    assert got["2024-01-01 02:00"] == (8, round(8 * 0.5 + 2 * 0.25 + 4 * 0.125, 6))
    assert got["2024-01-01 03:00"] == (6, round(6 * 0.5 + 8 * 0.25 + 2 * 0.125, 6))


def test_seasonal_anomalies_leave_one_out(spark):
    """The 3am spike is anomalous against OTHER days' 3am hours, and
    its own value does not inflate its baseline."""
    from datetime import datetime

    from mapreduce_assignments_spark.operators.temporal import seasonal_anomalies

    rows = []
    # five days at hour 3: volumes 2,2,2,2,30 (day 5 spikes); LOO
    # baseline for the spike is mean 2, var 0 -> dropped? No: the
    # OTHER rows keep variance from the spike's presence in THEIR
    # baselines, so they stay scorable.
    for day, c in zip(range(1, 6), [2, 2, 2, 2, 30]):
        rows += [(datetime(2024, 1, day, 3, 0),)] * c
    events = spark.createDataFrame(rows, "ts timestamp")
    got = {r["hour"]: r for r in seasonal_anomalies(events).collect()}
    # the spike hour itself: baseline = other days (mean 2, var 0) ->
    # unscorable, dropped; normal hours score against a baseline that
    # INCLUDES the spike and are not anomalous
    assert "2024-01-05 03:00" not in got
    for day in range(1, 5):
        r = got[f"2024-01-0{day} 03:00"]
        assert r["base_mean"] == 9.0  # (38 - 2) / 4
        assert not r["is_anomaly"]


def test_interpolate_gaps_linear_and_edges(spark):
    from datetime import datetime
    from mapreduce_assignments_spark.operators.temporal import interpolate_gaps

    ev = spark.createDataFrame(
        [
            ("a", datetime(2024, 1, 1, 0, 15), 10.0),
            # hours 1 and 2 missing -> interpolated 20, 30
            ("a", datetime(2024, 1, 1, 3, 45), 40.0),
            ("b", datetime(2024, 1, 1, 5, 0), 7.0),  # single-hour group
        ],
        "event_type string, ts timestamp, value double",
    )
    rows = {(r["event_type"], r["hour_ts"]): (r["value"], r["filled"])
            for r in interpolate_gaps(ev).collect()}
    assert rows[("a", "2024-01-01 00:00:00")] == (10.0, False)
    assert rows[("a", "2024-01-01 01:00:00")] == (20.0, True)
    assert rows[("a", "2024-01-01 02:00:00")] == (30.0, True)
    assert rows[("a", "2024-01-01 03:00:00")] == (40.0, False)
    assert rows[("b", "2024-01-01 05:00:00")] == (7.0, False)
    assert len(rows) == 5


def test_winsorize_values_hand_checked(spark):
    """Drive the winsorize shape on a tiny frame: p05/p95 of 1..100
    clip exactly the tails."""
    import pyspark.sql.functions as F

    ev = spark.createDataFrame([(float(i),) for i in range(1, 101)], "v double")
    bounds = ev.agg(
        F.round(F.expr("percentile(v, 0.05)"), 6).alias("lo"),
        F.round(F.expr("percentile(v, 0.95)"), 6).alias("hi"),
    )
    [b] = bounds.collect()
    assert b["lo"] == 5.95 and b["hi"] == 95.05
    j = ev.crossJoin(F.broadcast(bounds))
    [r] = j.agg(
        F.sum((F.col("v") < F.col("lo")).cast("int")).alias("lo_n"),
        F.sum((F.col("v") > F.col("hi")).cast("int")).alias("hi_n"),
    ).collect()
    assert r["lo_n"] == 5 and r["hi_n"] == 5


def test_point_in_time_join_never_sees_future(spark):
    from datetime import datetime
    from mapreduce_assignments_spark.operators.temporal import point_in_time_join

    hist = spark.createDataFrame(
        [
            (1, "bronze", datetime(2024, 1, 1), datetime(2024, 2, 1)),
            (1, "gold", datetime(2024, 2, 1), None),
        ],
        "k_user long, state string, valid_from timestamp, valid_to timestamp",
    )
    facts = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 15)),   # bronze era
            (1, datetime(2024, 2, 1)),    # boundary: new version starts
            (1, datetime(2023, 12, 1)),   # before any version
        ],
        "k_user long, ts timestamp",
    )
    j = point_in_time_join(facts, hist, keys=("k_user",))
    got = {r["ts"].isoformat(): r["state"] for r in j.collect()}
    assert got["2024-01-15T00:00:00"] == "bronze"
    assert got["2024-02-01T00:00:00"] == "gold"   # boundary goes to the NEW version
    assert got["2023-12-01T00:00:00"] is None     # pre-history: no match, no leak
