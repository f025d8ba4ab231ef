"""Streaming twins must agree with their batch operators when the
whole input is replayed through the stream (availableNow trigger)."""

from __future__ import annotations

import pytest

from mapreduce_assignments_spark.operators.relational import user_sessions
from mapreduce_assignments_spark.operators.timeseries import hourly_counts_events
from mapreduce_assignments_spark.sources.tables import load_table
from mapreduce_assignments_spark.streaming import (
    read_events_stream,
    run_to_memory,
    streaming_hourly_counts,
    streaming_user_sessions,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Re-write the events table as a micros-timestamp parquet dir
    (the streaming source can't use the nanos-workaround reader)."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, SF_DIR, "events").repartition(4).write.mode("overwrite").parquet(out)
    return out


def test_streaming_hourly_counts_matches_batch(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    run_to_memory(streaming_hourly_counts(stream), "hourly_mem", "update")
    got = {
        (r["date"], r["hour"]): r["cnt"]
        for r in spark.sql("SELECT * FROM hourly_mem").collect()
    }
    batch = load_table(spark, SF_DIR, "events")
    want = {
        (r["date"], r["hour"]): r["cnt"]
        for r in hourly_counts_events(batch).collect()
    }
    assert got == want
    assert len(got) > 0


def test_streaming_hourly_counts_filtered(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    run_to_memory(
        streaming_hourly_counts(stream, type_regex="error"), "hourly_err_mem", "update"
    )
    got = {
        (r["date"], r["hour"]): r["cnt"]
        for r in spark.sql("SELECT * FROM hourly_err_mem").collect()
    }
    batch = load_table(spark, SF_DIR, "events")
    want = {
        (r["date"], r["hour"]): r["cnt"]
        for r in hourly_counts_events(batch, type_regex="error").collect()
    }
    assert got == want


def test_streaming_user_sessions_matches_batch(spark, events_dir):
    """Single-batch replay with time-ordered input per user: the
    stateful streaming sessionizer must equal the batch window
    formulation exactly."""
    stream = (
        read_events_stream(spark, events_dir)
    )
    run_to_memory(streaming_user_sessions(stream, 30), "sessions_mem", "update")
    # update mode may emit one row per (user, micro-batch); keep last
    rows = spark.sql("SELECT * FROM sessions_mem").collect()
    got = {}
    for r in rows:
        got[r["user_id"]] = (r["n_sessions"], r["n_events"])
    batch = load_table(spark, SF_DIR, "events")
    want = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in user_sessions(batch, 30).collect()
    }
    assert got == want


def test_streaming_exact_dedup_collapses_duplicates(spark, tmp_path):
    import pyspark.sql.functions as F

    from mapreduce_assignments_spark.streaming import (
        read_events_stream,
        run_to_memory,
        streaming_exact_dedup,
    )

    rows = [
        (1, "2024-01-01 00:00:01", 10, "click", 1.0, "{}"),
        (2, "2024-01-01 00:10:00", 11, "view", 2.0, "{}"),
        (3, "2024-01-01 00:20:00", 10, "error", 3.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.to_timestamp("ts"))
    stage = str(tmp_path / "dup-events")
    ev.write.mode("overwrite").parquet(stage)
    ev.write.mode("append").parquet(stage)  # every event twice
    deduped = streaming_exact_dedup(read_events_stream(spark, stage)).select(
        "event_id", "event_type"
    )
    run_to_memory(deduped, "t_stream_dedup_mem", "append")
    got = sorted(
        (r["event_id"], r["event_type"])
        for r in spark.table("t_stream_dedup_mem").collect()
    )
    assert got == [(1, "click"), (2, "view"), (3, "error")]


def test_streaming_latest_snapshot_complete_mode(spark, tmp_path):
    import pyspark.sql.functions as F

    from mapreduce_assignments_spark.operators import temporal
    from mapreduce_assignments_spark.streaming import (
        read_events_stream,
        run_to_memory,
    )

    rows = [
        (1, "2024-01-01 00:00:00", 10, "click", 1.0, "{}"),
        (2, "2024-01-01 02:00:00", 10, "click", 2.0, "{}"),  # later: wins
        (3, "2024-01-01 01:00:00", 10, "view", 3.0, "{}"),
        (4, "2024-01-01 01:00:00", 10, "view", 4.0, "{}"),  # tie: id wins
        (5, "2024-01-01 00:30:00", 11, "click", 5.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.to_timestamp("ts"))
    stage = str(tmp_path / "latest-events")
    ev.write.mode("overwrite").parquet(stage)
    ev.write.mode("append").parquet(stage)  # replayed duplicates collapse
    snap = temporal.latest_snapshot(
        read_events_stream(spark, stage).select(
            "user_id", "event_type", "event_id", "ts", "value"
        ),
        keys=("user_id", "event_type"),
        ts_col="ts",
        tiebreak="event_id",
    )
    run_to_memory(snap, "t_stream_latest_mem", "complete")
    got = {
        (r["user_id"], r["event_type"]): (r["event_id"], r["value"])
        for r in spark.table("t_stream_latest_mem").collect()
    }
    assert got == {
        (10, "click"): (2, 2.0),
        (10, "view"): (4, 4.0),
        (11, "click"): (5, 5.0),
    }


def test_maintain_snapshot_incremental_merge(spark, tmp_path):
    import pyspark.sql.functions as F

    from mapreduce_assignments_spark.streaming import EVENTS_SCHEMA, maintain_snapshot

    rows_v1 = [(1, "2024-01-01 00:00:00", 10, "click", 1.0, "{}")]
    rows_v2 = [
        (2, "2024-01-01 01:00:00", 10, "click", 2.0, "{}"),  # newer: replaces
        (3, "2024-01-01 00:30:00", 11, "view", 3.0, "{}"),   # new key
    ]
    src = str(tmp_path / "src")
    for i, rows in enumerate((rows_v1, rows_v2)):
        spark.createDataFrame(
            rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
        ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    snap = str(tmp_path / "snap-does-not-exist-yet")
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # forces >= 2 merge batches
        .parquet(src)
        .select("user_id", "event_type", "event_id", "ts", "value")
    )
    maintain_snapshot(stream, snap, keys=("user_id", "event_type"), tiebreak="event_id")
    got = {
        (r["user_id"], r["event_type"]): r["event_id"]
        for r in spark.read.parquet(snap).collect()
    }
    assert got == {(10, "click"): 2, (11, "view"): 3}


def test_maintain_snapshot_recovers_aside_copy_after_crash(spark, tmp_path):
    """r16 swap contract: the snapshot swap renames the current dir
    ASIDE before promoting the merge output. A crash between the two
    renames leaves the snapshot missing but the aside present; the
    next batch must RESTORE the aside (not silently restart from an
    empty snapshot and lose every pre-crash key)."""
    import os

    import pyspark.sql.functions as F

    from mapreduce_assignments_spark.streaming import EVENTS_SCHEMA, maintain_snapshot

    schema = (
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string"
    )

    def run_batch(rows, src, snap):
        spark.createDataFrame(rows, schema).withColumn(
            "ts", F.to_timestamp("ts")
        ).coalesce(1).write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .parquet(src)
            .select("user_id", "event_type", "event_id", "ts", "value")
        )
        maintain_snapshot(
            stream, snap, keys=("user_id", "event_type"), tiebreak="event_id"
        )

    snap = str(tmp_path / "snap")
    run_batch(
        [(1, "2024-01-01 00:00:00", 10, "click", 1.0, "{}")],
        str(tmp_path / "src1"), snap,
    )
    # simulate the crash window: snapshot renamed aside, promote lost
    os.rename(snap, f"{snap}__prev")
    run_batch(
        [(2, "2024-01-01 01:00:00", 11, "view", 2.0, "{}")],
        str(tmp_path / "src2"), snap,
    )
    got = {
        (r["user_id"], r["event_type"]): r["event_id"]
        for r in spark.read.parquet(snap).collect()
    }
    # key 10 came from the recovered aside copy, key 11 from the batch
    assert got == {(10, "click"): 1, (11, "view"): 2}
    assert not os.path.exists(f"{snap}__prev")


def test_maintain_snapshot_job_budget(spark, tmp_path):
    """Each micro-batch costs one shuffle-map job and one write job:
    no schema-inference job on the snapshot, no job to build an empty
    frame for the first batch."""
    import pyspark.sql.functions as F

    from mapreduce_assignments_spark.streaming import EVENTS_SCHEMA, maintain_snapshot

    schema = (
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string"
    )
    src = str(tmp_path / "src")
    for rows in (
        [(1, "2024-01-01 00:00:00", 10, "click", 1.0, "{}")],
        [(2, "2024-01-01 01:00:00", 10, "click", 2.0, "{}")],
        [(3, "2024-01-01 00:30:00", 11, "view", 3.0, "{}")],
    ):
        spark.createDataFrame(rows, schema).withColumn(
            "ts", F.to_timestamp("ts")
        ).coalesce(1).write.mode("append").parquet(src)
    snap = str(tmp_path / "snap")
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select("user_id", "event_type", "event_id", "ts", "value")
    )
    q = maintain_snapshot(
        stream, snap, keys=("user_id", "event_type"), tiebreak="event_id"
    )
    batches = q.recentProgress
    assert len(batches) == 3
    assert all(p["numInputRows"] == 1 for p in batches)
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert 0 < len(jobs) <= 2 * len(batches)
    got = {
        (r["user_id"], r["event_type"]): r["event_id"]
        for r in spark.read.parquet(snap).collect()
    }
    assert got == {(10, "click"): 2, (11, "view"): 3}


def test_streaming_snapshot_sink_keeps_its_batch_contract(spark):
    """The sink query replays its input one file per micro-batch: at
    sf0.001 that is >= 8 batches, none of them empty. A faster sink
    must not get there by merging batches."""
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    from mapreduce_assignments_spark import workloads

    class Batches(StreamingQueryListener):
        def __init__(self):
            self.rows = []
            self.done = False

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.rows.append(event.progress.numInputRows)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.done = True

    batches = Batches()
    spark.streams.addListener(batches)
    try:
        out = workloads.ALL_QUERIES["streaming_snapshot_sink"](spark, SF_DIR)
        deadline = time.monotonic() + 30  # listener events arrive async
        while not batches.done and time.monotonic() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(batches)
    assert batches.done
    assert len(batches.rows) >= 8
    assert all(n > 0 for n in batches.rows)
    assert out.count() > 0


def test_streaming_enriched_counts_stream_static_join(spark, tmp_path):
    import pyspark.sql.functions as F

    from mapreduce_assignments_spark.streaming import (
        read_events_stream,
        run_to_memory,
        streaming_enriched_counts,
    )

    rows = [
        (1, "2024-01-01 00:00:00", 10, "click", 1.0, "{}"),
        (2, "2024-01-01 00:10:00", 11, "view", 2.0, "{}"),
        (3, "2024-01-01 00:20:00", 10, "click", 3.0, "{}"),
    ]
    src = str(tmp_path / "events")
    spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.to_timestamp("ts")).write.parquet(src)
    dim = spark.createDataFrame([(10, 0), (11, 1)], "user_id long, tier int")
    out = streaming_enriched_counts(read_events_stream(spark, src), dim)
    run_to_memory(out, "t_stream_enrich_mem", "complete")
    got = {
        r["tier"]: (r["n"], r["total_value"])
        for r in spark.table("t_stream_enrich_mem").collect()
    }
    assert got == {0: (2, 4.0), 1: (1, 2.0)}


def test_streaming_sliding_counts_overlap(spark, tmp_path):
    import pyspark.sql.functions as F

    from mapreduce_assignments_spark.streaming import (
        read_events_stream,
        run_to_memory,
        streaming_sliding_counts,
    )

    rows = [
        (1, "2024-01-01 00:30:00", 10, "click", 1.0, "{}"),
        (2, "2024-01-01 01:30:00", 10, "click", 2.0, "{}"),
    ]
    src = str(tmp_path / "ev")
    spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.to_timestamp("ts")).write.parquet(src)
    run_to_memory(
        streaming_sliding_counts(read_events_stream(spark, src)),
        "t_stream_sliding_mem",
        "complete",
    )
    got = {r["win_start"]: r["cnt"] for r in spark.table("t_stream_sliding_mem").collect()}
    # 2h windows sliding 1h: each event lands in two windows; the
    # [00:00, 02:00) window sees both events
    assert got == {
        "2023-12-31 23:00": 1,
        "2024-01-01 00:00": 2,
        "2024-01-01 01:00": 1,
    }


def test_streaming_interval_join_matches_batch_window(spark, tmp_path):
    import pyspark.sql.functions as F

    from mapreduce_assignments_spark.streaming import (
        read_events_stream,
        run_to_memory,
        streaming_interval_join,
    )

    rows = [
        # user 10: click at 00:00; purchases at +30m (match), +2h (no)
        (1, "2024-01-01 00:00:00", 10, "click", 1.0, "{}"),
        (2, "2024-01-01 00:30:00", 10, "purchase", 5.0, "{}"),
        (3, "2024-01-01 02:00:00", 10, "purchase", 9.0, "{}"),
        # user 11: purchase BEFORE the click — interval is one-sided
        (4, "2024-01-01 01:00:00", 11, "purchase", 2.0, "{}"),
        (5, "2024-01-01 01:30:00", 11, "click", 1.0, "{}"),
        # boundary: exactly +1h is IN (inclusive upper bound)
        (6, "2024-01-01 03:00:00", 12, "click", 1.0, "{}"),
        (7, "2024-01-01 04:00:00", 12, "purchase", 7.0, "{}"),
    ]
    src = str(tmp_path / "ev")
    spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.to_timestamp("ts")).write.parquet(src)
    clicks = read_events_stream(spark, src).where(F.col("event_type") == "click")
    purchases = read_events_stream(spark, src).where(F.col("event_type") == "purchase")
    joined = streaming_interval_join(clicks, purchases, within="1 hour").select(
        F.col("l.event_id").alias("click_id"),
        F.col("r.event_id").alias("purchase_id"),
    )
    run_to_memory(joined, "t_stream_ij_mem", "append")
    got = {
        (r["click_id"], r["purchase_id"])
        for r in spark.table("t_stream_ij_mem").collect()
    }
    assert got == {(1, 2), (6, 7)}


def test_streaming_countmin_equals_batch_sketch(spark, tmp_path):
    """CMS is mergeable: the counters built incrementally over the
    micro-batched replay equal the one-shot batch sketch exactly."""
    import pyspark.sql.functions as F

    from mapreduce_assignments_spark import workloads
    from mapreduce_assignments_spark.operators.sketches import count_min_counters
    from mapreduce_assignments_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        (r["d"], r["bucket"]): r["cnt"]
        for r in workloads.q_streaming_countmin(spark, sf).collect()
    }
    batch = {
        (r["d"], r["bucket"]): r["cnt"]
        for r in count_min_counters(
            load_table(spark, sf, "events").select("user_id"),
            "user_id", width=256, depth=4,
        ).collect()
    }
    assert got == batch


def test_streaming_checkpoint_restart_is_exactly_once(spark, tmp_path):
    """Kill-and-resume: a checkpointed file-source stream processes
    half the files, 'crashes' (stops), more files arrive, and the
    RESUMED query (same checkpoint dir) processes only the new files
    — final counts equal the batch answer, nothing double-counted."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    half1 = spark.range(0, 100).select((F.col("id") % 7).alias("k"))
    half2 = spark.range(100, 250).select((F.col("id") % 7).alias("k"))
    half1.coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema("k bigint").parquet(src)
        agg = stream.groupBy("k").agg(F.count("*").alias("n"))

        def upsert(batch_df, batch_id):
            batch_df.write.mode("overwrite").parquet(out)

        q = (
            agg.writeStream.outputMode("complete")
            .option("checkpointLocation", ckpt)
            .foreachBatch(upsert)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()  # processes first half, then "crashes" (terminates)
    first = {r["k"]: r["n"] for r in spark.read.parquet(out).collect()}
    assert sum(first.values()) == 100
    half2.coalesce(1).write.mode("append").parquet(src)
    run_once()  # resumes from the checkpoint: only the new file
    got = {r["k"]: r["n"] for r in spark.read.parquet(out).collect()}
    expected = {
        r["k"]: r["n"]
        for r in half1.unionAll(half2).groupBy("k").agg(F.count("*").alias("n")).collect()
    }
    assert got == expected


def test_streaming_session_stats_matches_batch(spark, tmp_path):
    """Full replay of the native session_window stream (append mode,
    sentinel-driven watermark flush) equals the batch session_stats —
    via the production single-run replay harness (one availableNow
    start, three mtime-ordered micro-batches)."""
    from datetime import datetime

    import pyspark.sql.functions as F

    from mapreduce_assignments_spark.operators.relational import session_stats
    from mapreduce_assignments_spark.streaming import replay_sessions_to_parquet

    ev = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 0, 0), 1.0),
            (1, datetime(2024, 1, 1, 0, 20), 2.0),   # merges (gap 20m)
            (1, datetime(2024, 1, 1, 2, 0), 3.0),    # new session
            (2, datetime(2024, 1, 1, 1, 0), 4.0),
        ],
        "user_id long, ts timestamp, value double",
    )
    out = replay_sessions_to_parquet(spark, ev, str(tmp_path))
    got = sorted(
        tuple(r) for r in spark.read.parquet(out)
        .where(F.col("user_id") != -1)
        .select("user_id", "session_start", "session_end", "n_events", "total_value")
        .collect()
    )
    want = sorted(tuple(r) for r in session_stats(ev).collect())
    assert got == want and len(got) == 3


def test_streaming_quality_gate_matches_batch_funnel(spark):
    """Multi-batch streamed funnel partials sum to the one-shot batch
    funnel at sf0.001 — the additive-curation contract. A second call
    on the same session must replay its stream again (only the input
    is staged once), and give the same rows."""
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    from mapreduce_assignments_spark import workloads
    from mapreduce_assignments_spark.operators.text_quality import filter_funnel

    class Starts(StreamingQueryListener):
        n = 0

        def onQueryStarted(self, event):
            self.n += 1

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    def run():
        return sorted(
            tuple(r)
            for r in workloads.ALL_QUERIES["streaming_quality_gate"](
                spark, SF_DIR
            ).collect()
        )

    first = run()
    starts = Starts()
    spark.streams.addListener(starts)
    try:
        second = run()
        deadline = time.monotonic() + 30  # listener events arrive async
        while starts.n == 0 and time.monotonic() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(starts)
    want = sorted(
        tuple(r) for r in filter_funnel(workloads._docs(spark, SF_DIR)).collect()
    )
    assert first == want
    assert second == first
    assert starts.n == 1, "second call served a memoized result"


def test_stage_once_writes_once_per_kind_and_sf_dir():
    from mapreduce_assignments_spark import workloads

    calls = []
    a = workloads._stage_once("test-kind-a", "sf-x", calls.append)
    assert workloads._stage_once("test-kind-a", "sf-x", calls.append) == a
    b = workloads._stage_once("test-kind-a", "sf-y", calls.append)
    c = workloads._stage_once("test-kind-b", "sf-x", calls.append)
    assert calls == [a, b, c]
    assert len({a, b, c}) == 3


def test_replay_runs_with_its_dials_and_restores_the_session(spark, events_dir):
    """A stateful replay on a 4-partition session runs its state
    operator on the replay's 8 partitions, runs no trailing empty
    batch, and leaves the caller's confs as they were."""
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    before = dict(spark.conf.getAll)
    q = run_to_memory(
        streaming_hourly_counts(read_events_stream(spark, events_dir)),
        "t_replay_dials_mem",
        "update",
    )
    progress = q.recentProgress
    assert progress
    assert all(
        p["stateOperators"][0]["numShufflePartitions"] == 8 for p in progress
    )
    assert all(p["numInputRows"] > 0 for p in progress)
    assert dict(spark.conf.getAll) == before


def test_memory_replay_checkpoints_privately_and_cleans_up(spark, events_dir):
    """A memory-sink replay checkpoints into its own temporary dir,
    not a Spark ``temporary-<uuid>`` dir, and that dir is gone once
    the replay returns."""
    import os
    from urllib.parse import urlparse

    q = run_to_memory(
        streaming_hourly_counts(read_events_stream(spark, events_dir)),
        "t_replay_ckpt_mem",
        "update",
    )
    root = urlparse(q._jsq.streamingQuery().resolvedCheckpointRoot()).path
    assert not os.path.basename(root).startswith("temporary-"), root
    assert not os.path.exists(root), root
    assert spark.sql("SELECT * FROM t_replay_ckpt_mem").count() > 0


def test_replay_timeout_stops_the_query_and_raises(spark, tmp_path, monkeypatch):
    """A replay still running at the timeout is stopped and raises
    instead of handing back a half-written sink."""
    import time

    from mapreduce_assignments_spark.streaming import run_replay, stream_ops

    src = str(tmp_path / "src")
    spark.range(3).write.parquet(src)
    monkeypatch.setattr(stream_ops, "_REPLAY_TIMEOUT_S", 0.5)
    writer = (
        spark.readStream.schema("id long")
        .parquet(src)
        .writeStream.queryName("t_replay_timeout")
        .foreachBatch(lambda batch, batch_id: time.sleep(3))
    )
    with pytest.raises(TimeoutError, match="t_replay_timeout"):
        run_replay(spark, writer)
    assert not any(q.name == "t_replay_timeout" for q in spark.streams.active)
