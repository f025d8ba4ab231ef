"""Structured Streaming queries; each must land on its batch
twin's oracle after a full replay."""

from __future__ import annotations

from collections import ChainMap

import pyspark.sql.functions as F

from ..operators import sketches, temporal, text
from . import (
    relational as _relational,
    text_quality as _text_quality,
    timeseries as _timeseries,
)
from ._shared import _A_SQL, _B_SQL, _docs, _events, _scratch_dir, _stage_once

# reads the oracles of the batch queries it must agree with
ORACLE: ChainMap[str, str] = ChainMap(
    {}, _relational.ORACLE, _text_quality.ORACLE, _timeseries.ORACLE,
)


def _staged_events_dir(spark, sf_dir: str) -> str:
    """The events table as a plain micros-timestamp parquet dir for
    streaming replays."""
    return _stage_once(
        "events",
        sf_dir,
        lambda d: _events(spark, sf_dir)
        .repartition(4)
        .write.mode("overwrite")
        .parquet(d),
    )


def q_streaming_hourly_counts(spark, sf_dir):
    """The hourly rollup computed by the Structured Streaming engine:
    events re-staged as a micros parquet dir, replayed through the
    file source with an availableNow trigger into a memory sink. Same
    oracle as the batch query — streaming and batch must agree on a
    full replay."""
    from ..streaming import read_events_stream, run_to_memory, streaming_hourly_counts

    stream = read_events_stream(spark, _staged_events_dir(spark, sf_dir))
    run_to_memory(streaming_hourly_counts(stream), "q_stream_hourly_mem", "update")
    return spark.table("q_stream_hourly_mem")


ORACLE["streaming_hourly_counts"] = ORACLE["hourly_counts"]


def _staged_dup_events_dir(spark, sf_dir: str) -> str:
    """Events staged TWICE (append of a second identical copy) — the
    at-least-once-delivery fixture the streaming dedup must collapse
    back to exactly-once."""

    def write(stage):
        ev = _events(spark, sf_dir).repartition(4)
        ev.write.mode("overwrite").parquet(stage)
        ev.write.mode("append").parquet(stage)

    return _stage_once("dup-events", sf_dir, write)


def q_streaming_dedup(spark, sf_dir):
    """Streaming exactly-once dedup under the oracle: the input stream
    carries every event twice (duplicated staging); the deduped output
    must equal the plain batch projection of the events table — each
    event exactly once."""
    from ..streaming import read_events_stream, run_to_memory, streaming_exact_dedup

    stream = read_events_stream(spark, _staged_dup_events_dir(spark, sf_dir))
    deduped = streaming_exact_dedup(stream).select(
        "event_id", "user_id", "event_type"
    )
    run_to_memory(deduped, "q_stream_dedup_mem", "append")
    return spark.table("q_stream_dedup_mem")


ORACLE["streaming_dedup"] = """
SELECT event_id, user_id, event_type FROM events
"""


def q_streaming_latest_events(spark, sf_dir):
    """Streaming CDC compaction: the SAME ``temporal.latest_snapshot``
    operator (groupBy + max_by — nothing batch-specific) runs over the
    duplicated event stream in complete mode; the state store IS the
    materialized latest-per-key table, so the memory sink must equal
    the batch ``latest_events`` oracle exactly (duplicates carry an
    identical (ts, event_id) order key and collapse). State is
    O(distinct keys) with no watermark — inherent to materializing
    current state, and exactly what an upsert view needs."""
    from ..streaming import read_events_stream, run_to_memory

    stream = read_events_stream(
        spark, _staged_dup_events_dir(spark, sf_dir)
    ).select("user_id", "event_type", "event_id", "ts", "value")
    snap = temporal.latest_snapshot(
        stream, keys=("user_id", "event_type"), ts_col="ts", tiebreak="event_id"
    )
    run_to_memory(snap, "q_stream_latest_mem", "complete")
    return spark.table("q_stream_latest_mem").select(
        "user_id",
        "event_type",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.round("value", 6).alias("value"),
    )


ORACLE["streaming_latest_events"] = ORACLE["latest_events"]


def _staged_user_dim_dir(spark, sf_dir: str) -> str:
    """A small static dimension (user_id → tier = user_id % 3) staged
    as parquet — the slowly-changing dim a stream-static join enriches
    against."""
    return _stage_once(
        "user-dim",
        sf_dir,
        lambda d: _events(spark, sf_dir)
        .select("user_id")
        .distinct()
        .withColumn("tier", F.pmod("user_id", F.lit(3)).cast("int"))
        .write.mode("overwrite")
        .parquet(d),
    )


def q_streaming_enriched_counts(spark, sf_dir):
    """Stream-static enrichment join: the event stream joins the
    staged user-tier dimension (broadcast, re-resolved per
    micro-batch) and aggregates per tier in complete mode. Oracle =
    the same enrichment as one batch SQL join."""
    from ..streaming import read_events_stream, run_to_memory, streaming_enriched_counts

    stream = read_events_stream(spark, _staged_events_dir(spark, sf_dir))
    dim = spark.read.parquet(_staged_user_dim_dir(spark, sf_dir))
    run_to_memory(
        streaming_enriched_counts(stream, dim), "q_stream_enrich_mem", "complete"
    )
    return spark.table("q_stream_enrich_mem")


ORACLE["streaming_enriched_counts"] = """
SELECT CAST(user_id % 3 AS INTEGER) AS tier, count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE) AS total_value
FROM events GROUP BY 1
"""


def q_streaming_snapshot_sink(spark, sf_dir):
    """foreachBatch incremental upsert-to-storage: the duplicated
    event stream is replayed ONE FILE PER MICRO-BATCH (>= 8 batches),
    each batch merging into a parquet snapshot at rest via the batch
    latest_snapshot operator; the final snapshot must equal the batch
    latest_events oracle exactly."""
    from ..streaming import EVENTS_SCHEMA, maintain_snapshot

    # not yet created, so the first batch merges alone
    snap = f"{_scratch_dir('snapshot-sink')}/snap"
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(_staged_dup_events_dir(spark, sf_dir))
        .select("user_id", "event_type", "event_id", "ts", "value")
    )
    maintain_snapshot(
        stream, snap, keys=("user_id", "event_type"), ts_col="ts", tiebreak="event_id"
    )
    # the snapshot dir lives until interpreter exit, so the lazy read
    # stays valid for the caller
    return spark.read.schema(EVENTS_SCHEMA).parquet(snap).select(
        "user_id",
        "event_type",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.round("value", 6).alias("value"),
    )


ORACLE["streaming_snapshot_sink"] = ORACLE["latest_events"]


def q_streaming_sliding_counts(spark, sf_dir):
    """Sliding 2h/1h event-time windows over the staged stream in
    complete mode; each event lands in exactly two windows, which the
    batch oracle reproduces by exploding both window starts."""
    from ..streaming import read_events_stream, run_to_memory, streaming_sliding_counts

    stream = read_events_stream(spark, _staged_events_dir(spark, sf_dir))
    run_to_memory(
        streaming_sliding_counts(stream), "q_stream_sliding_mem", "complete"
    )
    return spark.table("q_stream_sliding_mem")


ORACLE["streaming_sliding_counts"] = """
SELECT strftime(ws, '%Y-%m-%d %H:%M') AS win_start, count(*) AS cnt
FROM (
  SELECT unnest([dt, dt - INTERVAL 1 HOUR]) AS ws
  FROM (SELECT date_trunc('hour', ts) AS dt FROM events))
GROUP BY 1
"""


def q_streaming_user_sessions(spark, sf_dir):
    """Stateful streaming sessionization (applyInPandasWithState)
    replayed over the staged events and checked against the SAME DuckDB
    oracle as the batch ``user_sessions`` query: on a full single-batch
    replay the per-user (n_sessions, n_events) state must equal the
    batch window computation exactly."""
    from ..streaming import read_events_stream, run_to_memory, streaming_user_sessions

    stream = read_events_stream(spark, _staged_events_dir(spark, sf_dir))
    run_to_memory(
        streaming_user_sessions(stream, gap_minutes=30),
        "q_stream_sessions_mem",
        "update",
    )
    return spark.table("q_stream_sessions_mem")


ORACLE["streaming_user_sessions"] = ORACLE["user_sessions"]


def q_streaming_top_users(spark, sf_dir):
    """Complete-mode streaming rank: top-10 users by event count over
    the replayed stream; the oracle is the batch ranking (sorting is
    legal in complete mode, and a full replay must agree with batch)."""
    from ..streaming import read_events_stream, run_to_memory

    stream = read_events_stream(spark, _staged_events_dir(spark, sf_dir))
    top = (
        stream.groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(10)
    )
    run_to_memory(top, "q_stream_topusers_mem", "complete")
    return spark.table("q_stream_topusers_mem")


ORACLE["streaming_top_users"] = """
SELECT user_id, count(*) AS n_events FROM events
GROUP BY user_id ORDER BY n_events DESC, user_id ASC LIMIT 10
"""


def q_streaming_countmin(spark, sf_dir):
    """Count-min counters built INCREMENTALLY over the event stream
    (complete-mode stateful aggregation) — the sketch is mergeable, so
    the full-replay counters must equal the batch sketch exactly; the
    oracle is the batch CMS in SQL."""
    from ..streaming import read_events_stream, run_to_memory

    stream = read_events_stream(spark, _staged_events_dir(spark, sf_dir))
    counters = sketches.count_min_counters(
        stream.select("user_id"), "user_id", width=256, depth=4
    )
    run_to_memory(counters, "q_stream_cms_mem", "complete")
    return spark.table("q_stream_cms_mem")


ORACLE["streaming_countmin"] = f"""
WITH hashed AS (
  SELECT CAST(CONCAT('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 7))
              AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL
)
SELECT CAST(t.d AS INTEGER) AS d,
       (({_A_SQL}[t.d + 1] * h + {_B_SQL}[t.d + 1]) % 2147483647) % 256 AS bucket,
       count(*) AS cnt
FROM hashed, range(0, 4) t(d)
GROUP BY 1, 2
"""


def q_streaming_session_stats(spark, sf_dir):
    """Native session_window ON THE STREAM (append mode + watermark),
    replayed to closure in ONE availableNow run: the replay helper
    stages the events as a single file plus two mtime-ordered far-future
    sentinel files and splits the run into three micro-batches with
    maxFilesPerTrigger=1, so the watermark advances past every real
    session end WITHIN the run — no stream restarts (round-7 harness
    cost fix; see streaming.replay_sessions_to_parquet for the batch
    math). The final read must equal the BATCH session_stats oracle
    row-for-row — the batch/stream consistency contract, now for
    dynamic-gap windows. Sentinel rows (user -1) filtered out."""
    from ..streaming import replay_sessions_to_parquet

    out = replay_sessions_to_parquet(
        spark, _events(spark, sf_dir), _scratch_dir("session-stream")
    )
    return (
        spark.read.parquet(out)
        .where(F.col("user_id") != -1)
        .select("user_id", "session_start", "session_end", "n_events", "total_value")
    )


# the stream must land exactly on the batch answer after full replay
ORACLE["streaming_session_stats"] = ORACLE["session_stats"]


def q_streaming_quality_gate(spark, sf_dir):
    """The quality funnel computed INCREMENTALLY on a document
    stream: each micro-batch contributes its stage-of-death counts
    (per-doc independent, hence additive) via foreachBatch partials;
    the final read sums partials and reconstructs the sequential
    funnel rows. Full replay must equal the batch filter_funnel
    oracle — curation-as-a-stream with exact batch parity, no
    stateful operator needed (the additivity IS the design point)."""
    from ..streaming import run_replay

    src = _stage_once(
        "quality-stream-src",
        sf_dir,
        lambda d: _docs(spark, sf_dir)
        .select("doc_id", "text")
        .repartition(4)
        .write.mode("overwrite")
        .parquet(d),
    )
    root = _scratch_dir("quality-stream")
    out = f"{root}/out"

    def partials(batch_df, batch_id):
        toks = text.tokens_array("text")
        n_tok = F.size(toks)
        sum_len = F.aggregate(
            F.transform(toks, lambda t: F.length(t)),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        n_chars = F.length(F.col("text"))
        upper = F.length(F.regexp_replace(F.col("text"), "[^A-Z]", ""))
        r1 = n_tok >= 5
        r2 = (sum_len >= 2 * n_tok) & (sum_len <= 12 * n_tok)
        r3 = F.lit(10) * upper <= F.lit(3) * n_chars
        batch_df.agg(
            F.count("*").alias("n0"),
            F.sum(F.when(~r1, 1).otherwise(0)).alias("f1"),
            F.sum(F.when(r1 & ~r2, 1).otherwise(0)).alias("f2"),
            F.sum(F.when(r1 & r2 & ~r3, 1).otherwise(0)).alias("f3"),
        ).write.mode("append").parquet(out)

    run_replay(
        spark,
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)  # force multiple batches
        .parquet(src)
        .writeStream.outputMode("append")
        .option("checkpointLocation", f"{root}/ckpt")
        .foreachBatch(partials),
    )
    sums = spark.read.parquet(out).agg(
        F.sum("n0").alias("n0"),
        F.sum("f1").alias("f1"),
        F.sum("f2").alias("f2"),
        F.sum("f3").alias("f3"),
    )
    stage = lambda i, rule, n_in, f: F.struct(  # noqa: E731
        F.lit(i).alias("stage"),
        F.lit(rule).alias("rule"),
        n_in.alias("n_in"),
        f.alias("n_rejected"),
        (n_in - f).alias("n_out"),
    )
    n1 = F.col("n0") - F.col("f1")
    n2 = n1 - F.col("f2")
    return sums.select(
        F.inline(
            F.array(
                stage(1, "min_tokens", F.col("n0"), F.col("f1")),
                stage(2, "mean_token_len", n1, F.col("f2")),
                stage(3, "uppercase_ratio", n2, F.col("f3")),
            )
        )
    )


# the additive streaming funnel must land exactly on the batch funnel
ORACLE["streaming_quality_gate"] = ORACLE["filter_funnel"]


def q_streaming_interval_join(spark, sf_dir):
    """Stream-STREAM interval join (click → purchase attribution
    within 1 hour, per user), both sides replayed through the file
    source. Oracle = the identical batch interval join."""
    from ..streaming import (
        read_events_stream,
        run_to_memory,
        streaming_interval_join,
    )

    src = _staged_events_dir(spark, sf_dir)
    clicks = read_events_stream(spark, src).where(F.col("event_type") == "click")
    purchases = read_events_stream(spark, src).where(
        F.col("event_type") == "purchase"
    )
    joined = streaming_interval_join(clicks, purchases, within="1 hour")
    out = joined.select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.event_id").alias("click_id"),
        F.col("r.event_id").alias("purchase_id"),
    )
    run_to_memory(out, "q_stream_ij_mem", "append")
    return spark.table("q_stream_ij_mem")


# batch replay of the stream-stream interval join: inner joins emit a
# match exactly once (when both sides are present), so the availableNow
# drain equals this batch join row-for-row
ORACLE["streaming_interval_join"] = """
SELECT c.user_id AS user_id, c.event_id AS click_id, p.event_id AS purchase_id
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""
