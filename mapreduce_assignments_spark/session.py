"""SparkSession factory tuned for this engine.

Local-mode defaults mirror the driver harness (``local[$SPARK_GRAFT_CPUS]``)
but every knob is chosen to also make sense on a real cluster:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing).
- ``spark.sql.shuffle.partitions`` sized to the parallelism at hand —
  on a 1000-executor cluster this should be raised to ~2-3x total cores;
  AQE coalescing makes over-provisioning cheap.
- Arrow enabled for the (rare) Pandas-UDF paths.
- ``spark.sql.session.timeZone=UTC``: the engine's contract is that
  every timestamp is a UTC instant.

This module is the one conf writer. Outside ``get_spark``:

- Load-time pins: ``sources.tables.load_table`` sets
  ``spark.sql.legacy.parquet.nanosAsLong=true`` and
  ``spark.sql.session.timeZone=UTC`` where the session's value differs
  (a foreign session, e.g. an unconfigured vanilla one).
- Private dials (:func:`child_session`): the graph loops
  (``operators.fixpoint``) run in a child session with shuffle
  partitions aligned to the loop and AQE off below 100k nodes. The
  caller's session is never written.
- Scoped dials (:func:`scoped_conf`, restored on exit): bounded stream
  replays (``streaming.run_replay``) set 8 shuffle (state) partitions
  and no trailing no-data micro-batch around ``start()`` only.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "mapreduce-assignments-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # some driver testdata generations store TIMESTAMP(NANOS),
        # which the vectorized parquet reader rejects; read as int64
        # nanos and let sources.tables rebuild micro-precision
        # timestamps (it pins this and the UTC zone at load time on
        # foreign, unconfigured sessions so they behave the same).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # minhash's 32-element signature array and the IVF trainer's
        # centroid expressions (over 100 fields) pass the default 25,
        # and Spark warns on stderr when it truncates a plan string
        .config("spark.sql.debug.maxToStringFields", "256")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Every unpartitioned window in the package runs on a bounded input
    # (each site carries a "# bounded-input" note, linted by
    # tests/test_window_lint.py), so WindowExec's per-run "No Partition
    # Defined" warning is noise on stderr. The session turns AQE on for
    # batch work; stream replays inherit it, and Spark answers each one
    # with "AQE is not supported in streaming DataFrames" (and, for a
    # stateful replay, "Disabling AQE") — a fixed, expected fallback,
    # also noise.
    jvm = spark.sparkContext._jvm
    for logger in (
        "org.apache.spark.sql.execution.window.WindowExec",
        "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
        "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution",
    ):
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            logger, jvm.org.apache.logging.log4j.Level.ERROR
        )
    return spark


# A scoped_conf block saves the values it sees on entry, so two blocks
# overlapping on one session would restore each other's values.
_CONF_LOCK = threading.RLock()


@contextmanager
def scoped_conf(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set ``confs`` on ``spark`` for the body of the ``with`` block.
    On exit each key gets back its earlier explicit value, or is unset
    if it had none, so the session's ``conf.getAll`` is as before. The
    session is shared: other threads see the values while the block
    runs, and other blocks wait for it, so keep the body short."""
    with _CONF_LOCK:
        before = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            yield
        finally:
            for k, v in before.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def child_session(spark: SparkSession, confs: Mapping[str, str]) -> SparkSession:
    """A session sharing ``spark``'s context and cache, with
    ``spark``'s confs plus ``confs``, private to it. (``newSession``
    starts from the build-time confs; runtime ones are copied.)"""
    child = spark.newSession()
    inherited = child.conf.getAll
    for k, v in {**spark.conf.getAll, **confs}.items():
        if inherited.get(k) != v:
            child.conf.set(k, v)
    return child


def rebind(df: DataFrame, session: SparkSession) -> DataFrame:
    """``df``'s plan as a frame of ``session``: planned and run under
    that session's confs."""
    ofrows = getattr(session._jvm, "org.apache.spark.sql.classic.Dataset").ofRows
    return DataFrame(ofrows(session._jsparkSession, df._jdf.logicalPlan()), session)


def testdata_dir(sf: str = "0.001") -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", f"/root/testdata/sf{sf}")
