"""Micro-batch progress collection for the streaming queries.

``MicroBatchStats`` aggregates ``StreamingQueryProgress`` JSON records
(pure Python, testable without Spark). ``attach`` registers a
``StreamingQueryListener`` that feeds it, tagging every progress record
with the query execution the harness says is running.
"""

from __future__ import annotations

import json
import threading

from stats import percentile


class MicroBatchStats:
    def __init__(self):
        self._lock = threading.Lock()
        self.records: list[tuple[object, dict]] = []
        self.current = None  # tag of the execution now running

    def add(self, progress: dict, tag=None) -> None:
        with self._lock:
            self.records.append((self.current if tag is None else tag, progress))

    def select(self, tags=None) -> list[dict]:
        with self._lock:
            return [p for t, p in self.records if tags is None or t in tags]

    def input_batches(self, tag) -> int:
        """Micro-batches of one execution that read at least one row."""
        return sum(1 for p in self.select({tag}) if p.get("numInputRows", 0) > 0)

    @staticmethod
    def summarize(progress: list[dict]) -> dict:
        """Totals over progress records: batch count, share of batches
        that read no rows, trigger-time percentiles and the summed
        durations of the micro-batch phases, state rows (summed over
        stateful operators, at each batch's end) and state commit time."""
        n = len(progress)
        trig = [p.get("durationMs", {}).get("triggerExecution", 0) / 1000 for p in progress]

        def phase(key):
            return sum(p.get("durationMs", {}).get(key, 0) for p in progress) / 1000

        def state(key):
            return sum(op.get(key, 0) for p in progress for op in p.get("stateOperators", ()))

        return {
            "batches": n,
            "empty_batch_frac": (
                sum(1 for p in progress if p.get("numInputRows", 0) == 0) / n if n else 0.0
            ),
            "trigger_s": trig,
            "microbatch_p50_s": percentile(trig, 50) if trig else 0.0,
            "microbatch_p90_s": percentile(trig, 90) if trig else 0.0,
            "add_batch_s": phase("addBatch"),
            "query_planning_s": phase("queryPlanning"),
            "wal_commit_s": phase("walCommit"),
            "state_rows": state("numRowsTotal"),
            "state_commit_s": state("commitTimeMs") / 1000,
        }


def attach(spark, stats: MicroBatchStats):
    """Register a listener on ``spark`` that feeds ``stats``; returns it
    (pass it to ``spark.streams.removeListener`` to detach)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            stats.add(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener
