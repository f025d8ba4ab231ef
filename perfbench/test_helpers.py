"""Tests for the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import statistics
import sys
import types
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from eventlog import attribute_jobs, engine_metrics, read_event_log  # noqa: E402
from listener import MicroBatchStats  # noqa: E402
from stats import (  # noqa: E402
    geomean, median, percentile, quartiles, self_times, tail_percentile,
    union_length,
)
from tracing import PACKAGE, Tracer, layer_of  # noqa: E402


# -- stats -----------------------------------------------------------


def test_median_and_quartiles_match_statistics():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 6.0, 8.0, 10.0]
    assert median(xs) == 5.5
    assert quartiles(xs) == tuple(statistics.quantiles(xs, n=4))
    assert quartiles([2.0]) == (2.0, 2.0, 2.0)
    with pytest.raises(ValueError):
        median([])


@pytest.mark.parametrize(
    "n, p",
    [(19, None), (20, 50), (50, 80), (99, 89), (100, 90), (1000, 99), (5000, 99)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p
    if p is not None:
        assert n * (100 - p) / 100 >= 10
        if p < 99:
            assert n * (100 - (p + 1)) / 100 < 10


def test_percentile_and_geomean():
    xs = [1.0, 2.0, 3.0, 4.0, 5.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 90) == pytest.approx(4.6)
    assert percentile(xs, 100) == 5.0
    assert geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_self_time_subtracts_overlapping_children_once():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps span 1
        {"id": 3, "parent": 0, "start": 9.0, "end": 12.0},  # outlives its parent
        {"id": 4, "parent": 2, "start": 4.0, "end": 5.0},
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(10 - (5 + 1))  # [1, 6] and [9, 10]
    assert got[1] == pytest.approx(3)
    assert got[2] == pytest.approx(2)
    assert got[3] == pytest.approx(3)
    assert got[4] == pytest.approx(1)


# -- tracing ---------------------------------------------------------


def test_layer_of_maps_package_modules():
    assert layer_of(f"{PACKAGE}.sources.tables", "load_table") == "sources.load_table"
    assert layer_of(f"{PACKAGE}.sources.tables", "register_views") == "sources.other"
    assert layer_of(f"{PACKAGE}.sources.text_corpus", "read_text_corpus") == "sources.text"
    assert layer_of(f"{PACKAGE}.operators.dedup", "x") == "operators.dedup"
    assert layer_of(f"{PACKAGE}.operators.sketches", "x") == "operators.other"
    assert layer_of(f"{PACKAGE}.plans.rpn", "x") == "plans"
    assert layer_of(f"{PACKAGE}.streaming.stream_ops", "x") == "streaming"
    assert layer_of(f"{PACKAGE}.functions.hashing", "h60") is None
    assert layer_of(f"{PACKAGE}.workloads", "q_pmi") is None


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_tracer_layer_totals_self_time_and_own_jobs():
    clock, jobs = FakeClock(), [0]
    tr = Tracer(job_count=lambda: jobs[0], clock=clock)
    with tr.span("workloads"):
        clock.t = 1.0
        with tr.span("operators.graph"):
            clock.t, jobs[0] = 3.0, 2
            with tr.span("operators.graph"):  # recursion: one outer span
                clock.t, jobs[0] = 4.0, 5
        clock.t, jobs[0] = 6.0, 6
    totals = tr.layer_totals()
    assert totals["workloads"]["total_s"] == 6.0
    assert totals["workloads"]["self_s"] == pytest.approx(3.0)
    assert totals["workloads"]["jobs"] == 1
    assert totals["workloads"]["total_jobs"] == 6
    g = totals["operators.graph"]
    assert g["self_s"] == pytest.approx(3.0) and g["total_s"] == 3.0
    assert g["calls"] == 2 and g["jobs"] == 5 and g["total_jobs"] == 5


def test_tracer_parents_spans_of_other_threads_to_the_waiting_span():
    import threading

    tr = Tracer()
    with tr.span("streaming") as outer:
        t = threading.Thread(target=lambda: tr.span("operators.temporal").__enter__())
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    inner = [s for s in tr.spans if s.layer == "operators.temporal"]
    assert inner and inner[0].parent == outer.id


def test_install_wraps_every_binding_and_uninstall_restores(monkeypatch):
    op = types.ModuleType(f"{PACKAGE}.operators.graph")

    def pagerank(x):
        return x + 1

    pagerank.__module__ = op.__name__
    op.pagerank = pagerank
    user = types.ModuleType(f"{PACKAGE}.workloads")
    user.pagerank = pagerank  # a `from .operators.graph import pagerank` binding
    monkeypatch.setitem(sys.modules, op.__name__, op)
    monkeypatch.setitem(sys.modules, user.__name__, user)

    tr = Tracer(clock=FakeClock())
    assert tr.install() >= 2
    try:
        assert user.pagerank(1) == 2 and op.pagerank(2) == 3
        assert [s.layer for s in tr.spans] == ["operators.graph"] * 2
    finally:
        tr.uninstall()
    assert user.pagerank is pagerank and op.pagerank is pagerank


# -- event log -------------------------------------------------------

WINDOWS = [
    ("a", "g-a", 1000.0, 1001.0),
    ("b", "perfbench-b", 1002.0, 1004.0),
]


def _log():
    with open(HERE / "fixtures" / "eventlog_tiny.jsonl") as f:
        return read_event_log(f)


def test_event_log_parser_reads_jobs_and_tasks():
    log = _log()
    assert set(log.jobs) == {0, 1, 2}
    assert log.jobs[0] == (1000000, "g-a", (0, 1))
    assert len(log.tasks) == 6
    assert [t.failed for t in log.tasks].count(True) == 1


def test_jobs_attributed_by_group_then_by_window():
    assert attribute_jobs(_log(), WINDOWS) == {0: "a", 1: "b"}


def test_engine_metrics_on_fixture():
    m = engine_metrics(_log(), WINDOWS, cores=2)
    assert m["jobs"] == 2 and m["stages"] == 3 and m["tasks"] == 5
    assert m["tasks_failed_frac"] == pytest.approx(0.2)
    assert m["executor_run_s"] == pytest.approx(2.0)
    assert m["executor_cpu_s"] == pytest.approx(0.7)
    assert m["gc_s"] == pytest.approx(0.01)
    assert m["shuffle_write_mb"] == pytest.approx(3)
    assert m["shuffle_read_mb"] == pytest.approx(3)
    assert m["spill_disk_mb"] == pytest.approx(1)
    assert m["input_mb"] == pytest.approx(6)
    assert m["output_mb"] == pytest.approx(1)
    assert m["jvm_heap_peak_mb"] == pytest.approx(150)
    assert m["core_busy_frac"] == pytest.approx(2.0 / (3.0 * 2))
    # busy: 0.7 s of window a, 1.0 s of window b
    assert m["driver_only_s"] == pytest.approx(3.0 - 1.7)


# -- listener aggregation --------------------------------------------


def _progress(rows, trigger, state_rows=0, commit_ms=0):
    return {
        "numInputRows": rows,
        "durationMs": {"triggerExecution": trigger, "addBatch": trigger // 2,
                       "queryPlanning": 10, "walCommit": 5},
        "stateOperators": [{"numRowsTotal": state_rows, "commitTimeMs": commit_ms}],
    }


def test_microbatch_stats_tags_and_summary():
    mb = MicroBatchStats()
    mb.current = (1, "q")
    mb.add(_progress(100, 1000, state_rows=7, commit_ms=20))
    mb.add(_progress(0, 200))
    mb.current = (2, "q")
    mb.add(_progress(50, 600, state_rows=3, commit_ms=10))
    assert mb.input_batches((1, "q")) == 1
    assert mb.input_batches((3, "q")) == 0
    s = MicroBatchStats.summarize(mb.select({(1, "q"), (2, "q")}))
    assert s["batches"] == 3
    assert s["empty_batch_frac"] == pytest.approx(1 / 3)
    assert s["microbatch_p50_s"] == pytest.approx(0.6)
    assert s["microbatch_p90_s"] == pytest.approx(0.92)
    assert s["add_batch_s"] == pytest.approx(0.9)
    assert s["query_planning_s"] == pytest.approx(0.03)
    assert s["wal_commit_s"] == pytest.approx(0.015)
    assert s["state_rows"] == 10
    assert s["state_commit_s"] == pytest.approx(0.03)
    assert MicroBatchStats.summarize([])["batches"] == 0


# -- end-to-end estimators -------------------------------------------


def test_end_to_end_scales_each_querys_fastest_time_by_the_reference():
    import run as bench_run

    r = bench_run.Run("data")
    r.setup_s = [6.0, 8.0]
    for query, times in (("a", [2.0, 1.0, 1.5]), ("b", [4.0, 5.0, 6.0])):
        for i, t in enumerate(times):
            r.executions.append(bench_run.Execution(query, 2 + i, "timed", 0.0, t))
    r.executions.append(bench_run.Execution("a", 1, "warm", 0.0, 0.1))  # not timed
    nominal = bench_run.REFERENCE_NOMINAL_S
    # the reference ran at twice its nominal time: the machine was slow
    m = bench_run.end_to_end(r, [2 * nominal, 2 * nominal, 9.0])
    assert m["setup_s"] == 7.0
    assert m["pass_s"] == pytest.approx((1.0 + 4.0) / 2)
    assert m["query_geomean_s"] == pytest.approx(geomean([0.5, 2.0]))
