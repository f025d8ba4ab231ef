"""Session confs have one owner: ``session.scoped_conf`` restores what
it sets, even when blocks overlap across threads; no query leaves a
conf behind on its caller's session, also when queries run from
several threads at once; and nothing else in the package writes a
conf."""

from __future__ import annotations

import ast
import hashlib
import re
import threading
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest

from mapreduce_assignments_spark.session import scoped_conf

PKG = Path(__file__).resolve().parent.parent / "mapreduce_assignments_spark"


def test_scoped_conf_restores_explicit_values_and_unsets_the_rest(spark):
    set_key = "spark.sql.shuffle.partitions"
    unset_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = dict(spark.conf.getAll)
    assert set_key in before and unset_key not in before
    with scoped_conf(spark, {set_key: "7", unset_key: "false"}):
        assert spark.conf.get(set_key) == "7"
        assert spark.conf.get(unset_key) == "false"
    assert dict(spark.conf.getAll) == before
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, {set_key: "7", unset_key: "false"}):
            raise RuntimeError("body failed")
    assert dict(spark.conf.getAll) == before


def test_overlapping_scoped_conf_blocks_restore_the_session(spark):
    """Thread A enters a block; thread B enters one on the same key
    before A leaves, and leaves after A. Without serialization B saves
    A's value on entry and writes it back after A has restored the
    original. With it, B waits for A and the timeouts end the waits."""
    key = "spark.sql.shuffle.partitions"
    before = dict(spark.conf.getAll)
    a_in, b_in, a_out = threading.Event(), threading.Event(), threading.Event()

    def a():
        with scoped_conf(spark, {key: "7"}):
            a_in.set()
            b_in.wait(timeout=1)
        a_out.set()

    def b():
        a_in.wait(timeout=10)
        with scoped_conf(spark, {key: "9"}):
            b_in.set()
            a_out.wait(timeout=1)

    threads = [threading.Thread(target=f) for f in (a, b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert not any(t.is_alive() for t in threads)
    assert a_in.is_set() and b_in.is_set() and a_out.is_set()
    assert dict(spark.conf.getAll) == before


@pytest.mark.parametrize(
    "name",
    [
        "streaming_hourly_counts",
        "streaming_snapshot_sink",
        "streaming_session_stats",
        "streaming_quality_gate",
        "pagerank",
        "personalized_pagerank",
        "pagerank_convergence",
        "hits",
        "kcore",
        "bfs_hops",
        "harmonic_centrality",
        "lpa_communities",
        "dedup_clusters",
        "graph_components",
        "record_linkage",
        "random_projection",
        "hourly_counts",
    ],
)
def test_query_leaves_session_conf_unchanged(spark, sf_dir, name):
    from mapreduce_assignments_spark import workloads

    before = dict(spark.conf.getAll)
    workloads.ALL_QUERIES[name](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    assert dict(spark.conf.getAll) == before


# A mixed sample for eight threads: every loop family with private
# dials, the plain fixpoint loops and a stream replay (scoped dials).
_MIXED = (
    "pagerank",
    "personalized_pagerank",
    "hits",
    "kcore",
    "harmonic_centrality",
    "dedup_clusters",
    "streaming_hourly_counts",
    "pagerank",
)


def test_queries_on_eight_threads_match_serial_runs(spark, sf_dir):
    from mapreduce_assignments_spark import workloads

    def digest(name: str) -> str:
        rows = workloads.ALL_QUERIES[name](spark, sf_dir).collect()
        return hashlib.sha256(repr(sorted(map(repr, rows))).encode()).hexdigest()

    serial = {name: digest(name) for name in set(_MIXED)}
    before = dict(spark.conf.getAll)
    with ThreadPoolExecutor(max_workers=8) as pool:
        got = list(pool.map(digest, _MIXED))
    assert got == [serial[name] for name in _MIXED]
    assert dict(spark.conf.getAll) == before


def _conf_writes() -> list[tuple[str, str | None]]:
    """(module path, enclosing function) of every ``conf.set(`` /
    ``conf.unset(`` in the package source."""
    found = []
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text()
        funcs = [
            (n.lineno, n.end_lineno, n.name)
            for n in ast.walk(ast.parse(src))
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for lineno, line in enumerate(src.splitlines(), start=1):
            if re.search(r"conf\.(set|unset)\(", line):
                owners = [f for f in funcs if f[0] <= lineno <= f[1]]
                owner = min(owners, key=lambda f: f[1] - f[0])[2] if owners else None
                found.append((path.relative_to(PKG).as_posix(), owner))
    return found


def test_only_the_session_module_and_load_pins_write_confs():
    writes = _conf_writes()
    assert any(p == "session.py" for p, _ in writes)
    assert [w for w in writes if w[0] != "session.py"] == [
        ("sources/tables.py", "_load_table_uncached")
    ]
