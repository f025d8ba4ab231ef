"""Session confs have one owner: ``session.scoped_conf`` restores what
it sets, no query leaves a conf behind on its caller's session, and
nothing else in the package writes a conf."""

from __future__ import annotations

import ast
import re
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


@pytest.mark.parametrize(
    "name",
    [
        "streaming_hourly_counts",
        "streaming_snapshot_sink",
        "streaming_session_stats",
        "streaming_quality_gate",
        "pagerank",
        "hits",
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
