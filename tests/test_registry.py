"""The query registry's structure: one module per family, each query's
builder and oracle in it, and the frozen ``DRIVER_WINDOW``. No Spark
session is started."""

from __future__ import annotations

import hashlib
import importlib
import importlib.util
import json
import pkgutil
import types
from collections import Counter
from pathlib import Path

import pytest

from mapreduce_assignments_spark import workloads

REPO = Path(__file__).resolve().parent.parent

# queries per family module; bench.py --full reports one subtotal per
# family, so a move between modules breaks comparability with older
# docs/bench_full_sf*.json records
FAMILY_SIZES = {
    "dedup": 31,
    "features": 13,
    "graph": 15,
    "index_retrieval": 13,
    "multimodal": 11,
    "packing": 2,
    "relational": 55,
    "sampling": 12,
    "similarity": 27,
    "sketches": 2,
    "skew_diag": 1,
    "sources": 7,
    "streaming": 12,
    "text": 8,
    "text_quality": 28,
    "timeseries": 25,
    "validation": 8,
}


def _load(name: str, path: Path):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _family_modules():
    return [
        importlib.import_module(f"{workloads.__name__}.{info.name}")
        for info in pkgutil.iter_modules(workloads.__path__)
        if not info.name.startswith("_")
    ]


def test_every_query_sits_in_one_family_module_with_its_oracle():
    seen: Counter[str] = Counter()
    for mod in _family_modules():
        fam = mod.__name__.rpartition(".")[2]
        built = {
            name[2:] for name, fn in vars(mod).items()
            if name.startswith("q_") and fn.__module__ == mod.__name__
        }
        own = getattr(mod.ORACLE, "maps", [mod.ORACLE])[0]
        assert set(own) == built, fam
        assert {q for q, f in workloads.FAMILY.items() if f == fam} == built
        seen.update(built)
    assert [q for q, n in seen.items() if n > 1] == []
    assert set(seen) == set(workloads.ALL_QUERIES) == set(workloads.ORACLE)


def test_bench_families_are_the_workloads_modules():
    bench = _load("bench", REPO / "bench.py")
    derived = {q: fam for fam, qs in bench.FAMILIES.items() for q in qs}
    assert derived == workloads.FAMILY
    assert Counter(workloads.FAMILY.values()) == FAMILY_SIZES


def _family(name: str, builders: tuple[str, ...], oracles: tuple[str, ...]):
    mod = types.ModuleType(f"fake_workloads.{name}")
    for q in builders:
        def build(spark, sf_dir):
            return None

        build.__module__ = mod.__name__
        setattr(mod, f"q_{q}", build)
    mod.ORACLE = {q: "SELECT 1" for q in oracles}
    return mod


def test_registry_assembles_families():
    queries, oracles, family = workloads._registry([
        _family("a", ("x", "y"), ("x", "y")),
        _family("b", ("z",), ("z",)),
    ])
    assert set(queries) == set(oracles) == {"x", "y", "z"}
    assert family == {"x": "a", "y": "a", "z": "b"}


def test_registry_rejects_an_oracle_in_the_wrong_module():
    with pytest.raises(AssertionError, match="share a module"):
        workloads._registry([
            _family("a", ("x", "y"), ("x",)),
            _family("b", ("z",), ("z", "y")),
        ])


def test_registry_rejects_a_builder_without_an_oracle():
    with pytest.raises(AssertionError, match=r"share a module: \['y'\]"):
        workloads._registry([_family("a", ("x", "y"), ("x",))])


def test_registry_rejects_a_query_in_two_families():
    with pytest.raises(AssertionError, match="two families"):
        workloads._registry([
            _family("a", ("x",), ("x",)),
            _family("b", ("x",), ("x",)),
        ])


def test_driver_window_is_frozen():
    """``__spark_entry__`` serves the 50 window queries and their
    oracles; a byte change in either changes that contract."""
    entry = _load("spark_entry", REPO / "__spark_entry__.py")
    assert list(entry.queries()) == list(workloads.DRIVER_WINDOW)
    digest = hashlib.sha256(json.dumps(entry.oracle_sql()).encode()).hexdigest()
    assert digest == "3b1bfc7dfc71f03e13bd33bc7b80cc54e07c3e012d2fca673ec8097829d73350"
