"""Sequence packing: deterministic concatenate-and-chunk shards."""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
import pytest

from mapreduce_assignments_spark.operators.packing import pack_sequences


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


@pytest.fixture(scope="module")
def packed(spark):
    rows = [(i, 10 + (i * 7) % 90) for i in range(200)]  # tokens 10..99
    df = spark.createDataFrame(rows, "doc_id long, toks long")
    out = pack_sequences(df, "toks", budget=128, n_buckets=4).collect()
    return rows, out


def test_pack_matches_reference_scan(packed):
    """Python reimplementation of the contract: per-bucket (hash, id)
    order, exclusive prefix sum, chunk every 128 tokens."""
    rows, out = packed
    by_bucket: dict[int, list[tuple[int, int, int]]] = {}
    for i, t in rows:
        h = _h60(str(i))
        by_bucket.setdefault(h % 4, []).append((h, i, t))
    expect = {}
    for b, docs in by_bucket.items():
        start = 0
        for _, i, t in sorted(docs):
            local = start // 128
            expect[i] = (b, b * (1 << 32) + local, start - local * 128)
            start += t
    got = {r["doc_id"]: (r["bucket"], r["shard_id"], r["offset"]) for r in out}
    assert got == expect


def test_pack_invariants(packed):
    rows, out = packed
    assert len(out) == len(rows)  # nothing lost or duplicated
    for r in out:
        assert 0 <= r["offset"] < 128  # a doc always STARTS inside its shard
        assert r["shard_id"] >> 32 == r["bucket"]
    # shards are densely filled: within a shard, docs tile contiguously
    shards: dict[int, list] = {}
    for r in out:
        shards.setdefault(r["shard_id"], []).append(r)
    for members in shards.values():
        members.sort(key=lambda r: r["offset"])
        # same-shard docs are consecutive in the virtual stream, so
        # each starts exactly where the previous one ends (a spill
        # from the prior shard can only delay the shard's FIRST doc)
        for a, b in zip(members, members[1:]):
            assert b["offset"] == a["offset"] + a["toks"]


def test_pack_partitioning_invariant(spark):
    rows = [(i, 5 + i % 40) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, toks long")
    a = {r["doc_id"]: r["shard_id"] for r in pack_sequences(df, "toks", 64).collect()}
    b = {
        r["doc_id"]: r["shard_id"]
        for r in pack_sequences(df.repartition(11), "toks", 64).collect()
    }
    assert a == b


def test_pack_excludes_null_and_negative(spark):
    rows = [(1, 10), (2, None), (3, -5), (4, 0)]
    df = spark.createDataFrame(rows, "doc_id long, toks long")
    got = {r["doc_id"] for r in pack_sequences(df, "toks", 64).collect()}
    assert got == {1, 4}  # zero-token docs ride along


def test_pack_validates(spark):
    df = spark.createDataFrame([(1, 10)], "doc_id long, toks long")
    with pytest.raises(ValueError):
        pack_sequences(df, "toks", 0)
    with pytest.raises(ValueError):
        pack_sequences(df, "toks", 64, n_buckets=0)


def test_write_and_read_shard_roundtrip(spark, tmp_path):
    from mapreduce_assignments_spark.operators.packing import (
        pack_sequences,
        read_shard,
        write_packed_shards,
    )

    rows = [(i, 10 + i % 30, f"doc-{i}") for i in range(150)]
    df = spark.createDataFrame(rows, "doc_id long, toks long, text string")
    out = str(tmp_path / "shards")
    write_packed_shards(df, "toks", budget=100, path=out, n_buckets=4, payload_cols=("text",))

    assigned = {r["doc_id"]: r for r in pack_sequences(df, "toks", 100, n_buckets=4).collect()}
    some_shard = next(iter(assigned.values()))["shard_id"]
    got = read_shard(spark, out, some_shard).collect()
    assert got, "shard read returned nothing"
    # contents match the assignment, arrive offset-ordered with payload
    offsets = [r["offset"] for r in got]
    assert offsets == sorted(offsets)
    for r in got:
        a = assigned[r["doc_id"]]
        assert (a["shard_id"], a["offset"]) == (some_shard, r["offset"])
        assert r["text"] == f"doc-{r['doc_id']}"


def test_read_shard_is_partition_pruned(spark, tmp_path):
    from mapreduce_assignments_spark.operators.packing import (
        read_shard,
        write_packed_shards,
    )

    rows = [(i, 20) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, toks long")
    out = str(tmp_path / "shards")
    write_packed_shards(df, "toks", budget=64, path=out, n_buckets=8)
    plan = (
        read_shard(spark, out, (3 << 32) + 0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the bucket filter must reach the scan as a partition filter, not
    # a post-scan row filter over all 8 directories
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*\]", plan)
    assert m and "= 3)" in m.group(0), m.group(0) if m else "no partition filters"


def test_packing_efficiency_accounts_every_token(spark, monkeypatch):
    """Utilization = tokens / (shards * budget) per bucket, and the
    report's totals reconcile with the packer's input."""
    import pytest

    from mapreduce_assignments_spark import workloads

    docs = spark.createDataFrame(
        [(i, " ".join(["t"] * 100)) for i in range(50)],
        "doc_id long, text string",
    )
    monkeypatch.setattr(workloads.packing, "_docs", lambda spark, sf_dir: docs)
    rows = workloads.packing.q_packing_efficiency(spark, "unused").collect()
    assert sum(r["n_docs"] for r in rows) == 50
    assert sum(r["total_tokens"] for r in rows) == 5000
    for r in rows:
        assert 0 < r["utilization"] <= 1.0
        # Spark/DuckDB round HALF_UP; Python rounds half-to-even —
        # compare numerically instead
        assert r["utilization"] == pytest.approx(
            r["total_tokens"] / (r["n_shards"] * 512), abs=1e-6
        )
