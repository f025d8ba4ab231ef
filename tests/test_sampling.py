from __future__ import annotations

import pytest

from mapreduce_assignments_spark.operators.sampling import (
    deterministic_sample,
    hash_split,
)
from mapreduce_assignments_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_table(spark):
    return load_table(spark, SF_DIR, "documents")


def test_deterministic_sample_stable_and_sized(docs_table):
    a = {r["doc_id"] for r in deterministic_sample(docs_table, "doc_id", 0.25).collect()}
    b = {r["doc_id"] for r in deterministic_sample(docs_table, "doc_id", 0.25).collect()}
    assert a == b  # reproducible
    n = docs_table.count()
    assert 0.15 * n < len(a) < 0.35 * n  # roughly the asked fraction
    # monotone: a smaller fraction is a subset of a larger one
    small = {r["doc_id"] for r in deterministic_sample(docs_table, "doc_id", 0.10).collect()}
    assert small <= a
    with pytest.raises(ValueError):
        deterministic_sample(docs_table, "doc_id", 1.5)


def test_deterministic_sample_survives_repartition(docs_table):
    a = {r["doc_id"] for r in deterministic_sample(docs_table, "doc_id", 0.3).collect()}
    b = {
        r["doc_id"]
        for r in deterministic_sample(docs_table.repartition(13), "doc_id", 0.3).collect()
    }
    assert a == b


def test_hash_split_partitions_everything_once(docs_table):
    out = hash_split(docs_table, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    rows = out.select("doc_id", "split").collect()
    assert len(rows) == docs_table.count()
    by = {}
    for r in rows:
        by.setdefault(r["split"], set()).add(r["doc_id"])
    assert set(by) <= {"train", "val", "test"}
    assert len(by["train"]) > len(by.get("val", set()))
    # disjoint and total
    assert sum(len(v) for v in by.values()) == len(rows)
    # stable across runs
    again = hash_split(docs_table, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    assert {(r["doc_id"], r["split"]) for r in again.collect()} == {
        (r["doc_id"], r["split"]) for r in rows
    }
    with pytest.raises(ValueError):
        hash_split(docs_table, "doc_id", {"train": 0.5})


def test_split_consistent_with_sample(docs_table):
    """The first 10% split and a 0.1 sample select the same rows —
    both are views of the same hash ordering."""
    sample = {r["doc_id"] for r in deterministic_sample(docs_table, "doc_id", 0.1).collect()}
    split = hash_split(docs_table, "doc_id", {"a": 0.1, "b": 0.9})
    first = {r["doc_id"] for r in split.where("split = 'a'").collect()}
    assert sample == first


def test_stratified_sample_downsamples_named_strata(docs_table):
    from mapreduce_assignments_spark.operators.sampling import stratified_sample

    out = stratified_sample(
        docs_table, "doc_id", "lang", {"en": 0.25, "zh": 0.5}
    ).select("doc_id", "lang")
    rows = out.collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], set()).add(r["doc_id"])
    full = {}
    for r in docs_table.select("doc_id", "lang").collect():
        full.setdefault(r["lang"], set()).add(r["doc_id"])
    # unlisted strata pass through untouched
    for lang in full:
        if lang not in ("en", "zh"):
            assert by_lang.get(lang, set()) == full[lang]
    # named strata roughly downsampled, and strictly subsets
    assert by_lang["en"] < full["en"]
    assert len(by_lang["en"]) < 0.6 * len(full["en"])
    # subset property vs the unstratified sampler: the en rows kept at
    # 0.25 are EXACTLY deterministic_sample(0.25) restricted to en
    plain = {r["doc_id"] for r in deterministic_sample(docs_table, "doc_id", 0.25).collect()}
    assert by_lang["en"] == plain & full["en"]
    # stable across runs
    again = stratified_sample(docs_table, "doc_id", "lang", {"en": 0.25, "zh": 0.5})
    assert {r["doc_id"] for r in again.collect()} == {r["doc_id"] for r in rows}
    with pytest.raises(ValueError):
        stratified_sample(docs_table, "doc_id", "lang", {})
    with pytest.raises(ValueError):
        stratified_sample(docs_table, "doc_id", "lang", {"en": 1.5})


# ---------------------------------------------------------------------------
# weighted sampling (Efraimidis–Spirakis A-ES)

def test_weighted_sample_deterministic_and_sized(docs_table):
    from mapreduce_assignments_spark.operators.sampling import weighted_sample

    a = {r["doc_id"] for r in weighted_sample(docs_table, "doc_id", "n_chars", 20).collect()}
    b = {
        r["doc_id"]
        for r in weighted_sample(
            docs_table.repartition(13), "doc_id", "n_chars", 20
        ).collect()
    }
    assert a == b  # engine/partitioning independent
    assert len(a) == 20
    with pytest.raises(ValueError):
        weighted_sample(docs_table, "doc_id", "n_chars", 0)


def test_weighted_sample_prefers_heavy_rows(spark):
    from mapreduce_assignments_spark.operators.sampling import weighted_sample

    rows = [(i, 1.0 if i < 400 else 50.0) for i in range(800)]
    df = spark.createDataFrame(rows, "id long, w double")
    picked = weighted_sample(df, "id", "w", 100).collect()
    heavy = sum(1 for r in picked if r["w"] == 50.0)
    # heavy rows are 50x likelier per row; at n=100 of 800 the light
    # group should contribute only a handful
    assert heavy >= 85


def test_weighted_sample_excludes_nonpositive_weights(spark):
    from mapreduce_assignments_spark.operators.sampling import weighted_sample

    rows = [(1, 0.0), (2, -3.0), (3, None), (4, 5.0), (5, 5.0)]
    df = spark.createDataFrame(rows, "id long, w double")
    got = {r["id"] for r in weighted_sample(df, "id", "w", 10).collect()}
    assert got == {4, 5}


def test_weighted_sample_inclusion_proportional_to_weight(spark):
    """Statistical contract of A-ES: with small n/N, an item's
    inclusion probability is ~ n * w / W. Population: 100 light (w=1)
    + 100 heavy (w=4), n=20 → heavy expects 16 of 20 picks (80%).
    40 independent draws (fresh hash namespace per draw) give a fixed,
    deterministic aggregate; the asserted band is >10 sigma wide, so a
    failure means the estimator is wrong, not unlucky."""
    import pyspark.sql.functions as F

    from mapreduce_assignments_spark.operators.sampling import weighted_sample

    df = (
        spark.range(40 * 200)
        .select(
            F.concat(F.lit("d"), (F.col("id") / 200).cast("int"), F.lit("-"), F.col("id")).alias("key"),
            (F.col("id") / 200).cast("int").alias("draw"),
            F.when((F.col("id") % 200) < 100, 1.0).otherwise(4.0).alias("w"),
        )
    )
    heavy = light = 0
    for d in range(40):
        picked = weighted_sample(df.where(F.col("draw") == d), "key", "w", 20).collect()
        heavy += sum(1 for r in picked if r["w"] == 4.0)
        light += sum(1 for r in picked if r["w"] == 1.0)
    frac = heavy / (heavy + light)
    assert 0.75 <= frac <= 0.85, frac


def test_weighted_sample_topn_nesting(docs_table):
    """The n=10 sample is a strict subset of the n=25 sample — scores
    are fixed per row, so growing n only ADDS rows (the property that
    lets a pipeline enlarge a sample without resampling)."""
    from mapreduce_assignments_spark.operators.sampling import weighted_sample

    small = {r["doc_id"] for r in weighted_sample(docs_table, "doc_id", "n_chars", 10).collect()}
    large = {r["doc_id"] for r in weighted_sample(docs_table, "doc_id", "n_chars", 25).collect()}
    assert small < large


def test_per_key_sample_sizes_and_determinism(spark, docs_table):
    from mapreduce_assignments_spark.operators.sampling import per_key_sample

    out = per_key_sample(docs_table, "source", "doc_id", 3)
    rows = out.collect()
    per_group: dict[str, list[int]] = {}
    for r in rows:
        per_group.setdefault(r["source"], []).append(r["sample_rank"])
    for ranks in per_group.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)) and len(ranks) <= 3
    # deterministic under repartitioning
    a = {(r["source"], r["doc_id"]) for r in rows}
    b = {
        (r["source"], r["doc_id"])
        for r in per_key_sample(docs_table.repartition(13), "source", "doc_id", 3).collect()
    }
    assert a == b


def test_per_key_sample_null_and_validation(spark):
    from mapreduce_assignments_spark.operators.sampling import per_key_sample

    df = spark.createDataFrame(
        [("g", 1), ("g", 2), (None, 3), ("h", None)],
        "grp string, id long",
    )
    got = per_key_sample(df, "grp", "id", 5).collect()
    assert {(r["grp"], r["id"]) for r in got} == {("g", 1), ("g", 2)}
    with pytest.raises(ValueError):
        per_key_sample(df, "grp", "id", 0)


def test_shuffle_shards_deterministic_permutation(spark, docs_table):
    from mapreduce_assignments_spark.operators.sampling import shuffle_shards

    base = docs_table.select("doc_id")
    a = {(r["doc_id"]): (r["shard"], r["pos"]) for r in shuffle_shards(base, "doc_id", 8, "s1").collect()}
    b = {(r["doc_id"]): (r["shard"], r["pos"]) for r in shuffle_shards(base.repartition(11), "doc_id", 8, "s1").collect()}
    assert a == b  # pure function of (seed, key): partitioning-invariant
    c = {(r["doc_id"]): (r["shard"], r["pos"]) for r in shuffle_shards(base, "doc_id", 8, "s2").collect()}
    assert a != c  # a new seed is a fresh permutation
    # every shard's positions are dense 1..len
    per_shard: dict[int, list[int]] = {}
    for shard, pos in a.values():
        per_shard.setdefault(shard, []).append(pos)
    assert set(per_shard) <= set(range(8))
    for ps in per_shard.values():
        assert sorted(ps) == list(range(1, len(ps) + 1))
    with pytest.raises(ValueError):
        shuffle_shards(base, "doc_id", 0)


def test_balance_classes_minority_size_and_determinism(spark):
    from mapreduce_assignments_spark.operators.sampling import balance_classes

    rows = [(i, "big") for i in range(20)] + [(100 + i, "small") for i in range(3)]
    df = spark.createDataFrame(rows, "k long, label string")
    out = balance_classes(df, "label", "k")
    got = [(r["k"], r["label"]) for r in out.collect()]
    per_class = {}
    for k, lbl in got:
        per_class.setdefault(lbl, set()).add(k)
    # every class downsampled to the minority size
    assert {lbl: len(ks) for lbl, ks in per_class.items()} == {"big": 3, "small": 3}
    assert per_class["small"] == {100, 101, 102}  # minority kept whole
    # deterministic: a second run (different partitioning) keeps the
    # SAME rows
    again = balance_classes(df.repartition(7), "label", "k")
    assert sorted(got) == sorted((r["k"], r["label"]) for r in again.collect())


def test_corpus_mix_downsamples_toward_targets(spark, monkeypatch):
    """With a budget far below the corpus, kept token volume per
    source lands near weight*budget (hash-Bernoulli expectation), and
    sources outside the weight table are dropped."""
    import pyspark.sql.functions as F

    from mapreduce_assignments_spark import workloads

    rows = [
        (i, " ".join(["tok"] * 20), "srcA" if i % 2 else "srcB")
        for i in range(400)
    ] + [(10_000, "tok tok", "srcC")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    monkeypatch.setattr(workloads.sampling, "_docs", lambda spark, sf_dir: docs)
    monkeypatch.setattr(workloads.sampling, "_MIX_WEIGHTS", [("srcA", 0.75), ("srcB", 0.25)])
    monkeypatch.setattr(workloads.sampling, "_MIX_BUDGET", 2_000)
    out = {r["source"]: r for r in workloads.sampling.q_corpus_mix(spark, "unused").collect()}
    assert set(out) == {"srcA", "srcB"}  # srcC unweighted -> dropped
    # targets: A 1500 of 4000 tokens, B 500 of 4000; hash-Bernoulli
    # should land within a generous band around the target
    assert 0.5 * 1500 <= out["srcA"]["kept_tokens"] <= 1.5 * 1500
    assert 0.3 * 500 <= out["srcB"]["kept_tokens"] <= 2.0 * 500
    assert out["srcA"]["total_tokens"] == 4000
    assert out["srcA"]["target_tokens"] == 1500.0


def test_temporal_split_boundaries(spark):
    from datetime import datetime
    from mapreduce_assignments_spark.operators.sampling import temporal_split

    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 10)), (2, datetime(2024, 1, 20)),
         (3, datetime(2024, 1, 24, 23, 59, 59)), (4, datetime(2024, 2, 1))],
        "id int, ts timestamp",
    )
    rows = {r["id"]: r["split"] for r in temporal_split(
        df, "ts", [("train", "2024-01-20"), ("val", "2024-01-25")]
    ).collect()}
    # upper bounds are exclusive; exactly-at-cutoff rolls to the next split
    assert rows == {1: "train", 2: "val", 3: "val", 4: "test"}


def test_temporal_split_requires_cutoffs(spark):
    from mapreduce_assignments_spark.operators.sampling import temporal_split

    import pyspark.sql.functions as F

    df = spark.range(1).withColumn("ts", F.current_timestamp())
    with pytest.raises(ValueError):
        temporal_split(df, "ts", [])


def test_temperature_weights_flatten_toward_uniform(spark):
    """T=1 reproduces natural shares; higher T upsamples the small
    source (upsample_factor > 1) and downsamples the big one, with
    weights still summing to 1."""
    from mapreduce_assignments_spark.operators.sampling import (
        temperature_weights,
    )

    df = spark.createDataFrame(
        [("big", 900), ("small", 100)],
        "source string, n_chars long",
    )
    t1 = {r["source"]: r for r in
          temperature_weights(df, temperature=1.0).collect()}
    assert t1["big"]["weight"] == t1["big"]["nat_share"] == 0.9
    assert t1["big"]["upsample_factor"] == 1.0

    t5 = {r["source"]: r for r in
          temperature_weights(df, temperature=5.0).collect()}
    assert abs(t5["big"]["weight"] + t5["small"]["weight"] - 1.0) < 1e-6
    assert t5["small"]["upsample_factor"] > 1.0 > t5["big"]["upsample_factor"]
    # T=5 sits between natural (0.9) and uniform (0.5)
    assert 0.5 < t5["big"]["weight"] < 0.9


def test_dsir_weights_favors_target_like_docs(spark):
    """DSIR (Xie et al. 2023): documents whose token distribution
    matches the target sample score above documents that don't, and
    a doc FROM the target slice scores highest of all."""
    from mapreduce_assignments_spark.operators.sampling import dsir_weights

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta alpha beta gamma", "tgt"),
            (2, "alpha beta beta alpha", "web"),      # target-like
            (3, "zzz qqq vvv kkk jjj", "web"),        # nothing shared
        ],
        "doc_id long, text string, source string",
    )
    target = corpus.where("source = 'tgt'")
    rows = {r["doc_id"]: r for r in
            dsir_weights(corpus, target, n_buckets=64).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["n_tokens"] == 5
    # ordering is the DSIR contract: exact-target doc > target-like
    # doc > disjoint doc (absolute sign depends on the smoothing
    # denominators, which dominate at toy scale)
    assert rows[1]["weight"] > rows[2]["weight"] > rows[3]["weight"]
    # the disjoint doc's buckets have t_cnt=0, so its weight equals
    # the pure smoothing floor — strictly below the shared-token docs
    assert rows[3]["weight"] < rows[2]["weight"] - 0.1


def test_dsir_weights_target_normalizer_counts_full_target(spark):
    """The target normalizer t_tot must count the WHOLE target sample,
    including tokens hashing to buckets the corpus never hits (review
    finding: a left join from the corpus side silently dropped
    target-only buckets, shifting every weight by a constant)."""
    import math

    from mapreduce_assignments_spark.operators.sampling import dsir_weights

    B = 64
    corpus = spark.createDataFrame(
        [(1, "aa aa", "web")], "doc_id long, text string, source string"
    )
    # 3 of the target's 4 tokens are vocabulary the corpus lacks
    target = spark.createDataFrame(
        [(9, "aa zz yy xx", "tgt")], "doc_id long, text string, source string"
    )
    row = dsir_weights(corpus, target, n_buckets=B).collect()[0]
    # manual formula with the FULL target count (t_tot = 4, c_tot = 2;
    # bucket of 'aa' has t_cnt = 1, c_cnt = 2) — assumes no hash
    # collision between 'aa' and the others at 64 buckets, which the
    # deterministic md5 bucketing makes a fixed, checkable fact
    expect = math.log((1 + 1.0) / (4 + B)) - math.log((2 + 1.0) / (2 + B))
    assert row["n_tokens"] == 2
    assert abs(row["weight"] - round(expect, 6)) < 1e-9


def test_unimax_allocation_water_fill_hand_checked(spark):
    """3 sources, budget = half of 130 = 65, epoch cap 2: the small
    source caps at full capacity (epochs = 2), the other two share
    the remaining budget at one common water level."""
    from mapreduce_assignments_spark.operators.sampling import unimax_allocation

    rows = [("a", 10), ("b", 20), ("c", 100)]
    df = spark.createDataFrame(rows, "source string, n_chars long")
    got = {
        r["source"]: r
        for r in unimax_allocation(
            df, budget_frac=0.5, max_epochs=2.0
        ).collect()
    }
    assert got["a"]["capped"] and got["a"]["allocation"] == 20.0
    assert got["a"]["epochs"] == 2.0
    # level = (65 - 20) / 2 = 22.5 for both uncapped sources
    assert not got["b"]["capped"] and got["b"]["allocation"] == 22.5
    assert not got["c"]["capped"] and got["c"]["allocation"] == 22.5
    assert got["b"]["epochs"] == 1.125 and got["c"]["epochs"] == 0.225
    # allocations exhaust the budget exactly
    assert sum(r["allocation"] for r in got.values()) == 65.0


def test_unimax_allocation_all_capped_when_budget_exceeds_capacity(spark):
    """A budget above total capacity caps every source at max_epochs
    (no uncapped source exists to take a water level)."""
    from mapreduce_assignments_spark.operators.sampling import unimax_allocation

    df = spark.createDataFrame(
        [("a", 10), ("b", 30)], "source string, n_chars long"
    )
    # budget = 2.0 * 40 = 80 > capacity 40 * 1.5 = 60
    out = unimax_allocation(df, budget_frac=2.0, max_epochs=1.5).collect()
    assert all(r["capped"] for r in out)
    assert {r["source"]: r["epochs"] for r in out} == {"a": 1.5, "b": 1.5}
