"""Hashing-trick TF vectors: sparse, deterministic, no vocabulary."""

from __future__ import annotations

import hashlib

import pytest

from mapreduce_assignments_spark.operators.features import hashing_tf


def _bucket(tok: str, n: int) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % n


def test_hashing_tf_hand_checked(spark):
    rows = [(1, "a b a c"), (2, "b b"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (list(r["indices"]), list(r["values"])) for r in hashing_tf(df, 16).collect()}
    exp1 = sorted((_bucket(t, 16), c) for t, c in {"a": 2, "b": 1, "c": 1}.items())
    assert got[1] == ([i for i, _ in exp1], [v for _, v in exp1])
    assert got[2] == ([_bucket("b", 16)], [2])
    assert got[3] == ([], [])  # empty doc -> empty vector, row kept


def test_hashing_tf_collisions_merge(spark):
    # n_features=1 collapses everything into bucket 0
    df = spark.createDataFrame([(1, "x y z z")], "doc_id long, text string")
    [r] = hashing_tf(df, 1).collect()
    assert (list(r["indices"]), list(r["values"])) == ([0], [4])


def test_hashing_tf_validates(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        hashing_tf(df, 0)


def test_hashing_tfidf_hand_checked(spark):
    import math

    from mapreduce_assignments_spark.operators.features import hashing_tfidf

    # 3 docs; token "a" in all 3 (df=3), "b" in one (df=1)
    rows = [(1, "a b"), (2, "a"), (3, "a a")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: dict(zip(r["indices"], r["values"])) for r in hashing_tfidf(df, 64).collect()}
    ba, bb = _bucket("a", 64), _bucket("b", 64)
    idf_a = math.log(4 / 4) + 1  # (N+1)/(df+1) = 4/4
    idf_b = math.log(4 / 2) + 1
    assert got[1][ba] == round(1 * idf_a, 6)
    assert got[1][bb] == round(1 * idf_b, 6)
    assert got[3][ba] == round(2 * idf_a, 6)


def test_hashing_tfidf_keeps_empty_docs(spark):
    from mapreduce_assignments_spark.operators.features import hashing_tfidf

    df = spark.createDataFrame([(1, "x"), (2, "")], "doc_id long, text string")
    got = {r["doc_id"]: (list(r["indices"]), list(r["values"])) for r in hashing_tfidf(df, 8).collect()}
    assert got[2] == ([], [])
    assert len(got[1][0]) == 1


def test_quantile_buckets_equi_depth(spark):
    import pytest

    from mapreduce_assignments_spark.operators.features import quantile_buckets

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 101)], "event_id long, value double"
    )
    out = quantile_buckets(df, "value", 4).collect()
    per = {}
    for r in out:
        per.setdefault(r["bucket"], []).append(r["value"])
    assert set(per) == {1, 2, 3, 4}
    assert all(len(v) == 25 for v in per.values())  # exact equi-depth
    # boundary lands LOW: 25.75 is the 0.25 split, so 25 is bucket 1
    assert max(per[1]) == 25.0 and min(per[2]) == 26.0
    with pytest.raises(ValueError):
        quantile_buckets(df, "value", 1)


def test_bpe_merges_hand_computed(spark):
    import pytest

    from mapreduce_assignments_spark.operators.features import bpe_merges

    df = spark.createDataFrame(
        [(1, "aa ab"), (2, "ab aa aa")], "doc_id long, text string"
    )
    # vocab: aa x3, ab x2. Round 1: (a,a)=3 wins -> 'aa' fuses.
    # Round 2: only (a,b)=2 remains. Round 3: no pairs left -> stop.
    rows = [
        (r["rank"], r["lhs"], r["rhs"], r["pair_cnt"])
        for r in bpe_merges(df, n_merges=5).orderBy("rank").collect()
    ]
    assert rows == [(1, "a", "a", 3), (2, "a", "b", 2)]
    with pytest.raises(ValueError):
        bpe_merges(df, n_merges=0)


def test_bpe_merges_greedy_left_to_right(spark):
    from mapreduce_assignments_spark.operators.features import bpe_merges

    # 'aaa' with merge (a,a): greedy left-to-right gives [aa, a], so
    # round 2's top pair is (aa, a)
    df = spark.createDataFrame([(1, "aaa aaa")], "doc_id long, text string")
    rows = [
        (r["rank"], r["lhs"], r["rhs"])
        for r in bpe_merges(df, n_merges=2).orderBy("rank").collect()
    ]
    assert rows == [(1, "a", "a"), (2, "aa", "a")]


def test_bpe_encode_applies_merges_in_rank_order(spark):
    from mapreduce_assignments_spark.operators.features import bpe_encode

    df = spark.createDataFrame([(1, "aab aab ab")], "doc_id long, text string")
    # merges applied in order: (a,a) then (aa,b)
    got = {
        r["subword"]: r["cnt"]
        for r in bpe_encode(df, [("a", "a"), ("aa", "b")]).collect()
    }
    # 'aab' -> [aa, b] -> [aab]; 'ab' has no 'aa' so stays [a, b]
    assert got == {"aab": 2, "a": 1, "b": 1}
    # empty merge list = plain character counts
    chars = {r["subword"]: r["cnt"] for r in bpe_encode(df, []).collect()}
    assert chars == {"a": 5, "b": 3}


def test_normalize_values_zscore_and_minmax(spark):
    from mapreduce_assignments_spark.operators.features import normalize_values

    df = spark.createDataFrame(
        [(1, "a", 0.0), (2, "a", 10.0), (3, "a", 20.0), (4, "b", 7.0)],
        "event_id long, event_type string, value double",
    )
    out = {
        r["event_id"]: (r["zscore"], r["minmax"])
        for r in normalize_values(df, "value", "event_type").collect()
    }
    assert out[1] == (-1.0, 0.0)
    assert out[2] == (0.0, 0.5)
    assert out[3] == (1.0, 1.0)
    # singleton group: no variance, degenerate range
    assert out[4] == (None, 0.5)


def test_normalize_values_ignores_nulls_in_stats(spark):
    """NULL values must not deflate mu/sd (round-10 advice): n counts
    non-NULL values, and the NULL row passes through with NULL
    z-score/min-max."""
    from mapreduce_assignments_spark.operators.features import normalize_values

    df = spark.createDataFrame(
        [(1, "a", 0.0), (2, "a", 10.0), (3, "a", 20.0), (4, "a", None)],
        "event_id long, event_type string, value double",
    )
    out = {
        r["event_id"]: (r["zscore"], r["minmax"])
        for r in normalize_values(df, "value", "event_type").collect()
    }
    # stats identical to the NULL-free 3-row group
    assert out[1] == (-1.0, 0.0)
    assert out[2] == (0.0, 0.5)
    assert out[3] == (1.0, 1.0)
    assert out[4] == (None, None)


def test_bpe_merges_pinned_merge_table(spark):
    """Merge table pinned from the earlier per-merge-job distributed
    trainer on the same input, tie-breaks included; the corpus runs
    out of pairs after 3 of the 4 requested merges."""
    import pytest

    from mapreduce_assignments_spark.operators.features import bpe_merges

    df = spark.createDataFrame(
        [(1, "abab abab cd"), (2, "abab cd cd ab"), (3, "")],
        "doc_id long, text string",
    )
    rows = [(r["rank"], r["lhs"], r["rhs"], r["pair_cnt"])
            for r in bpe_merges(df, n_merges=4).orderBy("rank").collect()]
    assert rows == [(1, "a", "b", 7), (2, "ab", "ab", 3), (3, "c", "d", 3)]
    with pytest.raises(ValueError):
        bpe_merges(df, n_merges=0)


def test_bpe_merges_query_is_a_few_jobs(spark, sf_dir):
    """Training is one pass over the word-count vocabulary, not a job
    pair per merge: the registered 5-merge query stays within a few
    jobs (the per-merge trainer ran 18)."""
    from mapreduce_assignments_spark import workloads

    sc = spark.sparkContext
    group = "bpe-merges-jobs"
    sc.setJobGroup(group, "bpe_merges build and write")
    try:
        workloads.ALL_QUERIES["bpe_merges"](spark, sf_dir).write.format(
            "noop"
        ).mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 6


def test_bpe_token_counts_hand_computed(spark):
    from mapreduce_assignments_spark.operators.features import bpe_token_counts

    df = spark.createDataFrame(
        [(1, "aab ab"), (2, ""), (3, "zz")], "doc_id long, text string"
    )
    # merges (a,a) then (aa,b): 'aab' -> [aab] (1 token), 'ab' -> [a,b]
    # (2 tokens), 'zz' untouched -> [z,z] (2 tokens); empty doc -> 0
    got = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe_token_counts(df, [("a", "a"), ("aa", "b")]).collect()
    }
    assert got == {1: 3, 2: 0, 3: 2}
    # empty merge table = plain character counts per doc
    plain = {
        r["doc_id"]: r["bpe_tokens"] for r in bpe_token_counts(df, []).collect()
    }
    assert plain == {1: 5, 2: 0, 3: 2}


def test_target_encoding_smoothing_pulls_to_global_mean(spark):
    from mapreduce_assignments_spark.operators.features import target_encoding

    df = spark.createDataFrame(
        [("a", 10.0)] * 8 + [("b", 100.0)] * 2,
        "cat string, y double",
    )
    rows = {r["category"]: r for r in target_encoding(df, "cat", "y", smoothing=2.0).collect()}
    # global mean = (80 + 200) / 10 = 28
    assert rows["a"]["n"] == 8 and rows["a"]["cat_mean"] == 10.0
    assert rows["a"]["encoded"] == pytest.approx((80 + 2 * 28.0) / 10, abs=1e-6)
    assert rows["b"]["encoded"] == pytest.approx((200 + 2 * 28.0) / 4, abs=1e-6)


def test_span_corruption_deterministic_and_bounded(spark):
    from mapreduce_assignments_spark.operators.features import span_corruption_stats

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, ""), (3, "one")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in span_corruption_stats(docs).collect()}
    assert rows[2]["n_tokens"] == 0 and rows[2]["n_masked"] == 0 and rows[2]["n_spans"] == 0
    r1 = rows[1]
    assert r1["n_tokens"] == 10
    assert 0 <= r1["n_masked"] <= 10
    assert r1["n_spans"] <= r1["n_masked"]
    # deterministic: a second run returns identical values
    again = {r["doc_id"]: r for r in span_corruption_stats(docs).collect()}
    assert again[1] == r1
