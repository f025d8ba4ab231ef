from __future__ import annotations

import pytest

from mapreduce_assignments_spark.operators.dedup import (
    exact_duplicates,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingles,
    simhash,
)


@pytest.fixture(scope="module")
def dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, near),  # near dup of 1
        (4, "completely different content about spark partitions and shuffles"),
        (5, "another unrelated document mentioning joins aggregations and scans"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(dup_docs):
    out = {r["keeper"]: r["n_dups"] for r in exact_duplicates(dup_docs).collect()}
    assert out[1] == 2
    assert out[3] == 1
    assert out[4] == 1
    assert 2 not in out


def test_shingles_distinct_and_count(spark):
    df = spark.createDataFrame([(1, "a b a b a b")], "doc_id long, text string")
    out = [r["shingle"] for r in shingles(df, n=3).collect()]
    assert sorted(out) == ["a b a", "b a b"]  # distinct within doc


def test_ngram_jaccard_finds_near_dup(dup_docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(dup_docs, n=3, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == pytest.approx(1.0)
    assert (1, 3) in pairs
    assert 0.5 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs and (4, 5) not in pairs


def test_minhash_estimates_jaccard(dup_docs):
    cands = {
        (r["doc_a"], r["doc_b"]): r["est_sim"]
        for r in minhash_lsh_candidates(dup_docs, n=3, threshold=0.0).collect()
    }
    assert cands[(1, 2)] == pytest.approx(1.0)  # identical docs agree on all hashes
    assert (1, 3) in cands and cands[(1, 3)] > 0.4
    assert (1, 4) not in cands  # no shared band for unrelated docs


def test_minhash_signature_shape(dup_docs):
    sigs = minhash_signatures(dup_docs).collect()
    assert all(len(r["sig"]) == 32 for r in sigs)
    by_id = {r["doc_id"]: r["sig"] for r in sigs}
    assert by_id[1] == by_id[2]


def test_simhash_similar_docs_close(dup_docs):
    out = {r["doc_id"]: r["simhash"] for r in simhash(dup_docs).collect()}
    assert out[1] == out[2]

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(out[1], out[3]) < hamming(out[1], out[4])
    assert 0 <= out[1] < 2**32


def test_simhash_near_dupes_pigeonhole(spark):
    from mapreduce_assignments_spark.operators.dedup import simhash, simhash_near_dupes

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),   # exact dup
        (3, "alpha beta gamma delta epsilon zeta eta iota"),    # near dup
        (4, "one two three four five six seven eight"),         # unrelated
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_dupes(docs, bits=32, max_hamming=6).collect()
    }
    assert pairs[(1, 2)] == 0
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(docs, bits=32).collect()}
    for (a, b), h in pairs.items():
        assert bin(sigs[a] ^ sigs[b]).count("1") == h
        assert h <= 6
    # brute-force verification: every pair within budget is found
    import itertools
    for a, b in itertools.combinations(sorted(sigs), 2):
        h = bin(sigs[a] ^ sigs[b]).count("1")
        assert ((a, b) in pairs) == (h <= 6)

    with pytest.raises(ValueError):
        simhash_near_dupes(docs, max_hamming=-1)


def test_ngram_jaccard_shingle_df_cap(spark):
    from mapreduce_assignments_spark.operators.dedup import (
        containment_pairs,
        exact_jaccard_for_pairs,
    )

    # doc 1/2 share only boilerplate shingles, doc 3/4 distinctive
    # content; every shared shingle has df=2.
    rows = [
        (1, "common common common common unique1 a b"),
        (2, "common common common common unique2 c d"),
        (3, "rare alpha beta gamma delta x y"),
        (4, "rare alpha beta gamma delta x z"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for op in (ngram_jaccard_pairs, containment_pairs):
        uncapped = {
            tuple(sorted(r[:2])) for r in op(docs, n=3, threshold=0.01).collect()
        }
        assert uncapped == {(1, 2), (3, 4)}, op.__name__
        # cap=1 drops every shingle held by more than one document,
        # so no pair can share a shingle any more
        capped = op(docs, n=3, threshold=0.01, shingle_df_cap=1).collect()
        assert capped == [], op.__name__
        # out-of-contract inputs fail loudly: n < 1 would pair disjoint
        # documents through one empty shingle each, and a cap below 1
        # would drop every shingle
        for bad in ({"n": 0}, {"shingle_df_cap": 0}, {"shingle_df_cap": -1}):
            with pytest.raises(ValueError):
                op(docs, threshold=0.01, **bad)
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    with pytest.raises(ValueError):
        exact_jaccard_for_pairs(docs, pairs, n=0)


def test_dedup_clusters_multi_hop_chain(spark):
    """A~B, B~C (A never directly paired with C) must still land in
    one cluster with canonical=min; disjoint pair D~E stays separate;
    unpaired docs don't appear."""
    from mapreduce_assignments_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(20, 10), (20, 30), (40, 50)], "doc_a long, doc_b long"
    )
    rows = {r["doc_id"]: (r["canonical_id"], r["cluster_size"])
            for r in dedup_clusters(pairs).collect()}
    assert rows == {
        10: (10, 3), 20: (10, 3), 30: (10, 3),
        40: (40, 2), 50: (40, 2),
    }


def test_dedup_clusters_long_chain_and_determinism(spark):
    """A 12-hop path graph converges (diameter > a couple of rounds)
    and repeated runs agree exactly."""
    from mapreduce_assignments_spark.operators.dedup import dedup_clusters

    edges = [(i, i + 1) for i in range(12)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    out1 = sorted(map(tuple, dedup_clusters(pairs).collect()))
    out2 = sorted(map(tuple, dedup_clusters(pairs).collect()))
    assert out1 == out2
    assert all(c == 0 and n == 13 for _, c, n in out1)
    assert len(out1) == 13


def test_contamination_flags_exact_ngram_overlap(spark):
    """Doc 1 contains benchmark doc 100's 4-gram verbatim (2 distinct
    shared 4-grams via a 5-token overlap); doc 2 shares nothing; the
    benchmark doc itself is not in the corpus side."""
    from mapreduce_assignments_spark.operators.dedup import contamination_flags

    bench = spark.createDataFrame(
        [(100, "the secret eval answer is forty two")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "leaked copy the secret eval answer is here"),
            (2, "completely unrelated text with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["n_hits"] for r in contamination_flags(corpus, bench, n=4).collect()}
    # doc 1 shares "the secret eval answer" and "secret eval answer is"
    assert rows == {1: 2}


def test_simhash_bits_bounds(spark):
    """bits=63 would need the literal 1 << 63, which overflows Spark's
    signed LongType — the parameter is guarded (round-4 ADVICE)."""
    from mapreduce_assignments_spark.operators.dedup import simhash

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        simhash(docs, bits=63)
    with pytest.raises(ValueError):
        simhash(docs, bits=0)
    # the documented max works end-to-end
    assert simhash(docs, bits=62).count() == 1


def test_verified_near_dupes_two_stage(spark):
    from mapreduce_assignments_spark.operators.dedup import verified_near_dupes

    base = "the quick brown fox jumps over the lazy dog and keeps on running home"
    near = base.replace("lazy", "hazy")          # 1 edit, same shingle mass
    far = "completely different text about spark physical plans and shuffles here"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far), (4, far)],  # 3/4 exact dupes
        "doc_id long, text string",
    )
    rows = {
        (r["doc_a"], r["doc_b"]): r
        for r in verified_near_dupes(df, est_threshold=0.3, max_dist_ratio=0.3).collect()
    }
    assert (1, 2) in rows and (3, 4) in rows
    r12 = rows[(1, 2)]
    assert r12["dist"] == 1
    assert 0.0 < r12["dist_ratio"] <= 0.02
    assert rows[(3, 4)]["dist"] == 0 and rows[(3, 4)]["est_sim"] == 1.0
    # cross pairs (base vs far) never survive candidate generation
    assert all(a in (1, 3) and b in (2, 4) for a, b in rows)


def test_verified_near_dupes_length_prefilter(spark):
    """A pair whose length gap alone exceeds the ratio gate is dropped
    even if the texts share every shingle (prefix duplication)."""
    from mapreduce_assignments_spark.operators.dedup import verified_near_dupes

    short = "alpha beta gamma delta epsilon zeta"
    long = (short + " ") * 5 + short
    df = spark.createDataFrame([(1, short), (2, long)], "doc_id long, text string")
    out = verified_near_dupes(df, est_threshold=0.0, max_dist_ratio=0.3).collect()
    assert out == []


def test_source_overlap_exact_jaccard(spark):
    from mapreduce_assignments_spark.operators.dedup import source_overlap

    df = spark.createDataFrame(
        [
            (1, "a b c d", "s1"),       # shingles: {a b c, b c d}
            (2, "a b c x", "s2"),       # shingles: {a b c, b c x}
            (3, "p q r s", "s3"),       # disjoint
        ],
        "doc_id long, text string, source string",
    )
    rows = {
        (r["source_a"], r["source_b"]): (r["inter"], r["jaccard"])
        for r in source_overlap(df).collect()
    }
    # s1 ∩ s2 = {a b c}: 1 / (2 + 2 - 1)
    assert rows == {("s1", "s2"): (1, round(1 / 3, 6))}


def test_containment_pairs_asymmetric(spark):
    from mapreduce_assignments_spark.operators.dedup import containment_pairs

    short = "alpha beta gamma delta"
    long = short + " epsilon zeta eta theta iota kappa " + short
    other = "totally different words in here entirely now"
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, other)], "doc_id long, text string"
    )
    rows = {
        (r["doc_id"], r["container_id"]): r["containment"]
        for r in containment_pairs(df, threshold=0.5).collect()
    }
    # the short doc is FULLY contained in the long one...
    assert rows[(1, 2)] == 1.0
    # ...but the long one is only partially contained in the short
    # (asymmetric), and below the 0.5 gate
    assert (2, 1) not in rows
    assert all(3 not in pair for pair in rows)


def test_split_leakage_counts_cross_split_pairs(spark):
    import pyspark.sql.functions as F

    from mapreduce_assignments_spark.operators.dedup import split_leakage

    cands = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5)], "doc_a long, doc_b long"
    )
    splits = spark.createDataFrame(
        [(1, "train"), (2, "test"), (3, "train"), (4, "val"), (5, "val")],
        "doc_id long, split string",
    )
    got = {
        (r["split_lo"], r["split_hi"]): r["n_pairs"]
        for r in split_leakage(cands, splits).collect()
    }
    # (1,2) train-test leaks; (2,3) test-train leaks (canonicalized to
    # the same unordered pair); (1,3) and (4,5) are same-split
    assert got == {("test", "train"): 2}


def test_incremental_dedup_keeps_unseen_min_id(spark):
    from mapreduce_assignments_spark.operators.dedup import incremental_dedup

    import pyspark.sql.functions as F

    new = spark.createDataFrame(
        [
            (10, "fresh text"),
            (11, "fresh text"),       # within-batch dup: 10 survives
            (12, "already ingested"), # cross-batch dup: dropped
            (13, "also new"),
        ],
        "doc_id long, text string",
    )
    seen = spark.createDataFrame(
        [("already ingested",)], "text string"
    ).select(F.md5("text").alias("digest"))
    got = {r["doc_id"] for r in incremental_dedup(new, seen).collect()}
    assert got == {10, 13}


def test_ngram_novelty_hand_checked(spark):
    from mapreduce_assignments_spark.operators.dedup import ngram_novelty

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),   # grams: "a b c", "b c d"
            (2, "a b c x"),   # grams: "a b c", "b c x"
            (3, "z z z q"),   # grams: "z z z", "z z q" — all unique
            (4, "xy"),        # too short: absent from the report
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["shared_grams"], r["novelty"])
        for r in ngram_novelty(docs, n=3).collect()
    }
    assert got == {1: (2, 1, 0.5), 2: (2, 1, 0.5), 3: (2, 0, 1.0)}


def test_record_linkage_blocking_and_distance(spark):
    from mapreduce_assignments_spark.operators.dedup import record_linkage_pairs

    df = spark.createDataFrame(
        [
            (1, "smith john", "A"),
            (2, "smith jon", "A"),    # distance 1, same block
            (3, "smith john", "B"),   # identical name, DIFFERENT block
            (4, "wholly different", "A"),
            (5, None, "A"),           # null name excluded
        ],
        "id long, name string, blk string",
    )
    rows = record_linkage_pairs(
        df, id_col="id", name_col="name", block_cols=["blk"], max_distance=2
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["distance"] for r in rows}
    # cross-block identical names do NOT pair (blocking contract);
    # only the in-block near-match survives
    assert got == {(1, 2): 1}


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _python_cap(pairs, k):
    """Reference cap: rank every pair from both endpoints by
    (distance, partner id); keep the pairs either endpoint ranks <= k."""
    from collections import defaultdict

    cands = defaultdict(list)
    for a, b, _na, _nb, d in pairs:
        cands[a].append((d, b))
        cands[b].append((d, a))
    keep = set()
    for rid, lst in cands.items():
        for _d, oid in sorted(lst)[:k]:
            keep.add((min(rid, oid), max(rid, oid)))
    return {p for p in pairs if (p[0], p[1]) in keep}


def test_record_linkage_equals_brute_force(spark):
    """The symmetric-deletion candidate generator, the class-level
    verify and the in-row id expansion are EXACT: on an adversarial
    corpus (dense near-duplicates, repeated characters, length
    differences, 1-char names, exact repeats) and on a 3x replica of
    it with fresh ids, the output equals a pure-Python all-pairs
    Levenshtein within each block, for tau in {0, 1, 2}, uncapped and
    capped at k in {1, 3}. A NULL-id record never pairs, and an id
    listed under two names never pairs with itself."""
    from mapreduce_assignments_spark.operators.dedup import record_linkage_pairs

    names = [
        "aaaa", "aaab", "aab", "abab", "ba", "b", "x",
        "customer#001", "customer#002", "customer#012", "custmer#001",
        "mississippi", "misisipi", "mississippti",
        "aaaa", "customer#001",  # exact repeats in their originals' block
    ]
    base = [(i, n, chr(65 + i % 2)) for i, n in enumerate(names)]
    base.append((2, "aaaa", "A"))  # id 2 under a second name: no (2, 2) pair
    replica = [(i + 100 * r, n, b) for r in range(3) for i, n, b in base]
    for rows in (base, replica):
        df = spark.createDataFrame(
            rows + [(None, "aaaa", "A")], "id long, name string, blk string"
        )
        for tau in (0, 1, 2):
            exact = {
                (a, b, na, nb, _levenshtein(na, nb))
                for a, na, ba in rows
                for b, nb, bb in rows
                if ba == bb and a < b and _levenshtein(na, nb) <= tau
            }
            for k in (None, 1, 3):
                got = [
                    tuple(r) for r in record_linkage_pairs(
                        df, "id", "name", ["blk"], max_distance=tau,
                        max_pairs_per_record=k,
                    ).collect()
                ]
                want = exact if k is None else _python_cap(exact, k)
                assert len(got) == len(set(got))  # no pair emitted twice
                assert set(got) == want, (len(rows), tau, k, set(got) ^ want)


def test_record_linkage_null_id_never_pairs(spark):
    """A NULL id is not a record identity: it must not pair, on
    repeated names (where the same-name arm expands class id arrays)
    or otherwise."""
    from mapreduce_assignments_spark.operators.dedup import record_linkage_pairs

    df = spark.createDataFrame(
        [
            (1, "smith john", "A"),
            (None, "smith john", "A"),
            (3, "smith jon", "A"),
            (4, "smith jon", "A"),
            (5, "wholly different", "A"),
        ],
        "id long, name string, blk string",
    )
    got = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in record_linkage_pairs(df, "id", "name", ["blk"]).collect()
    }
    assert got == {(1, 3, 1), (1, 4, 1), (3, 4, 0)}


def test_record_linkage_construction_has_no_stat_gate(spark):
    """Building the plan (capped or not) scans no statistics: the only
    jobs are the shuffle stages AQE runs when the first lazy verify
    barrier is built (2 here; an eager count gate made it 7). A
    distance outside the exact range 0..2 fails loudly."""
    from mapreduce_assignments_spark.operators.dedup import record_linkage_pairs
    from mapreduce_assignments_spark.sources.tables import load_table

    cust = load_table(spark, "/root/testdata/sf0.001", "customer")
    sc = spark.sparkContext
    group = "record-linkage-construct"
    for k in (None, 3):
        sc.setJobGroup(f"{group}-{k}", "record_linkage_pairs construction")
        try:
            record_linkage_pairs(
                cust, "c_custkey", "c_name", ["c_nationkey"],
                max_pairs_per_record=k,
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(sc.statusTracker().getJobIdsForGroup(f"{group}-{k}")) <= 2
    for tau in (3, -1):
        with pytest.raises(ValueError):
            record_linkage_pairs(
                cust, "c_custkey", "c_name", ["c_nationkey"], max_distance=tau
            )


def test_record_linkage_max_pairs_cap_properties(spark):
    """The output-cardinality knob (round-7 VERDICT item 3):
    capped result is a subset of the exact result, every record keeps
    its k closest matches (OR-semantics: either endpoint's vote
    retains the pair), total output <= 2*k*n, and k=None stays exact."""
    from mapreduce_assignments_spark.operators.dedup import record_linkage_pairs

    # one low-entropy block: dense sequential names -> pair blowup
    names = [f"customer#{i:03d}" for i in range(20)] + [
        "mississippi", "misisipi", "mississippti", "x", "zz",
    ]
    df = spark.createDataFrame(
        [(i, n, "A") for i, n in enumerate(names)],
        "id long, name string, blk string",
    )
    exact = {
        tuple(r) for r in record_linkage_pairs(
            df, "id", "name", ["blk"], max_distance=2
        ).collect()
    }
    assert len(exact) > 2 * len(names), "fixture must be pair-dense"
    for k in (1, 3):
        capped = {
            tuple(r) for r in record_linkage_pairs(
                df, "id", "name", ["blk"], max_distance=2,
                max_pairs_per_record=k,
            ).collect()
        }
        assert capped <= exact
        assert len(capped) <= 2 * k * len(names)
        # every record that HAS matches keeps its single closest one
        # (rank-1 by (distance, partner id) can't be evicted under OR)
        best: dict[int, tuple] = {}
        for (a, b, _na, _nb, d) in exact:
            for rid, oid in ((a, b), (b, a)):
                cur = best.get(rid)
                if cur is None or (d, oid) < cur[:2]:
                    best[rid] = (d, oid, (a, b))
        for rid, (_d, _oid, pair) in best.items():
            assert any((p[0], p[1]) == pair for p in capped), (
                f"record {rid} lost its closest match {pair}"
            )
    # default stays exact
    assert {
        tuple(r) for r in record_linkage_pairs(
            df, "id", "name", ["blk"], max_distance=2,
            max_pairs_per_record=None,
        ).collect()
    } == exact


def test_bloom_decontamination_no_false_negatives(spark, monkeypatch):
    """The Bloom guarantee: every true member is flagged (FN = 0);
    true_hits counts every corpus doc whose digest is in the eval
    set, including exact-duplicate docs of an eval doc."""
    from mapreduce_assignments_spark import workloads

    docs = spark.createDataFrame(
        [(i, f"text number {i}") for i in range(40)]
        + [(100, "text number 0")],  # duplicate of eval doc 0's text
        "doc_id long, text string",
    )
    monkeypatch.setattr(workloads.dedup, "_docs", lambda spark, sf_dir: docs)
    [row] = workloads.dedup.q_bloom_decontamination(spark, "unused").collect()
    assert row["false_negatives"] == 0
    # 20 eval docs + the planted duplicate are all true hits
    assert row["true_hits"] == 21
    assert row["n_flagged"] == row["true_hits"] + row["false_positives"]


def test_cluster_canonical_prefers_quality_then_id(spark):
    from mapreduce_assignments_spark.operators.dedup import cluster_canonical

    clusters = spark.createDataFrame(
        [(1, 1, 3), (2, 1, 3), (3, 1, 3), (7, 7, 2), (9, 7, 2)],
        "doc_id long, canonical_id long, cluster_size long",
    )
    scores = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (7, 0.4), (9, 0.4)],
        "doc_id long, quality double",
    )
    rows = {r["cluster_id"]: r for r in cluster_canonical(clusters, scores).collect()}
    assert rows[1]["keep_doc_id"] == 2      # highest quality, lowest id on tie
    assert rows[1]["keep_quality"] == 0.9
    assert rows[7]["keep_doc_id"] == 7      # pure id tiebreak
    assert rows[7]["cluster_size"] == 2


def test_ngram_jaccard_equals_brute_force_at_multiple_thresholds(spark):
    """The inverted join returns exactly the pairs, and the Jaccard
    values, of a pure-Python set-Jaccard brute force over the same
    shingles — every pair that shares a shingle and reaches t."""
    import itertools

    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "the quick brown fox jumps over a lazy dog",
        3: "completely different text with no overlap at all",
        4: "the quick brown fox jumps over the lazy dog",  # exact dup of 1
        5: "another completely different text entirely here",
    }
    docs = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )

    def shingle_set(text, n=3):
        toks = text.split()
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    sets = {d: shingle_set(t) for d, t in texts.items()}
    for t in (0.0, 0.1, 0.5, 0.9):
        expected = sorted(
            (a, b, round(len(sets[a] & sets[b]) / len(sets[a] | sets[b]), 6))
            for a, b in itertools.combinations(sorted(sets), 2)
            if sets[a] & sets[b]
            and len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= t
        )
        got = sorted(
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 6))
            for r in ngram_jaccard_pairs(docs, n=3, threshold=t).collect()
        )
        assert got == expected, t
    assert (1, 4, 1.0) in got  # the 0.9 pass still finds the exact duplicate pair


def test_dedup_savings_bounds(spark):
    from mapreduce_assignments_spark import workloads

    [r] = workloads.ALL_QUERIES["dedup_savings"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert 0 < r["dedup_tokens"] <= r["raw_tokens"]
    assert 0.0 <= r["savings_pct"] < 100.0


def test_dup_span_report_fractions(spark):
    """Span fingerprinting (Lee et al. 2021 shape): a window-length
    span shared by two docs marks those window positions duplicated in
    BOTH docs; a within-doc repeat counts too; short docs emit no row."""
    from mapreduce_assignments_spark.operators.dedup import dup_span_report

    boiler = "w1 w2 w3"  # the 3-token span that repeats
    docs = spark.createDataFrame(
        [
            (1, boiler + " a b"),          # windows: 3 (positions 1-3)
            (2, "x y " + boiler),          # shares the boiler span
            (3, "p q r s t"),              # all-unique spans
            (4, boiler + " " + boiler),    # within-doc repeat
            (5, "too short"),              # < window tokens: no row
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in dup_span_report(docs, window=3).collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[3]["n_dup_windows"] == 0 and rows[3]["dup_fraction"] == 0.0
    # doc 1: windows = [w1w2w3, w2w3a, w3ab] -> only the first is shared
    assert rows[1]["n_windows"] == 3 and rows[1]["n_dup_windows"] == 1
    assert rows[2]["n_dup_windows"] == 1
    # doc 4 = "w1 w2 w3 w1 w2 w3": w1w2w3 occurs twice within the doc
    # (plus docs 1/2); windows w2w3w1 and w3w1w2 occur once each
    assert rows[4]["n_windows"] == 4 and rows[4]["n_dup_windows"] == 2
    assert rows[4]["dup_fraction"] == 0.5


def test_record_linkage_sf_growth_is_output_bound(spark):
    """Regression pin for the SCALE.md adjudication: on the dense
    sequential TPC-H names, record_linkage's sf growth is TRUE OUTPUT
    cardinality (~19.6x pairs per 10x data — any digit edit at
    position >= 2 preserves custkey % 25), while the capped variant
    stays linear (<= 2kn) on the same input."""
    from mapreduce_assignments_spark.operators.dedup import record_linkage_pairs
    from mapreduce_assignments_spark.sources.tables import load_table

    counts = {}
    for sf in ("0.01", "0.1"):
        cust = load_table(spark, f"/root/testdata/sf{sf}", "customer")
        counts[sf] = record_linkage_pairs(
            cust, "c_custkey", "c_name", ["c_nationkey"], max_distance=2
        ).count()
    ratio = counts["0.1"] / counts["0.01"]
    assert 10 <= ratio <= 40, (counts, ratio)
    # the knob bounds the same sf0.1 input to <= 2*k*n rows
    cust = load_table(spark, "/root/testdata/sf0.1", "customer")
    n = cust.count()
    capped = record_linkage_pairs(
        cust, "c_custkey", "c_name", ["c_nationkey"],
        max_distance=2, max_pairs_per_record=3,
    ).count()
    assert capped <= 2 * 3 * n
    assert capped < counts["0.1"]


def test_record_linkage_class_verify_bill_flat_under_replication(spark):
    """The sf3-probe adjudication (SCALE.md round 8) as a regression
    test: replicating every record m x with the SAME name and fresh
    ids — the upscaler's shadow effect, and the shape of any
    low-entropy key column — grows same-name record pairs by exactly
    n*C(m,2) and cross-name record pairs by exactly m^2, while the
    CLASS-level verify bill (distinct (name_a, name_b) pairs, i.e.
    what the FastSS class path actually runs Levenshtein on) stays
    flat: the replicated run's class-pair set is the base run's plus
    one distance-0 (x, x) class per name."""
    import pyspark.sql.functions as F

    from mapreduce_assignments_spark.operators.dedup import record_linkage_pairs
    from mapreduce_assignments_spark.sources.tables import load_table

    cust = load_table(spark, "/root/testdata/sf0.01", "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    n = cust.count()
    assert cust.select("c_name").distinct().count() == n  # names unique
    m = 3
    reps = cust
    for i in range(1, m):
        reps = reps.unionByName(
            cust.select(
                (F.col("c_custkey") + i * 10_000_000).alias("c_custkey"),
                "c_name",
                "c_nationkey",
            )
        )

    def stats(df):
        # classes = UNORDERED distinct name pairs: output orientation
        # follows id_a < id_b, so replication emits both (x, y) and
        # (y, x) record pairs for one verified class pair
        return df.agg(
            F.count("*").alias("pairs"),
            F.sum((F.col("distance") == 0).cast("long")).alias("same"),
            F.count_distinct(
                F.least("name_a", "name_b"), F.greatest("name_a", "name_b")
            ).alias("classes"),
        ).first()

    b = stats(
        record_linkage_pairs(
            cust, "c_custkey", "c_name", ["c_nationkey"], max_distance=2
        )
    )
    r = stats(
        record_linkage_pairs(
            reps, "c_custkey", "c_name", ["c_nationkey"], max_distance=2
        )
    )
    # unique names -> no distance-0 pairs in the base run
    assert b["same"] == 0
    # same-name record pairs: one C(m,2) clique per original record
    assert r["same"] == n * m * (m - 1) // 2
    # cross-name record pairs: every verified class pair expands m*m
    assert r["pairs"] - r["same"] == (b["pairs"] - b["same"]) * m * m
    # the verify bill is class pairs — flat up to the n trivial (x, x)
    # distance-0 classes that never reach the Levenshtein DP at all
    assert r["classes"] == b["classes"] + n


def test_capped_class_expansion_prune_is_output_identical(spark):
    """The sf10 fix: with max_pairs_per_record the expansion is pruned
    to per-class bottom-k ids BEFORE the ranking window. Must be
    EXACTLY the same output as ranking the full uncapped pair set —
    verified here against a reference cap computed in plain Python
    over the uncapped output, on a replicated (low-entropy) input
    where the prune actually bites."""
    import pyspark.sql.functions as F

    from mapreduce_assignments_spark.operators.dedup import record_linkage_pairs
    from mapreduce_assignments_spark.sources.tables import load_table

    cust = (
        load_table(spark, "/root/testdata/sf0.001", "customer")
        .select("c_custkey", "c_name", "c_nationkey")
        .where(F.col("c_custkey") <= 60)
    )
    reps = cust
    for i in range(1, 8):  # 8 replicas: every class has 7 same-name partners
        reps = reps.unionByName(
            cust.select(
                (F.col("c_custkey") + i * 10_000).alias("c_custkey"),
                "c_name", "c_nationkey",
            )
        )
    k = 3
    uncapped = {
        tuple(r) for r in record_linkage_pairs(
            reps, "c_custkey", "c_name", ["c_nationkey"], max_distance=2
        ).collect()
    }
    capped = {
        tuple(r) for r in record_linkage_pairs(
            reps, "c_custkey", "c_name", ["c_nationkey"],
            max_distance=2, max_pairs_per_record=k,
        ).collect()
    }
    # whole rows, so distances on surviving pairs match uncapped too
    assert capped == _python_cap(uncapped, k)


def test_winnowing_fingerprints_window_arithmetic(spark):
    """6 tokens -> 4 trigram hashes -> ONE window of 4 (nwin =
    max(1, 4-4+1)): exactly one fingerprint. 9 tokens -> 7 hashes ->
    4 windows: between 1 and 4 fingerprints, and density <= 1."""
    from mapreduce_assignments_spark.operators.dedup import winnowing_fingerprints

    docs = spark.createDataFrame(
        [(1, "t0 t1 t2 t3 t4 t5"), (2, "u0 u1 u2 u3 u4 u5 u6 u7 u8"),
         (3, "too short")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in winnowing_fingerprints(docs, n=3, w=4).collect()}
    assert set(got) == {1, 2}  # the 2-token doc has no trigram
    assert got[1]["n_kgrams"] == 4 and got[1]["n_fingerprints"] == 1
    assert got[1]["density"] == 0.25
    assert got[2]["n_kgrams"] == 7
    assert 1 <= got[2]["n_fingerprints"] <= 4
    assert 0 < got[2]["density"] <= 1.0


def test_winnowing_guarantee_shared_run_shares_fingerprint(spark):
    """The SIGMOD'03 guarantee: any shared token run of length
    >= n + w - 1 (= 6 here) leaves at least one common fingerprint,
    so the candidate join MUST surface the pair; two disjoint docs
    must not appear."""
    from mapreduce_assignments_spark.operators.dedup import winnowing_candidates

    shared = "s1 s2 s3 s4 s5 s6"
    docs = spark.createDataFrame(
        [
            (1, f"p1 p2 p3 {shared} p4 p5"),
            (2, f"q1 q2 {shared} q3 q4 q5"),
            (3, "r1 r2 r3 r4 r5 r6 r7 r8"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in winnowing_candidates(
            docs, n=3, w=4, min_shared=1, fp_df_cap=None
        ).collect()
    }
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_dedup_threshold_curve_hand_checked(spark):
    """4 tiny docs with known Jaccards (1-2: 1.0, 1-3 and 2-3:
    0.333333): every curve row is hand-computable, including the
    zero-truncation-free rows at thresholds above every pair."""
    from mapreduce_assignments_spark.operators.dedup import dedup_threshold_curve

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "a b c x"), (4, "z y w v")],
        "doc_id long, text string",
    )
    out = {
        r["threshold"]: r
        for r in dedup_threshold_curve(
            docs, thresholds=(0.1, 0.3, 0.5, 0.7, 0.9), n=3
        ).collect()
    }
    assert len(out) == 5  # zero-hit thresholds still emit rows
    # t=0.1 and 0.3 see all three pairs; flagged = higher ids {2, 3}
    for t in (0.1, 0.3):
        r = out[t]
        assert r["n_pairs"] == 3 and r["n_docs_flagged"] == 2
        assert r["tokens_flagged"] == 8 and r["savings_pct"] == 0.5
    # t >= 0.5 keeps only the exact-duplicate pair (1, 2)
    for t in (0.5, 0.7, 0.9):
        r = out[t]
        assert r["n_pairs"] == 1 and r["n_docs_flagged"] == 1
        assert r["tokens_flagged"] == 4 and r["savings_pct"] == 0.25


def test_cluster_aware_split_leak_free_and_total(spark):
    """The constructive guarantee: split_leakage over the SAME pair
    set reports zero straddling pairs (a per-document hash_split on
    this data does leak, proving the test has teeth); every document
    gets exactly one split; singletons keep themselves as rep."""
    import pyspark.sql.functions as F

    from mapreduce_assignments_spark.operators.dedup import (
        cluster_aware_split,
        ngram_jaccard_pairs,
        split_leakage,
    )
    from mapreduce_assignments_spark.operators.sampling import hash_split

    docs = spark.createDataFrame(
        [
            (i, f"alpha beta gamma delta epsilon zeta token{i % 3} end")
            for i in range(30)
        ]
        + [(100 + i, f"totally unique words here number{i} only once") for i in range(5)],
        "doc_id long, text string",
    )
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.3)
    assert pairs.count() > 0
    weights = {"train": 0.5, "val": 0.25, "test": 0.25}
    out = cluster_aware_split(docs, pairs, weights)
    assert out.count() == docs.count()                      # total
    assert out.select("doc_id").distinct().count() == docs.count()
    leaks = split_leakage(pairs, out.select("doc_id", "split"))
    assert leaks.count() == 0                               # the guarantee
    # teeth: the naive per-document split DOES leak on this data
    naive = hash_split(docs.select("doc_id"), "doc_id", weights)
    assert split_leakage(pairs, naive).count() > 0
    # singletons: docs outside any pair keep their own id as rep
    paired = {r["doc_a"] for r in pairs.collect()} | {
        r["doc_b"] for r in pairs.collect()
    }
    for r in out.collect():
        if r["doc_id"] not in paired:
            assert r["rep"] == r["doc_id"]


def test_record_linkage_parallelizes_single_partition_input(spark, monkeypatch):
    """The CPU-dense candidate stages must not inherit a one-partition
    layout from a single-row-group input, nor AQE's coalescing of the
    small class table: an explicit defaultParallelism-wide repartition
    on the class key feeds the variant explode, with identical output
    for a one-partition and a pre-split input."""
    import itertools

    from pyspark.sql.classic.dataframe import DataFrame

    from mapreduce_assignments_spark.operators.dedup import record_linkage_pairs

    rows = [(i, f"name {i:03d}", "A") for i in range(40)]
    one_part = spark.createDataFrame(rows, "id long, name string, blk string").coalesce(1)
    pre_split = spark.createDataFrame(rows, "id long, name string, blk string").repartition(8)
    expect = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in record_linkage_pairs(
            pre_split, id_col="id", name_col="name", block_cols=["blk"], max_distance=1
        ).collect()
    }
    got = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in record_linkage_pairs(
            one_part, id_col="id", name_col="name", block_cols=["blk"], max_distance=1
        ).collect()
    }
    assert got == expect
    # the verify barriers hide the explode behind a checkpoint leaf:
    # neutralize them to see the candidate subtree
    monkeypatch.setattr(DataFrame, "localCheckpoint", lambda self, eager=True: self)
    lines = record_linkage_pairs(
        one_part, id_col="id", name_col="name", block_cols=["blk"], max_distance=1
    )._jdf.queryExecution().executedPlan().toString().splitlines()
    gen = next(i for i, ln in enumerate(lines) if "Generate explode(array_distinct" in ln)
    def depth(ln):
        return len(ln) - len(ln.lstrip(" :+-"))

    subtree = itertools.takewhile(
        lambda ln: depth(ln) > depth(lines[gen]), lines[gen + 1:]
    )
    first_exchange = next(ln for ln in subtree if "Exchange " in ln)
    n = spark.sparkContext.defaultParallelism
    assert f", {n}), REPARTITION_BY_NUM" in first_exchange, first_exchange


def test_exact_jaccard_for_pairs_matches_threshold0_join(spark):
    """r15: the candidate-bounded rejoin must emit exactly the rows
    (and bit-identical jaccard values) of the old shape — the
    threshold-0 inverted join inner-joined to the pair list — for
    pairs with shared shingles, and drop zero-overlap pairs."""
    from mapreduce_assignments_spark.operators.dedup import (
        exact_jaccard_for_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c d x y"),
            (3, "a b c q r s"),
            (4, "totally different words here now"),
            (5, "a b"),  # too short for 3-shingles -> no shingle rows
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5), (2, 3)], "doc_a long, doc_b long"
    )
    old = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in pairs.join(
            ngram_jaccard_pairs(docs, threshold=0.0), ["doc_a", "doc_b"]
        ).collect()
    }
    new = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in exact_jaccard_for_pairs(docs, pairs).collect()
    }
    assert new == old
    assert (1, 2) in new and (1, 4) not in new and (1, 5) not in new
