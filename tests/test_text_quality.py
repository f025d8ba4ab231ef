from __future__ import annotations

import pytest

from mapreduce_assignments_spark.operators.text_quality import (
    doc_fingerprint,
    language_id,
    pii_scrub,
    quality_score,
    repetition_stats,
    token_counts,
)


def test_token_counts(spark):
    df = spark.createDataFrame(
        [(1, "hello, world! x2 go"), (2, ""), (3, "a  b")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in token_counts(df).collect()}
    assert out[1]["ws_tokens"] == 4
    # hello , world ! x 2 go
    assert out[1]["bpe_tokens"] == 7
    assert out[2]["ws_tokens"] == 0 and out[2]["bpe_tokens"] == 0
    assert out[3]["ws_tokens"] == 2


def test_quality_score_bounds_and_order(spark):
    rows = [
        (1, " ".join(["the word of a story and it is here to stay"] * 8)),  # long, stopword-rich
        (2, "x"),  # degenerate
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["quality"] for r in quality_score(df).collect()}
    assert all(0.0 <= v <= 1.0 for v in out.values())
    assert out[1] > out[2] >= out[3]


def test_language_id(spark):
    rows = [
        (1, "the cat and the dog is here"),
        (2, "le chat et la maison est grande"),
        (3, "der hund und die katze ist hier"),
        (4, "el problema es que los datos y mas"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["pred_lang"] for r in language_id(df).collect()}
    assert out[1] == "en"
    assert out[2] == "fr"
    assert out[3] == "de"
    assert out[4] == "es"


def test_language_id_tiebreak_alphabetical(spark):
    df = spark.createDataFrame([(1, "xyzzy plugh")], "doc_id long, text string")
    out = language_id(df).collect()[0]
    assert out["score"] == 0
    assert out["pred_lang"] == "de"  # alphabetically first on all-zero scores


def test_doc_fingerprint_deterministic_and_dup_sensitive(spark):
    text = "one two three four five six seven"
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, "totally different words here now ok yes")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["fingerprint"] for r in doc_fingerprint(df).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]
    # short doc: whole-text fingerprint, no crash
    short = spark.createDataFrame([(9, "tiny doc")], "doc_id long, text string")
    assert doc_fingerprint(short).collect()[0]["fingerprint"] is not None


def test_repetition_stats_hand_checked(spark):
    rows = [
        # "a b a b a b": trigrams = [aba, bab, aba, bab] -> all 4
        # positions duplicated; bigrams = [ab, ba, ab, ba, ab] ->
        # top share 3/5
        (1, "a b a b a b"),
        # all-distinct trigrams, top bigram share 1/4
        (2, "v w x y z"),
        # too short for trigrams (fracs 0, count 0), 1 bigram
        (3, "p q"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in repetition_stats(df, n=3).collect()}
    assert out[1]["n_trigrams"] == 4
    assert out[1]["dup_trigram_frac"] == 1.0
    assert out[1]["top_bigram_share"] == pytest.approx(0.6)
    assert out[2]["n_trigrams"] == 3
    assert out[2]["dup_trigram_frac"] == 0.0
    assert out[2]["top_bigram_share"] == 0.25
    assert out[3]["n_trigrams"] == 0
    assert out[3]["dup_trigram_frac"] == 0.0
    assert out[3]["top_bigram_share"] == 1.0
    assert out[4]["n_trigrams"] == 0
    assert out[4]["top_bigram_share"] == 0.0
    with pytest.raises(ValueError):
        repetition_stats(df, n=1)


def test_pii_scrub(spark):
    rows = [
        (1, "mail me at jo.doe+x@corp.example.org or see https://a.b/c?d=1 ok"),
        (2, "no pii here"),
        (3, "two mails a@b.co c@d.org and http://plain.url end"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert out[1]["clean_text"] == "mail me at <EMAIL> or see <URL> ok"
    assert (out[1]["n_emails"], out[1]["n_urls"]) == (1, 1)
    assert out[2]["clean_text"] == "no pii here"
    assert (out[2]["n_emails"], out[2]["n_urls"]) == (0, 0)
    assert out[3]["clean_text"] == "two mails <EMAIL> <EMAIL> and <URL> end"
    assert (out[3]["n_emails"], out[3]["n_urls"]) == (2, 1)


def test_chunk_documents_hand_checked(spark):
    from mapreduce_assignments_spark.operators.text_quality import chunk_documents

    rows = [
        (1, "t0 t1 t2 t3 t4 t5 t6"),  # 7 tokens
        (2, "a b"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        (r["doc_id"], r["chunk_idx"], r["chunk_text"], r["n_tokens"])
        for r in chunk_documents(df, size=4, stride=3).collect()
    )
    assert out == [
        (1, 0, "t0 t1 t2 t3", 4),
        (1, 1, "t3 t4 t5 t6", 4),
        (1, 2, "t6", 1),
        (2, 0, "a b", 2),
    ]
    with pytest.raises(ValueError):
        chunk_documents(df, size=0)


# ---------------------------------------------------------------------------
# per-source aggregates

def test_source_stats_hand_checked(spark):
    from mapreduce_assignments_spark.operators.text_quality import (
        quality_score,
        source_stats,
    )

    rows = [
        (1, "the cat sat", "en", "sA"),
        (2, "the the the the", "en", "sA"),
        (3, "le chat", "fr", "sA"),
        (4, "solo", "es", "sB"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    got = {r["source"]: r.asDict() for r in source_stats(docs).collect()}
    assert got["sA"]["n_docs"] == 3 and got["sB"]["n_docs"] == 1
    assert got["sA"]["total_ws_tokens"] == 3 + 4 + 2
    assert got["sA"]["n_langs"] == 2 and got["sB"]["n_langs"] == 1
    # avg_quality must equal the mean of the per-doc operator's output
    q = {r["doc_id"]: r["quality"] for r in quality_score(docs).collect()}
    exp_a = round(sum(q[i] for i in (1, 2, 3)) / 3, 6)
    assert abs(got["sA"]["avg_quality"] - exp_a) < 1e-9


def test_lang_source_matrix_counts_and_zero_fill(spark):
    from mapreduce_assignments_spark.operators.text_quality import lang_source_matrix

    rows = [
        (1, "x", "en", "sA"),
        (2, "x", "en", "sA"),
        (3, "x", "fr", "sA"),
        (4, "x", "xx", "sB"),  # lang outside the declared list
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    out = {r["source"]: r.asDict() for r in lang_source_matrix(docs, ["en", "fr"]).collect()}
    assert out["sA"]["en"] == 2 and out["sA"]["fr"] == 1
    # sB only has an undeclared lang: row still present, all-zero
    assert out["sB"]["en"] == 0 and out["sB"]["fr"] == 0
    with pytest.raises(ValueError):
        lang_source_matrix(docs, [])


def test_top_terms_per_source_ranking_and_ties(spark):
    from mapreduce_assignments_spark.operators.text_quality import top_terms_per_source

    rows = [
        (1, "b b a a c", "x", "sA"),  # a and b tie at 2 -> a ranks first
        (2, "z", "x", "sB"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    got = [
        (r["source"], r["rank"], r["token"], r["cnt"])
        for r in top_terms_per_source(docs, k=2).orderBy("source", "rank").collect()
    ]
    assert got == [("sA", 1, "a", 2), ("sA", 2, "b", 2), ("sB", 1, "z", 1)]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        top_terms_per_source(docs, k=0)


def test_top_terms_plans_window_group_limit(spark):
    from mapreduce_assignments_spark.operators.text_quality import top_terms_per_source

    docs = spark.createDataFrame(
        [(i, "w" + str(i % 7), "x", "s" + str(i % 3)) for i in range(100)],
        "doc_id long, text string, lang string, source string",
    )
    plan = top_terms_per_source(docs, 3)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_unigram_logprob_hand_computed(spark):
    import math

    from mapreduce_assignments_spark.operators.text_quality import unigram_logprob

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id long, text string"
    )
    # corpus: a=2 b=2 c=1; N=5 V=3; lp(t) = ln((cnt+1)/(N+V))
    out = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
    assert out[1]["n_tokens"] == 3 and out[2]["n_tokens"] == 2
    assert out[1]["avg_logprob"] == round(math.log(3 / 8), 6)
    assert out[2]["avg_logprob"] == round((math.log(3 / 8) + math.log(2 / 8)) / 2, 6)


def test_unigram_logprob_empty_docs_dropped(spark):
    from mapreduce_assignments_spark.operators.text_quality import unigram_logprob

    df = spark.createDataFrame([(1, "x"), (2, "")], "doc_id long, text string")
    assert [r["doc_id"] for r in unigram_logprob(df).collect()] == [1]


def test_bigram_logprob_hand_computed(spark):
    import math

    from mapreduce_assignments_spark.operators.text_quality import bigram_logprob

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "b a"), (3, "x")], "doc_id long, text string"
    )
    # unigrams: a=3 b=3 x=1, N=7; bigrams: (a,b)=2 (b,a)=2
    out = {r["doc_id"]: r for r in bigram_logprob(df).collect()}
    lp_ab = math.log(0.75 * (2 / 3) + 0.25 * (3 / 7))
    lp_ba = math.log(0.75 * (2 / 3) + 0.25 * (3 / 7))
    assert out[1]["n_bigrams"] == 3
    assert out[1]["avg_logprob"] == round((2 * lp_ab + 1 * lp_ba) / 3, 6)
    assert out[2]["n_bigrams"] == 1
    assert out[2]["avg_logprob"] == round(lp_ba, 6)
    assert 3 not in out  # single-token doc has no bigrams


def test_oov_rate_hand_checked(spark, monkeypatch):
    """Pin the OOV semantics on a corpus where the splits are forced:
    tokens unseen in train count as OOV, seen ones don't."""
    import pyspark.sql.functions as F

    from mapreduce_assignments_spark import workloads

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha beta"),
            (3, "alpha delta"),      # delta is OOV if 3 is held out
        ],
        "doc_id long, text string",
    )
    monkeypatch.setattr(workloads.text_quality, "_docs", lambda spark, sf_dir: docs)
    monkeypatch.setattr(
        workloads.text_quality.sampling,
        "hash_split",
        lambda df, key, weights: df.withColumn(
            "split",
            F.when(F.col("doc_id") <= 2, "train").otherwise(F.lit("test")),
        ),
    )
    [row] = workloads.text_quality.q_oov_rate(spark, "unused").collect()
    assert (row["split"], row["n_tokens"], row["n_oov"]) == ("test", 2, 1)
    assert row["oov_rate"] == 0.5


def test_sentence_stats_hand_checked(spark):
    from mapreduce_assignments_spark.operators.text_quality import sentence_stats

    docs = spark.createDataFrame(
        [
            (1, "One two. Three!  Four five six?"),
            (2, "no boundary at all"),
            (3, "...!!!"),  # only separators: zero sentences, absent
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_sentences"], r["total_sentence_chars"],
                      r["avg_sentence_chars"], r["max_sentence_chars"])
        for r in sentence_stats(docs).collect()
    }
    # doc 1 sentences: "One two"(7), "Three"(5), "Four five six"(13)
    assert got[1] == (3, 25, round(25 / 3, 6), 13)
    assert got[2] == (1, 18, 18.0, 18)
    assert 3 not in got


def test_heldout_logprob_unseen_terms_hit_smoothing_floor(spark):
    import math

    from mapreduce_assignments_spark.operators.text_quality import heldout_logprob

    train = spark.createDataFrame(
        [(1, "cat cat dog")], "doc_id long, text string"
    )  # N=3, V=2
    test = spark.createDataFrame(
        [(10, "cat"), (11, "unicorn unicorn")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
        for r in heldout_logprob(train, test).collect()
    }
    assert got[10] == (1, round(math.log(3 / 5), 6))      # (2+1)/(3+2)
    assert got[11] == (2, round(math.log(1 / 5), 6))      # unseen -> 1/(N+V)


def test_filter_funnel_sequential_attribution(spark):
    from mapreduce_assignments_spark.operators.text_quality import filter_funnel

    docs = spark.createDataFrame(
        [
            (1, "too short"),                          # dies at rule 1
            (2, "a a a a a a"),                        # passes 1, mean len 1 -> dies at 2
            (3, "ABC DEF GHI JKL MNO"),                # passes 1+2, all caps -> dies at 3
            (4, "this is a clean document right here"),  # survives
        ],
        "doc_id int, text string",
    )
    rows = {r["rule"]: r for r in filter_funnel(docs).collect()}
    assert (rows["min_tokens"]["n_in"], rows["min_tokens"]["n_rejected"]) == (4, 1)
    assert (rows["mean_token_len"]["n_in"], rows["mean_token_len"]["n_rejected"]) == (3, 1)
    assert (rows["uppercase_ratio"]["n_in"], rows["uppercase_ratio"]["n_rejected"]) == (2, 1)
    assert rows["uppercase_ratio"]["n_out"] == 1


def test_filter_funnel_examples_bounded_and_ordered(spark):
    from mapreduce_assignments_spark.operators.text_quality import (
        filter_funnel_examples,
    )

    docs = spark.createDataFrame(
        [(i, "x") for i in (5, 3, 9, 7)]  # four rule-1 deaths
        + [(20, "a a a a a a")]           # rule-2 death
        + [(30, "a clean document with several tokens here")],
        "doc_id long, text string",
    )
    rows = {r["stage"]: r for r in filter_funnel_examples(docs).collect()}
    assert rows[1]["n_rejected"] == 4
    assert rows[1]["example_ids"] == "3,5,7"  # k=3 lowest ids, ordered
    assert rows[2]["example_ids"] == "20"


def test_sentence_dedup_stats_cross_doc_only(spark):
    from mapreduce_assignments_spark.operators.text_quality import (
        sentence_dedup_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "shared boilerplate. unique one.", "web"),
            (2, "shared boilerplate. another unique.", "web"),
            (3, "all alone here.", "books"),
        ],
        "doc_id long, text string, source string",
    )
    rows = {r["source"]: r for r in sentence_dedup_stats(docs).collect()}
    assert rows["web"]["n_instances"] == 4
    assert rows["web"]["n_dup_instances"] == 2  # the shared sentence, twice
    assert rows["web"]["dup_ratio"] == 0.5
    assert rows["books"]["n_dup_instances"] == 0


def test_vocab_coverage_monotone_and_exact(spark):
    from mapreduce_assignments_spark.operators.text_quality import vocab_coverage

    docs = spark.createDataFrame(
        [(1, "a a a b b c")], "doc_id long, text string"
    )
    rows = {r["k"]: r for r in vocab_coverage(docs, ks=(1, 2, 3)).collect()}
    assert rows[1]["covered_tokens"] == 3 and rows[1]["coverage"] == 0.5
    assert rows[2]["covered_tokens"] == 5
    assert rows[3]["coverage"] == 1.0


def test_idf_drift_direction(spark):
    from mapreduce_assignments_spark.operators.text_quality import idf_drift

    # 'hot' appears in every even doc (half a), never in odd docs ->
    # excluded (df_b = 0); 'warm' in all evens and one odd
    docs = spark.createDataFrame(
        [(i, "warm common" + (" hot" if i % 2 == 0 else "")) for i in range(10)]
        + [(11, "warm common")],
        "doc_id long, text string",
    )
    rows = {r["term"]: r for r in idf_drift(docs, k=5, min_df=2).collect()}
    assert "hot" not in rows            # one-sided terms excluded
    assert rows["warm"]["df_a"] == 5 and rows["warm"]["df_b"] == 6
    # common is in all docs of both halves: delta = ln(5/5)-ln(6/6)=0
    assert rows["common"]["delta"] == 0.0


def test_char_entropy_uniform_vs_constant(spark):
    from mapreduce_assignments_spark.operators.text_quality import char_entropy

    docs = spark.createDataFrame(
        [(1, "aaaa", "junk"), (2, "abcd", "web")],
        "doc_id long, text string, source string",
    )
    rows = {r["source"]: r for r in char_entropy(docs).collect()}
    assert rows["junk"]["avg_entropy"] == 0.0       # constant string
    assert rows["web"]["avg_entropy"] == 2.0        # 4 uniform symbols


def test_language_id_accuracy_shape(spark):
    """Workload-level smoke on tiny frames: confusion rows partition
    each true language and pct sums to 1 within it."""
    from mapreduce_assignments_spark import workloads

    out = workloads.ALL_QUERIES["language_id_accuracy"](
        spark, "/root/testdata/sf0.001"
    )
    rows = out.collect()
    assert rows
    import collections

    per_true = collections.defaultdict(float)
    for r in rows:
        per_true[r["true_lang"]] += r["pct_of_true"]
    for lang, s in per_true.items():
        assert abs(s - 1.0) < 1e-4, (lang, s)


def test_perplexity_buckets_partitions_by_lang(spark):
    """CCNet-shaped bucketing: every language's docs split into
    near-equal buckets, bucket 1 holds the most fluent (highest
    unigram-LM score) docs, and bucket stats bracket each other."""
    from mapreduce_assignments_spark.operators.text_quality import (
        perplexity_buckets,
    )

    common = "the of and to in"
    docs = spark.createDataFrame(
        [(i, common if i % 2 else f"rare{i} junk{i} blob{i}", "en")
         for i in range(10)]
        + [(100 + i, common, "fr") for i in range(4)],
        "doc_id long, text string, lang string",
    )
    rows = perplexity_buckets(docs, n_buckets=2).collect()
    by_key = {(r["lang"], r["bucket"]): r for r in rows}
    assert set(by_key) == {("en", 1), ("en", 2), ("fr", 1), ("fr", 2)}
    for lang, n in (("en", 10), ("fr", 4)):
        assert by_key[(lang, 1)]["n_docs"] + by_key[(lang, 2)]["n_docs"] == n
    # bucket 1 = most fluent: its minimum beats bucket 2's maximum
    assert by_key[("en", 1)]["min_logprob"] >= by_key[("en", 2)]["max_logprob"]
    assert by_key[("en", 1)]["avg_logprob"] > by_key[("en", 2)]["avg_logprob"]


def test_nb_quality_confusion_hand_checked(spark):
    """Tiny corpus where the NB decision is computable by hand: the
    positive class's vocabulary is disjoint from the negative's, so
    every eval doc classifies to the class whose words it shares;
    confusion counts follow exactly."""
    import math

    from mapreduce_assignments_spark.operators.text_quality import (
        nb_quality_confusion,
        quality_expr,
    )
    import pyspark.sql.functions as F

    # positive-class text: >= 64 tokens, ~50% stopwords, high lexical
    # diversity -> quality ~0.80 (>= tau); negative: 4 repeated rare
    # tokens -> quality well below tau. Disjoint content vocabularies.
    from mapreduce_assignments_spark.operators.text_quality import STOPWORDS

    hi = " ".join(f"{STOPWORDS[i % 8]} u{i}" for i in range(40))
    lo = "bad terrible awful junk"
    rows = [
        # doc_id % 5 != 0 -> train; % 5 == 0 -> eval
        (1, hi), (2, hi),       # train, positive
        (3, lo), (4, lo),       # train, negative
        (0, hi),                # eval, positive vocabulary only
        (5, lo),                # eval, negative vocabulary only
    ]
    docs = spark.createDataFrame(
        [(i, t.strip()) for i, t in rows], "doc_id long, text string"
    )
    # silver labels with the default tau split long/high-diversity vs
    # short docs; verify the premise before asserting the confusion
    labels = {
        r["doc_id"]: r["l"]
        for r in docs.select(
            "doc_id",
            (F.round(quality_expr("text"), 6) >= 0.52).cast("int").alias("l"),
        ).collect()
    }
    assert labels[1] == 1 and labels[3] == 0  # premise: both classes in train
    out = {
        (r["label"], r["pred"]): r["n_docs"]
        for r in nb_quality_confusion(docs).collect()
    }
    # eval doc 0 shares only positive-class vocabulary, doc 5 only
    # negative-class vocabulary -> both classify correctly
    assert out == {(labels[0], labels[0]): 1, (labels[5], labels[5]): 1}

    with __import__("pytest").raises(ValueError):
        nb_quality_confusion(docs, tau=1.5)
    with __import__("pytest").raises(ValueError):
        nb_quality_confusion(docs, holdout_mod=1)


def test_nb_quality_confusion_empty_and_priors_only(spark):
    """Empty corpus -> empty confusion; an eval doc with no tokens
    scores priors-only and predicts the train majority class."""
    from mapreduce_assignments_spark.operators.text_quality import (
        nb_quality_confusion,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert nb_quality_confusion(empty).collect() == []

    docs = spark.createDataFrame(
        [
            (1, "the and of is the and of is " * 10),  # train, high quality
            (2, "the and of is the and of is " * 10),
            (3, "x"),                                   # train, low quality
            (0, ""),                                    # eval: zero tokens
        ],
        "doc_id long, text string",
    )
    out = {(r["label"], r["pred"]): r["n_docs"]
           for r in nb_quality_confusion(docs).collect()}
    # the all-stopword train docs score 0.415 < tau, so training is
    # single-class negative -> degenerate prior forces pred 0; the
    # empty eval doc's own label is 0 as well
    assert out == {(0, 0): 1}


def test_gopher_quality_gate_hand_checked(spark):
    """Each Gopher rule trips on exactly the doc built to trip it."""
    from mapreduce_assignments_spark.operators.text_quality import (
        gopher_quality_gate,
    )

    good = "the a " + " ".join(f"word{i:02d}" for i in range(60))  # 62 words
    short = "the quick brown fox a it"                            # 6 words
    nostop = " ".join(f"zz{i:03d}" for i in range(60))            # no stopwords
    dup = "the a " + " ".join(["spam"] * 80)                      # 82 words, dup-heavy
    onestop = "the " + " ".join(f"w{i:03d}" for i in range(60))   # 1 stopword
    docs = spark.createDataFrame(
        [(1, good), (2, short), (3, nostop), (4, dup), (5, onestop)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in gopher_quality_gate(docs).collect()}
    assert got[1]["passes"] is True
    assert got[1]["n_words"] == 62 and got[1]["stop_hits"] == 2  # 'the', 'a'
    assert got[1]["mean_word_len"] == round((3 + 1 + 60 * 6) / 62, 6)
    assert got[2]["len_ok"] is False and got[2]["passes"] is False
    assert got[3]["stop_hits"] == 0 and got[3]["stop_ok"] is False
    assert got[4]["dup_word_frac"] > 0.6 and got[4]["dup_ok"] is False
    assert got[4]["passes"] is False
    # exactly one stopword sits under the >=2 bar — the boundary case
    assert got[5]["stop_hits"] == 1 and got[5]["stop_ok"] is False


def test_heaps_law_fit_hand_checked_curve(spark):
    """10 single-bucket docs, doc i = 'a w{i}': every bucket adds 2
    tokens; bucket 0 mints 2 types ('a', 'w0'), each later bucket
    mints exactly 1 — the cumulative curve is fully hand-checkable
    and the fit columns repeat on every row."""
    from mapreduce_assignments_spark.operators.text_quality import heaps_law_fit

    rows = [(i, f"a w{i}") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["bucket"]: r for r in heaps_law_fit(docs, n_buckets=10).collect()}
    assert len(out) == 10
    for b in range(10):
        assert out[b]["cum_tokens"] == 2 * (b + 1)
        assert out[b]["cum_vocab"] == b + 2
    # sub-linear growth: 0 < beta < 1, and identical on every row
    betas = {r["heaps_beta"] for r in out.values()}
    assert len(betas) == 1
    assert 0.0 < betas.pop() < 1.0


def test_heaps_law_fit_empty_bucket_carries_cumulative(spark):
    """Sparse doc_ids leave middle buckets empty; the scaffold keeps
    the row and the cumulative totals carry through unchanged."""
    from mapreduce_assignments_spark.operators.text_quality import heaps_law_fit

    docs = spark.createDataFrame(
        [(0, "x y z"), (9, "x q")], "doc_id long, text string"
    )
    out = {r["bucket"]: r for r in heaps_law_fit(docs, n_buckets=10).collect()}
    assert out[0]["cum_tokens"] == 3 and out[0]["cum_vocab"] == 3
    for b in range(1, 9):  # empty id-range buckets
        assert out[b]["cum_tokens"] == 3 and out[b]["cum_vocab"] == 3
    assert out[9]["cum_tokens"] == 5 and out[9]["cum_vocab"] == 4
