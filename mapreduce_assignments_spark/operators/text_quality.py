"""Text analysis operators for training-data pipelines.

North-star extensions (BASELINE.json): language ID, quality scoring,
token counting, document fingerprinting. All pure JVM expressions —
one narrow projection per operator, aggregations only where the
semantics need them.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..functions.hashing import h60
from .text import tokens_array

__all__ = [
    "token_counts",
    "unigram_logprob",
    "bigram_logprob",
    "quality_score",
    "quality_expr",
    "source_stats",
    "top_terms_per_source",
    "lang_source_matrix",
    "language_id",
    "doc_fingerprint",
    "repetition_stats",
    "pii_scrub",
    "chunk_documents",
    "LANG_MARKERS",
    "BPE_ISH_REGEX",
    "STOPWORDS",
    "EMAIL_REGEX",
    "URL_REGEX",
    "sentence_stats",
    "heldout_logprob",
    "FUNNEL_RULES",
    "funnel_flags",
    "funnel_counts",
    "funnel_stages",
    "filter_funnel",
    "filter_funnel_examples",
    "sentence_dedup_stats",
    "vocab_coverage",
    "idf_drift",
    "char_entropy",
    "perplexity_buckets",
    "nb_quality_confusion",
    "gopher_quality_gate",
    "heaps_law_fit",
]

# A BPE-ish pre-tokenization: letter runs, digit runs, single other
# non-space chars — the shape GPT-style tokenizers use before merges.
BPE_ISH_REGEX = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

# tiny n-gram/marker heuristic tables; a real pipeline would learn
# these — the operator contract (argmax over per-language evidence,
# deterministic tiebreak) is what matters at scale.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is"),
    "fr": ("le", "la", "et", "est"),
    "de": ("der", "die", "und", "ist"),
    "es": ("el", "los", "es", "y"),
    "zh": ("de", "shi", "le", "zhong"),
}


def _tok_count(text_col: str, regex: str) -> Column:
    return F.size(F.regexp_extract_all(F.col(text_col), F.lit(regex), F.lit(0)))


def token_counts(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """``(doc_id, ws_tokens, bpe_tokens, n_chars)`` — whitespace and
    BPE-ish token counts per document."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens_array(text_col)).alias("ws_tokens"),
        _tok_count(text_col, BPE_ISH_REGEX).alias("bpe_tokens"),
        F.length(text_col).alias("n_chars"),
    )


def unigram_logprob(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document mean token log-probability under an add-one
    smoothed unigram LM trained on the corpus itself — the classic
    cheap perplexity proxy for training-data quality filtering (docs
    full of rare/garbage tokens score low, fluent prose scores high).

    ``(doc_id, n_tokens, avg_logprob)`` with
    ``avg_logprob = Σ tf·ln((cnt+1)/(N+V)) / Σ tf`` over the doc's
    distinct terms, where ``cnt`` is the corpus count of the term,
    ``N`` total tokens and ``V`` vocabulary size.

    Scale: the join runs on ``(doc_id, term)`` tf pairs, not raw token
    instances, so hot terms ("the") contribute one probe row per doc
    rather than per occurrence; the vocab-count build side has exactly
    one row per term (AQE broadcasts it when it fits, hash-joins
    otherwise), and the (N, V) scalar is an explicit broadcast. Three
    shuffles total, all partially aggregated map-side.
    """
    tf = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(tokens_array(text_col)).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    counts = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").alias("n_total"), F.count("*").alias("vocab")
    )
    lp = F.log((F.col("cnt") + F.lit(1.0)) / (F.col("n_total") + F.col("vocab")))
    return (
        tf.join(counts, "term")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("int").alias("n_tokens"),
            F.round(F.sum(F.col("tf") * lp) / F.sum("tf"), 6).alias("avg_logprob"),
        )
    )


def bigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.75,
) -> DataFrame:
    """Per-document mean bigram log-probability under a Jelinek–Mercer
    interpolated bigram LM trained on the corpus itself:
    ``p(w2|w1) = λ·cnt(w1,w2)/cnt(w1) + (1−λ)·cnt(w2)/N`` — a sharper
    perplexity proxy than :func:`unigram_logprob` (word-salad text has
    plausible unigrams but improbable transitions). The bigram history
    denominator is the plain unigram count of ``w1`` (the standard
    corpus-level approximation; exact per-history totals differ only by
    each document's final token).

    ``(doc_id, n_bigrams, avg_logprob)`` — docs with < 2 tokens drop.

    Scale: same shape as :func:`unigram_logprob` — all joins run on
    ``(doc, bigram)`` tf pairs against one-row-per-(bi)gram count
    tables, never on raw token instances; the N scalar broadcasts.
    The bigram zip itself is the narrow arrays_zip-of-slices used by
    ``text.bigram_count`` (no window, no extra exchange).
    """
    toks = tokens_array(text_col)
    pairs_arr = F.arrays_zip(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))).alias("w1"),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))).alias("w2"),
    )
    tf = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode_outer(pairs_arr).alias("p"))
        .where(F.col("p").isNotNull())
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").alias("tf"))
    )
    bcnt = tf.groupBy("w1", "w2").agg(F.sum("tf").alias("bcnt"))
    ucnt = (
        docs.select(F.explode(tokens_array(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("ucnt"))
    )
    tot = ucnt.agg(F.sum("ucnt").alias("n_total"))
    p_bi = F.col("bcnt") / F.col("c1").cast("double")
    p_uni = F.col("c2") / F.col("n_total").cast("double")
    lp = F.log(F.lit(lam) * p_bi + F.lit(1.0 - lam) * p_uni)
    return (
        tf.join(bcnt, ["w1", "w2"])
        .join(ucnt.select(F.col("w").alias("w1"), F.col("ucnt").alias("c1")), "w1")
        .join(ucnt.select(F.col("w").alias("w2"), F.col("ucnt").alias("c2")), "w2")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("int").alias("n_bigrams"),
            F.round(F.sum(F.col("tf") * lp) / F.sum("tf"), 6).alias("avg_logprob"),
        )
    )


def quality_expr(text_col: str = "text") -> Column:
    """The composite quality Column (pre-rounding) — exposed so
    aggregating operators (:func:`source_stats`) reuse the exact same
    formula instead of re-deriving it."""
    toks = tokens_array(text_col)
    n = F.size(toks)
    distinct_ratio = F.when(n > 0, F.size(F.array_distinct(toks)) / n).otherwise(0.0)
    stop_hits = F.size(F.filter(toks, lambda w: w.isin(*STOPWORDS)))
    stop_ratio = F.when(n > 0, stop_hits / n).otherwise(0.0)
    # stopword signal peaks at a natural-language-ish 40% density
    stop_signal = F.lit(1.0) - F.least(
        F.lit(1.0), F.abs(stop_ratio - F.lit(0.4)) * 2.5
    )
    length_score = F.least(F.lit(1.0), n / F.lit(64.0))
    return (
        F.lit(0.4) * length_score
        + F.lit(0.3) * distinct_ratio
        + F.lit(0.3) * stop_signal
    )


def quality_score(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Composite document quality in [0,1]:
    0.4·length_score + 0.3·lexical_diversity + 0.3·stopword_signal.

    All three components are integer-count ratios, so the double
    arithmetic is order-free and matches the SQL oracle exactly.
    """
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.round(quality_expr(text_col), 6).alias("quality"),
    )


def source_stats(
    docs: DataFrame,
    source_col: str = "source",
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Per-source corpus dashboard — the group-by-domain curation
    staple (in a crawl pipeline ``source`` is the registered domain):
    ``(source, n_docs, total_ws_tokens, avg_quality, n_langs)``.

    Hash aggregation over a narrow projection: per-row token count +
    quality expression (shared with :func:`quality_score` via
    :func:`quality_expr`) are computed map-side, so the exchanges
    carry only partial aggregates, never text. The distinct-count
    makes it two-phase — first keyed on ``(source, lang)`` (already
    partial-aggregated down to the matrix cells), then on ``source``
    over those few rows. Quality is rounded per-document FIRST (to the same 6 dp the
    per-doc operator emits) and the mean of those rounded values is
    rounded again — that makes the double sum order-free and thus
    engine-portable. ``n_langs`` is an exact distinct-count; at 100 TB
    the cardinality is bounded by (sources × languages), which is
    small by construction.
    """
    per_doc = docs.select(
        F.col(source_col).alias("source"),
        F.col(lang_col).alias("lang"),
        F.size(tokens_array(text_col)).alias("__t"),
        F.round(quality_expr(text_col), 6).alias("__q"),
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("__t").alias("total_ws_tokens"),
        F.round(F.avg("__q"), 6).alias("avg_quality"),
        F.countDistinct("lang").alias("n_langs"),
    )


def lang_source_matrix(
    docs: DataFrame,
    langs: list[str],
    source_col: str = "source",
    lang_col: str = "lang",
) -> DataFrame:
    """Pivot the corpus into a ``source × language`` doc-count matrix:
    ``(source, <one LONG column per language>)`` — the coverage report
    every multilingual-corpus curation loop reads.

    The language list is EXPLICIT (``pivot(col, values)``) — at scale
    letting Spark discover pivot values costs an extra distinct scan
    of the corpus and makes the output schema data-dependent. With
    declared values the plan is a partial-aggregated exchange on
    ``(source, lang)`` (the corpus collapses to matrix cells map-side)
    followed by the pivot aggregation over those
    ``|sources| × |langs|`` rows — the second exchange moves a
    dashboard, not data. Rows whose language is outside ``langs`` are
    counted by none of the columns (they still anchor the source row).
    """
    if not langs:
        raise ValueError("langs must be non-empty")
    out = (
        docs.select(F.col(source_col).alias("source"), F.col(lang_col).alias("lang"))
        .groupBy("source")
        .pivot("lang", langs)
        .count()
    )
    # absent (source, lang) combos surface as NULL counts; a coverage
    # matrix wants 0 there
    return out.select(
        "source", *[F.coalesce(F.col(f"`{l}`"), F.lit(0)).cast("long").alias(l) for l in langs]
    )


def language_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """``(doc_id, pred_lang, score)`` — argmax of marker-token hits per
    language; ties break alphabetically on language code (so the SQL
    oracle's ordering matches)."""
    toks = tokens_array(text_col)
    scores = [
        F.size(F.filter(toks, lambda w: w.isin(*markers))).alias(f"s_{lang}")
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    scored = docs.select(F.col(id_col).alias("doc_id"), *scores)
    langs = sorted(LANG_MARKERS)
    # argmax via struct max: (score, -alphabetical_index) — ties go to
    # the alphabetically first language, mirrored by the SQL oracle's
    # CASE chain ordering.
    best = F.array_max(
        F.array(
            *[
                F.struct(
                    F.col(f"s_{l}").alias("s"),
                    F.lit(-i).alias("t"),
                    F.lit(l).alias("lang"),
                )
                for i, l in enumerate(langs)
            ]
        )
    )
    return scored.select(
        "doc_id",
        best["lang"].alias("pred_lang"),
        best["s"].alias("score"),
    )


def repetition_stats(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher/C4-style repetition signals per document:
    ``(doc_id, n_trigrams, dup_trigram_frac, top_bigram_share)`` —
    the fraction of n-gram positions whose n-gram occurs more than once
    in the doc, and the share of the single most frequent bigram.
    Heavily repetitive documents (boilerplate, keyword stuffing, decode
    loops) score high on both and are standard pre-training filters.

    Scale shape: explode → one (doc_id, gram) hash aggregation → one
    per-doc rollup; no per-doc quadratic expression (an in-row
    ``filter(grams, g -> count..)`` would be O(len²) per doc and blow
    up on long documents)."""
    if n < 2:
        raise ValueError("n must be >= 2")
    toks = docs.select(F.col(id_col).alias("doc_id"), tokens_array(text_col).alias("ts"))

    def gram_rollup(k: int):
        # explode_outer + null filter: a plain explode would infer a
        # size()>0 filter inlining the gram construction twice at the
        # scan (see operators/text.py note).
        grams = toks.select(
            "doc_id",
            F.explode_outer(
                F.when(
                    F.size("ts") >= k,
                    F.transform(
                        F.sequence(F.lit(0), F.size("ts") - k),
                        lambda i: F.concat_ws(" ", F.slice("ts", i + 1, k)),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("g"),
        ).where(F.col("g").isNotNull())
        return grams.groupBy("doc_id", "g").agg(F.count("*").alias("c"))

    ng = (
        gram_rollup(n)
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_ngrams"),
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dup"),
        )
    )
    bi = (
        gram_rollup(2)
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_bi"), F.max("c").alias("max_bi"))
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(ng, "doc_id", "left")
        .join(bi, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_ngrams", F.lit(0)).alias("n_trigrams"),
            F.round(
                F.when(
                    F.col("n_ngrams") > 0,
                    F.col("dup").cast("double") / F.col("n_ngrams"),
                ).otherwise(0.0),
                6,
            ).alias("dup_trigram_frac"),
            F.round(
                F.when(
                    F.col("n_bi") > 0,
                    F.col("max_bi").cast("double") / F.col("n_bi"),
                ).otherwise(0.0),
                6,
            ).alias("top_bigram_share"),
        )
    )


def chunk_documents(
    docs: DataFrame,
    size: int = 32,
    stride: int = 24,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token windows for training:
    ``(doc_id, chunk_idx, chunk_text, n_tokens)`` — window ``size``
    tokens, advancing ``stride`` tokens (overlap = size - stride).
    Chunk starts are 0, stride, 2·stride, … while < the token count,
    so the tail is kept as a short final chunk; empty documents yield
    no chunks.

    Pure JVM (sequence + slice inside one narrow projection, then one
    explode) — no shuffle, composes with any downstream plan."""
    if size < 1 or stride < 1:
        raise ValueError("size and stride must be >= 1")
    toks = tokens_array(text_col)
    starts = F.when(
        F.size(toks) > 0,
        F.sequence(F.lit(0), F.size(toks) - 1, F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            (s / stride).cast("int").alias("chunk_idx"),
            F.concat_ws(" ", F.slice(toks, s + 1, size)).alias("chunk_text"),
            F.least(F.lit(size), F.size(toks) - s).alias("n_tokens"),
        ),
    )
    # explode_outer + null filter — see operators/text.py note.
    return docs.select(
        F.col(id_col).alias("doc_id"), F.explode_outer(chunks).alias("c")
    ).where(F.col("c").isNotNull()).select(
        "doc_id",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.n_tokens").alias("n_tokens"),
    )


# deliberately simple, RE2-compatible patterns: identical semantics in
# Spark (Java regex) and DuckDB (RE2), no lookaround, no backrefs.
EMAIL_REGEX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_REGEX = r"https?://[^\s]+"


def pii_scrub(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    email_token: str = "<EMAIL>",
    url_token: str = "<URL>",
) -> DataFrame:
    """Redact emails and URLs:
    ``(doc_id, clean_text, n_emails, n_urls)`` — counts are taken on
    the ORIGINAL text, then emails are replaced before URLs. Pure JVM
    ``regexp_replace``/``regexp_count`` (global by default in Spark;
    the oracle passes the 'g' flag)."""
    text = F.col(text_col)
    clean = F.regexp_replace(
        F.regexp_replace(text, EMAIL_REGEX, email_token), URL_REGEX, url_token
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        clean.alias("clean_text"),
        F.regexp_count(text, F.lit(EMAIL_REGEX)).alias("n_emails"),
        F.regexp_count(text, F.lit(URL_REGEX)).alias("n_urls"),
    )


def doc_fingerprint(
    docs: DataFrame, n: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Winnowing-style fingerprint: the minimum 60-bit hash over the
    document's word n-grams (whole text if shorter than n tokens).
    ``(doc_id, fingerprint)`` — equal fingerprints are cheap
    near-duplicate evidence."""
    toks = tokens_array(text_col)
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_min(F.transform(grams, lambda g: h60(g))).alias("fingerprint"),
    )


def top_terms_per_source(
    docs: DataFrame,
    k: int = 5,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Exact per-group heavy hitters: the ``k`` most frequent tokens
    of each source — ``(source, token, cnt, rank)``, ties broken
    alphabetically so the ranking is deterministic across engines.

    Scale shape: one partial-aggregated exchange on (source, token),
    then ``row_number() <= k`` over (cnt DESC, token ASC) — Spark
    plans the filter as WindowGroupLimit, so each map task keeps only
    its local top-k per source before the window exchange. Exact, not
    a sketch: the (source, token) aggregate is the unavoidable pass,
    and after it the data is already dashboard-sized."""
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql import Window

    counts = (
        docs.select(
            F.col(source_col).alias("source"),
            F.explode(tokens_array(text_col)).alias("token"),
        )
        .groupBy("source", "token")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("cnt"), F.asc("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def sentence_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document sentence segmentation stats: ``(doc_id,
    n_sentences, total_sentence_chars, avg_sentence_chars,
    max_sentence_chars)`` — sentences are the non-empty trimmed
    segments between ``[.!?]+`` runs (the regex heuristic every
    curation pipeline starts from; documents with no sentence
    boundary count as one sentence). Docs yielding zero non-empty
    segments are absent.

    Pure narrow higher-order-function stage: split / trim / filter /
    fold run inside whole-stage codegen per row — no explode, no
    shuffle beyond nothing at all (this is a per-row projection).
    """
    arr = F.filter(
        F.transform(F.split(F.col(text_col), r"[.!?]+"), lambda s: F.trim(s)),
        lambda s: F.length(s) > 0,
    )
    lengths = F.transform(arr, lambda s: F.length(s))
    total = F.aggregate(lengths, F.lit(0), lambda a, b: a + b)
    out = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(arr).alias("n_sentences"),
        total.alias("total_sentence_chars"),
        F.round(total / F.size(arr), 6).alias("avg_sentence_chars"),
        F.array_max(lengths).alias("max_sentence_chars"),
    )
    return out.where(F.col("n_sentences") > 0)


def heldout_logprob(
    train_docs: DataFrame,
    test_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean token log-probability of HELD-OUT documents
    under an add-one unigram LM trained on a DIFFERENT split —
    :func:`unigram_logprob`'s self-scoring generalized to the
    train/eval separation a real LM-quality gate needs. Terms unseen
    in training fall back to the smoothing floor ``ln(1/(N+V))``
    (that's what add-one is for). ``(doc_id, n_tokens, avg_logprob)``.

    Same scale shape as unigram_logprob: all joins on (doc, term) tf
    pairs, the vocabulary one row per term, the (N, V) scalar an
    explicit broadcast; the only change is WHICH side built the LM.
    """
    ttf = (
        train_docs.select(F.explode(tokens_array(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
    )
    totals = ttf.agg(F.sum("cnt").alias("n_total"), F.count("*").alias("vocab"))
    tf = (
        test_docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens_array(text_col)).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    joined = tf.join(ttf, "term", "left").select(
        "doc_id", "tf", F.coalesce("cnt", F.lit(0)).alias("cnt")
    )
    lp = F.log((F.col("cnt") + F.lit(1.0)) / (F.col("n_total") + F.col("vocab")))
    return (
        joined.crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("int").alias("n_tokens"),
            F.round(F.sum(F.col("tf") * lp) / F.sum("tf"), 6).alias("avg_logprob"),
        )
    )


FUNNEL_RULES = ("min_tokens", "mean_token_len", "uppercase_ratio")


def funnel_flags(text_col: str = "text") -> tuple[Column, Column, Column]:
    """The quality funnel's three rules as per-row booleans, in
    application order (names in ``FUNNEL_RULES``). All integer
    arithmetic, so the funnel is engine-exact with no float boundary
    cases:
      1. ``min_tokens``      — at least 5 whitespace tokens
      2. ``mean_token_len``  — mean token length in [2, 12]
         (as ``2·n_tok ≤ Σlen ≤ 12·n_tok``)
      3. ``uppercase_ratio`` — uppercase chars ≤ 30% of all chars
         (as ``10·upper ≤ 3·chars``)
    """
    toks = tokens_array(text_col)
    n_tok = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    n_chars = F.length(F.col(text_col))
    upper = F.length(F.regexp_replace(F.col(text_col), "[^A-Z]", ""))
    r1 = n_tok >= 5
    r2 = (sum_len >= 2 * n_tok) & (sum_len <= 12 * n_tok)
    r3 = F.lit(10) * upper <= F.lit(3) * n_chars
    return r1, r2, r3


def funnel_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One row ``(n0, f1, f2, f3)``: the documents in, and how many
    each rule of :func:`funnel_flags` rejects among the survivors of
    the rules before it. Each document counts on its own, so the
    counts of disjoint inputs add up (the streaming gate sums them
    per micro-batch)."""
    r1, r2, r3 = funnel_flags(text_col)
    return docs.agg(
        F.count("*").alias("n0"),
        F.sum(F.when(~r1, 1).otherwise(0)).alias("f1"),
        F.sum(F.when(r1 & ~r2, 1).otherwise(0)).alias("f2"),
        F.sum(F.when(r1 & r2 & ~r3, 1).otherwise(0)).alias("f3"),
    )


def funnel_stages(counts: DataFrame) -> DataFrame:
    """Unpivot a :func:`funnel_counts` row into the funnel report:
    ``(stage, rule, n_in, n_rejected, n_out)``, one row per rule."""
    n_in, rows = F.col("n0"), []
    for i, rule in enumerate(FUNNEL_RULES, 1):
        f = F.col(f"f{i}")
        rows.append(F.struct(
            F.lit(i).alias("stage"),
            F.lit(rule).alias("rule"),
            n_in.alias("n_in"),
            f.alias("n_rejected"),
            (n_in - f).alias("n_out"),
        ))
        n_in = n_in - f
    return counts.select(F.inline(F.array(*rows)))


def filter_funnel(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style sequential quality-filter funnel: each rule sees
    only the survivors of the previous ones, and the report shows
    where documents die — ``(stage, rule, n_in, n_rejected, n_out)``,
    one row per rule in application order (rules: :func:`funnel_flags`).

    Scale: ONE pass — per-row rule booleans are computed map-side and
    reduced into a single wide aggregate row (conditional sums), then
    unpivoted driver-free via ``inline``; nothing row-sized ever
    reaches the exchange. Adding a rule is adding a boolean column.
    """
    return funnel_stages(funnel_counts(docs, text_col))


def filter_funnel_examples(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Debugging companion to :func:`filter_funnel`: for each rule,
    the ``k`` lowest-id documents that DIED there — ``(stage, rule,
    n_rejected, example_ids)`` with ids comma-joined in order. The
    "show me what this rule is killing" surface every filter tuning
    session needs.

    Scale: each document is assigned its stage-of-death in one narrow
    pass (same integer rules as the funnel), then a per-stage
    row_number window keeps only ``k`` rows per stage BEFORE any
    collect_list — the example arrays are k-bounded by construction,
    never a full failing set materialized per group.
    """
    r1, r2, r3 = funnel_flags(text_col)
    death = (
        F.when(~r1, F.lit(1)).when(~r2, F.lit(2)).when(~r3, F.lit(3))
    )
    from pyspark.sql import Window

    dead = docs.select(
        F.col(id_col).alias("doc_id"), death.alias("stage")
    ).where(F.col("stage").isNotNull())
    w = Window.partitionBy("stage").orderBy("doc_id")
    rules = F.create_map(
        *[F.lit(x) for i, rule in enumerate(FUNNEL_RULES, 1) for x in (i, rule)]
    )
    counts = dead.groupBy("stage").agg(F.count("*").alias("n_rejected"))
    examples = (
        dead.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .groupBy("stage")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "doc_id"))),
                    lambda s: s["doc_id"].cast("string"),
                ),
                ",",
            ).alias("example_ids")
        )
    )
    return (
        counts.join(examples, "stage")
        .select(
            "stage",
            rules[F.col("stage")].alias("rule"),
            "n_rejected",
            "example_ids",
        )
    )


def sentence_dedup_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Sentence-granularity duplication dashboard: per source, how
    much sentence MASS is shared with other documents — ``(source,
    n_instances, n_dup_instances, dup_ratio)``, where an instance is
    one sentence occurrence and it counts as duplicated when its
    exact text appears in ≥ 2 distinct documents. The finer-grained
    sibling of document-level exact dedup (boilerplate shows up here
    long before whole documents repeat).

    Sentences are the same ``[.!?]+``-split non-empty trimmed
    segments as :func:`sentence_stats`, so the two reports line up.

    Scale: the sentence-df table collapses to DISTINCT (doc, sentence)
    BEFORE counting (one exchange on the sentence text), and the
    instance side joins it on the same key — never instances²; the
    final rollup is source-cardinality. At 100 TB the join key could
    hash to a digest first, trading the string shuffle for md5 —
    semantics unchanged.
    """
    arr = F.filter(
        F.transform(F.split(F.col(text_col), r"[.!?]+"), lambda s: F.trim(s)),
        lambda s: F.length(s) > 0,
    )
    inst = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        F.explode(arr).alias("sent"),
    )
    df_tbl = (
        inst.select("doc_id", "sent")
        .distinct()
        .groupBy("sent")
        .agg(F.count("*").alias("n_docs"))
    )
    return (
        inst.join(df_tbl, "sent")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_instances"),
            F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_instances"),
            F.round(
                F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
                / F.count("*"),
                6,
            ).alias("dup_ratio"),
        )
    )


def vocab_coverage(
    docs: DataFrame, ks: tuple = (100, 1000, 10000),
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Vocabulary coverage curve: what fraction of all token
    OCCURRENCES the top-k most frequent terms cover, for each k —
    ``(k, covered_tokens, total_tokens, coverage)``. The curve
    tokenizer/vocab sizing decisions read off.

    Scale: the term-count table aggregates once (partial combine);
    the top-max(k) slice comes via ``orderBy().limit()`` — Spark
    plans TakeOrderedAndProject, a per-partition heap + single merge,
    NOT a global sort of the vocabulary; the cumulative sums then run
    on that k-bounded frame (single-partition window over ≤ max(k)
    rows is bounded by construction). Ties rank (cnt DESC, term ASC)
    so the curve is engine-deterministic.
    """
    # Materialize the vocab-sized term-count table ONCE: `total` and
    # `top` both consume it, and without the checkpoint Catalyst
    # re-executes the corpus tokenize+groupBy per consumer (the
    # round-6 perf finding: len(ks)+1 full corpus scans at 100 TB).
    wc = (
        docs.select(F.explode(tokens_array(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
        # eager=False: building the plan (explain/plan_audit) fires no
        # jobs; the tokenize+groupBy still materializes exactly once
        .localCheckpoint(eager=False)
    )
    from pyspark.sql import Window

    total = wc.agg(F.sum("cnt").alias("total_tokens"))
    top = wc.orderBy(F.desc("cnt"), F.asc("term")).limit(max(ks))
    # bounded-input: the max(ks) rows of the limit above
    w = Window.orderBy(F.desc("cnt"), F.asc("term"))
    ranked = top.withColumn("rn", F.row_number().over(w))
    # One conditional-sum aggregate over the k-bounded ranked frame
    # (single row), then stack-unpivot to (k, covered_tokens) — emits
    # every requested k even when the vocabulary is smaller than k
    # (the conditional sum then just covers the whole vocabulary),
    # matching the oracle's per-k scalar-aggregate semantics.
    kcols = [
        F.sum(F.when(F.col("rn") <= k, F.col("cnt")))
        .cast("long")
        .alias(f"cov_{k}")
        for k in sorted(ks)
    ]
    stack_args = ", ".join(f"{k}, cov_{k}" for k in sorted(ks))
    rows = ranked.agg(*kcols).selectExpr(
        f"stack({len(ks)}, {stack_args}) AS (k, covered_tokens)"
    )
    return rows.crossJoin(F.broadcast(total)).select(
        "k",
        "covered_tokens",
        "total_tokens",
        F.round(F.col("covered_tokens") / F.col("total_tokens"), 6).alias(
            "coverage"
        ),
    )


def idf_drift(
    docs: DataFrame, k: int = 20, min_df: int = 5,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Lexical drift monitor: split the corpus into deterministic
    halves (``doc_id % 2``) and rank terms by how much their IDF
    moved — ``(term, df_a, df_b, delta)`` for the top-k
    ``|ln(n_a/df_a) − ln(n_b/df_b)|``, terms below ``min_df`` in both
    halves excluded (rare-term noise). The vocabulary-level sibling
    of the PSI length gate: distribution drift you can READ (which
    words changed).

    Scale: two df tables from one distinct-(doc, term) collapse (the
    halves are a column, not two scans), full-outer joined at
    vocabulary size; half totals broadcast; the top-k is
    TakeOrderedAndProject. Ties break term-ascending.
    """
    pairs = (
        docs.select(
            (F.col(id_col) % 2 == 0).alias("is_a"),
            F.col(id_col).alias("doc_id"),
            F.explode(tokens_array(text_col)).alias("term"),
        )
        .distinct()
    )
    halves = pairs.groupBy("term").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("long").alias("df_a"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).cast("long").alias("df_b"),
    )
    totals = docs.agg(
        F.sum(((F.col(id_col) % 2) == 0).cast("int")).cast("long").alias("n_a"),
        F.sum(((F.col(id_col) % 2) != 0).cast("int")).cast("long").alias("n_b"),
    )
    return (
        halves.where((F.col("df_a") >= min_df) | (F.col("df_b") >= min_df))
        .where((F.col("df_a") > 0) & (F.col("df_b") > 0))
        .crossJoin(F.broadcast(totals))
        .select(
            "term",
            "df_a",
            "df_b",
            F.round(
                F.log(F.col("n_a") / F.col("df_a"))
                - F.log(F.col("n_b") / F.col("df_b")),
                6,
            ).alias("delta"),
        )
        .orderBy(F.abs(F.col("delta")).desc(), F.asc("term"))
        .limit(k)
    )


def char_entropy(
    docs: DataFrame, text_col: str = "text", source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Character-level Shannon entropy per document, summarized per
    source — ``(source, n_docs, avg_entropy, min_entropy)`` in bits.
    Low-entropy documents are repeated-character junk; abnormally
    high entropy flags binary-in-text contamination — both standard
    crawl-filter signals.

    Scale: per-document character histograms come from one explode +
    (doc, char) aggregation (combiner collapses repeats map-side;
    alphabet-bounded fan-in per doc), the per-doc entropy is a
    second char→doc rollup, and the source summary is
    source-cardinality. Per-doc entropies round to 6 dp before
    averaging (the source_stats discipline).
    """
    chars = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(source_col).alias("source"),
            F.explode(F.split(F.col(text_col), "")).alias("ch"),
        )
        .where(F.length("ch") > 0)
        .groupBy("doc_id", "source", "ch")
        .agg(F.count("*").alias("cnt"))
    )
    totals = chars.groupBy("doc_id").agg(F.sum("cnt").alias("tot"))
    p = F.col("cnt") / F.col("tot")
    per_doc = (
        chars.join(totals, "doc_id")
        .groupBy("doc_id", "source")
        .agg(F.round(-F.sum(p * F.log2(p)), 6).alias("entropy"))
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("entropy"), 6).alias("avg_entropy"),
        F.min("entropy").alias("min_entropy"),
    )


def perplexity_buckets(
    docs: DataFrame,
    n_buckets: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2019, public
    literature): within each language, rank documents by their
    language-model score and split them into equal-count quality
    buckets — CCNet's head/middle/tail, the standard first cut for
    choosing which slice of a crawl to train on. Returns
    ``(lang, bucket, n_docs, avg_logprob, min_logprob,
    max_logprob)`` with bucket 1 = most fluent (highest mean token
    log-probability under the corpus unigram LM — the same model
    :func:`unigram_logprob` exposes per document).

    Determinism across engines: the rank orders by the ROUNDED
    per-doc score (which both engines agree on bit-for-bit — it is an
    oracle-verified output) with ``doc_id`` as tiebreak, so ntile
    boundaries cannot flip on a last-ulp difference.

    Scale shape: rides unigram_logprob's partial-aggregated
    exchanges, then ONE window exchange partitioned by language for
    the ntile; the final rollup is group-cardinality (langs x
    buckets). The honest caveat: ``partitionBy(lang)`` funnels each
    language through one task, and at web-crawl scale the dominant
    language is ~half the corpus — the same one-task serialization
    ``ensure_min_parallelism`` fixes for narrow maps, but here the
    sort is semantic, not incidental. Exact equal-count ntile is kept
    because it is cross-engine reproducible (the oracle contract); at
    100 TB swap the assignment stage for per-language score boundaries
    from ``percentile_approx`` (one partial-aggregated pass, then a
    narrow bucket lookup) and accept boundary-epsilon bucket counts —
    the rollup and downstream selection logic are unchanged.
    """
    from pyspark.sql.window import Window

    scored = unigram_logprob(docs, text_col=text_col, id_col=id_col).join(
        docs.select(F.col(id_col).alias("doc_id"), F.col(lang_col).alias("lang")),
        "doc_id",
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("avg_logprob"), F.asc("doc_id")
    )
    return (
        scored.withColumn("bucket", F.ntile(n_buckets).over(w))
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("avg_logprob"), 6).alias("avg_logprob"),
            F.min("avg_logprob").alias("min_logprob"),
            F.max("avg_logprob").alias("max_logprob"),
        )
    )


def nb_quality_confusion(
    docs: DataFrame,
    tau: float = 0.52,
    holdout_mod: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Silver-label quality-classifier evaluation — the GPT-3 /
    LLaMA-style learned quality filter (public literature: Brown et
    al. 2020 train an LR filter against a reference corpus; Touvron et
    al. 2023 a fastText one), realized as the simplest deterministic
    member of the family: multinomial Naive Bayes with add-1
    smoothing, trained on the engine's own composite quality heuristic
    as silver labels. Documents with ``round(quality, 6) >= tau``
    are the positive class; docs with ``doc_id %% holdout_mod != 0``
    train, the rest evaluate; output is the confusion matrix
    ``(label, pred, n_docs)`` — the drop-in regression gate for "did
    my tokenizer/cleaning change break the quality classifier".

    Everything is closed-form, so the DuckDB oracle replays it
    exactly: per-class token counts ``c_ty`` over the train split,
    class totals ``N_y``, train vocab size ``V``, priors from doc
    counts, per-term log-likelihoods ``ln((c_ty + 1) / (N_y + V))``
    rounded to 6 dp BEFORE the per-document sum (the same
    rounded-contribution parity discipline as BM25), and
    ``pred = 1 iff s1 + prior1 >= s0 + prior0``. Unseen terms fall
    back to the smoothing floor via the left join's coalesce; eval
    docs with no tokens score priors-only.

    Scale shape: two partial-aggregated exchanges build the model
    (per-(label, term) counts, then the per-term class matrix — the
    second is vocab-sized, and AQE broadcasts it into the scoring
    join when it fits); scoring is one exchange on (doc, term) and
    one on doc; every scalar (totals, vocab size, priors) rides a
    broadcast crossJoin, never a driver collect. The confusion output
    is at most 4 rows.
    """
    if not 0.0 <= tau <= 1.0:
        raise ValueError("tau must be in [0, 1]")
    if holdout_mod < 2:
        raise ValueError("holdout_mod must be >= 2 (need both splits)")
    toks = tokens_array(text_col)
    labeled = docs.select(
        F.col(id_col).alias("doc_id"),
        (F.round(quality_expr(text_col), 6) >= F.lit(tau)).cast("int").alias("label"),
        toks.alias("ts"),
    )
    train = labeled.where(F.pmod("doc_id", F.lit(holdout_mod)) != 0)
    evals = labeled.where(F.pmod("doc_id", F.lit(holdout_mod)) == 0)

    tok_train = train.select("label", F.explode("ts").alias("term"))
    cls_tok = tok_train.groupBy("label", "term").agg(F.count("*").alias("c"))
    mat = cls_tok.groupBy("term").agg(
        F.sum(F.when(F.col("label") == 0, F.col("c")).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("label") == 1, F.col("c")).otherwise(0)).alias("c1"),
    )
    tok_scal = mat.agg(
        F.sum("c0").alias("n0"), F.sum("c1").alias("n1"),
        F.count("*").alias("v"),
    )
    doc_scal = train.agg(
        F.sum(F.when(F.col("label") == 0, 1).otherwise(0)).alias("d0"),
        F.sum(F.when(F.col("label") == 1, 1).otherwise(0)).alias("d1"),
    )
    scal = F.broadcast(tok_scal.crossJoin(doc_scal))

    eval_tf = (
        evals.select("doc_id", F.explode("ts").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    # the left join carries NULL counts for terms unseen in train —
    # coalesce to 0 so they hit the add-1 smoothing floor
    sums = (
        eval_tf.join(
            mat.select("term", F.col("c0").alias("_c0"), F.col("c1").alias("_c1")),
            "term", "left",
        )
        .crossJoin(scal)
        .select(
            "doc_id",
            (F.col("tf") * F.round(
                F.log((F.coalesce(F.col("_c0"), F.lit(0)) + 1)
                      / (F.col("n0") + F.col("v"))), 6)).alias("p0"),
            (F.col("tf") * F.round(
                F.log((F.coalesce(F.col("_c1"), F.lit(0)) + 1)
                      / (F.col("n1") + F.col("v"))), 6)).alias("p1"),
        )
        .groupBy("doc_id")
        .agg(F.sum("p0").alias("s0"), F.sum("p1").alias("s1"))
    )
    lp0 = F.round(F.log(F.col("d0") / (F.col("d0") + F.col("d1"))), 6)
    lp1 = F.round(F.log(F.col("d1") / (F.col("d0") + F.col("d1"))), 6)
    # degenerate single-class training: P(missing class) = 0, so the
    # present class always wins (ln(0) would NULL the comparison)
    pred = (
        F.when(F.col("d1") == 0, F.lit(0))
        .when(F.col("d0") == 0, F.lit(1))
        .otherwise(
            (
                F.coalesce(F.col("s1"), F.lit(0.0)) + lp1
                >= F.coalesce(F.col("s0"), F.lit(0.0)) + lp0
            ).cast("int")
        )
    )
    scored = (
        evals.select("doc_id", "label")
        .join(sums, "doc_id", "left")
        .crossJoin(scal)
        .select("label", pred.alias("pred"))
    )
    return scored.groupBy("label", "pred").agg(F.count("*").alias("n_docs"))


def gopher_quality_gate(
    docs: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_stop_hits: int = 2,
    max_dup_word_frac: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher-style rule filtering (Rae et al. 2021 §A1.1, public
    literature; the C4/FineWeb family's document-level gates): per
    document, the rule METRICS — word count, mean word length,
    stopword hits, duplicate-word fraction — plus one boolean per
    rule and the conjunction, ``(doc_id, n_words, mean_word_len,
    stop_hits, dup_word_frac, len_ok, word_len_ok, stop_ok, dup_ok,
    passes)``. Thresholds are the published Gopher defaults; a
    deployment tunes them per corpus.

    Scale shape: every metric is a JVM expression over the per-row
    token array (tokenize once, reuse four ways) — zero shuffles,
    zero Python, fully column-pruned (only ``text`` + the id leave
    the scan). Fractions round to 6 dp (the cross-engine parity
    discipline); rules compare the ROUNDED values so the flags are
    engine-exact too."""
    toks = tokens_array(text_col)
    n = F.size(toks)
    mean_wl = F.round(
        F.when(
            n > 0,
            F.aggregate(
                toks, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
            )
            / n,
        ).otherwise(0.0),
        6,
    )
    stop_hits = F.size(F.filter(toks, lambda w: w.isin(*STOPWORDS)))
    dup_frac = F.round(
        F.when(n > 0, (n - F.size(F.array_distinct(toks))) / n).otherwise(
            0.0
        ),
        6,
    )
    out = docs.select(
        id_col,
        n.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        stop_hits.alias("stop_hits"),
        dup_frac.alias("dup_word_frac"),
    ).select(
        "*",
        ((F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)).alias(
            "len_ok"
        ),
        (
            (F.col("mean_word_len") >= min_mean_word_len)
            & (F.col("mean_word_len") <= max_mean_word_len)
        ).alias("word_len_ok"),
        (F.col("stop_hits") >= min_stop_hits).alias("stop_ok"),
        (F.col("dup_word_frac") <= max_dup_word_frac).alias("dup_ok"),
    )
    return out.select(
        "*",
        (
            F.col("len_ok")
            & F.col("word_len_ok")
            & F.col("stop_ok")
            & F.col("dup_ok")
        ).alias("passes"),
    )


def heaps_law_fit(
    docs: DataFrame,
    n_buckets: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Heaps'-law vocabulary-growth curve and fit (Heaps 1978, public
    literature; the dual of ``q_zipf_fit``'s rank-frequency law):
    scanning the corpus in ``doc_id`` order, the distinct-type count
    grows as ``V(N) ~ K * N^beta`` with ``beta`` ~ 0.4-0.6 for
    natural text — a corpus whose curve bends early is repeating
    itself (boilerplate/dup-heavy); one that stays near-linear is
    noise-heavy (OCR garbage mints new "types" forever). Returns the
    ``n_buckets``-point growth curve with the log-log least-squares
    fit on every row: ``(bucket, cum_tokens, cum_vocab, heaps_beta,
    heaps_logk)``.

    Bucketing is by id-range (``least(n_buckets-1, id*n_buckets div
    (max_id+1))``), not by rank, so no corpus-sized global window
    exists anywhere: a type's first occurrence is a plain
    ``min(doc_id)`` aggregate, per-bucket token mass and new-type
    counts are group-bys, and the cumulative sums + regression run
    on the ``n_buckets``-row scaffold. Two corpus-sized exchanges
    total (token group-by, doc group-by) — the word_count cost
    class.
    """
    from pyspark.sql.window import Window

    toks = tokens_array(text_col)
    mx = docs.agg(F.max(id_col).alias("mx"))
    with_b = docs.crossJoin(F.broadcast(mx)).select(
        F.least(
            F.lit(n_buckets - 1),
            F.expr(f"({id_col} * {n_buckets}) div (mx + 1)"),
        ).alias("bucket"),
        F.col(id_col).alias("__id"),
        toks.alias("__toks"),
    )
    per_bucket_tokens = with_b.groupBy("bucket").agg(
        F.sum(F.size("__toks")).alias("n_tok")
    )
    first_occ = (
        # explode_outer + NULL-drop, not plain explode (package-wide
        # *_outer discipline, operators/text.py NOTE):
        # InferFiltersFromGenerate + pushdown can inline the computed
        # __toks expression into a scan filter and re-run the
        # tokenization per row; empty docs still drop via the filter.
        with_b.select("__id", F.explode_outer("__toks").alias("token"))
        .where(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.min("__id").alias("first_id"))
        .crossJoin(F.broadcast(mx))
        .select(
            F.least(
                F.lit(n_buckets - 1),
                F.expr(f"(first_id * {n_buckets}) div (mx + 1)"),
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("new_types"))
    )
    scaffold = docs.sparkSession.range(0, n_buckets).select(
        F.col("id").alias("bucket")
    )
    # bounded-input: one row per bucket (n_buckets)
    w = Window.orderBy("bucket")
    curve = (
        scaffold.join(per_bucket_tokens, "bucket", "left")
        .join(first_occ, "bucket", "left")
        .select(
            "bucket",
            F.sum(F.coalesce(F.col("n_tok"), F.lit(0))).over(w)
            .cast("long").alias("cum_tokens"),
            F.sum(F.coalesce(F.col("new_types"), F.lit(0))).over(w)
            .cast("long").alias("cum_vocab"),
        )
    )
    fit = curve.where(
        (F.col("cum_tokens") > 0) & (F.col("cum_vocab") > 0)
    ).agg(
        F.round(
            F.expr("regr_slope(ln(cum_vocab), ln(cum_tokens))"), 6
        ).alias("heaps_beta"),
        F.round(
            F.expr("regr_intercept(ln(cum_vocab), ln(cum_tokens))"), 6
        ).alias("heaps_logk"),
    )
    return curve.crossJoin(F.broadcast(fit)).select(
        F.col("bucket").cast("int").alias("bucket"),
        "cum_tokens",
        "cum_vocab",
        "heaps_beta",
        "heaps_logk",
    )
