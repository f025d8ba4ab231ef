"""Featurization: the hashing-trick term-frequency vectorizer.

The bridge from curated text to trainable features — the same
contract as Spark MLlib's HashingTF / sklearn's HashingVectorizer
(public APIs; implementation here is independent DataFrame algebra):
each token is hashed into one of ``n_features`` buckets and the
document becomes a sparse count vector. No vocabulary pass, no fitted
state, no driver-side dictionary — the property that makes the
hashing trick THE featurizer at 100 TB (a vocabulary join would be a
second full scan plus a giant dimension table).

Sparse output as parallel arrays ``(indices, values)`` sorted by
index — the standard sparse-vector wire format, and deterministic so
the DuckDB oracle matches element-for-element. The hash is the
engine-portable md5 family (functions/hashing.h60), not MurmurHash3 —
same trade as MinHash: bit-portability across engines over raw speed.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.hashing import h60
from .text import tokens_array

__all__ = ["hashing_tf", "hashing_tfidf", "quantile_buckets", "bpe_merges", "bpe_encode", "bpe_token_counts", "normalize_values", "target_encoding", "span_corruption_stats"]


def _bucket_counts(
    docs: DataFrame, n_features: int, text_col: str, id_col: str
) -> DataFrame:
    """Shared stage: ``(doc_id, bucket, tf)`` per (document, hash
    bucket), with one all-NULL-bucket row per empty document so empty
    docs survive to the vector-assembly stage."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(tokens_array(text_col)).alias("token"),
    )
    return (
        toks.withColumn(
            "bucket",
            F.when(
                F.col("token").isNotNull(),
                F.pmod(h60("token"), F.lit(n_features)).cast("int"),
            ),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count("token").alias("tf"))  # count(token): 0 token rows -> tf 0
    )


def _assemble_sparse(counts: DataFrame, value_col: str) -> DataFrame:
    """(doc_id, bucket, <value>) → (doc_id, indices, values) sorted by
    index; NULL buckets (empty docs) become empty vectors."""
    pairs = F.array_sort(
        F.collect_list(
            F.when(
                F.col("bucket").isNotNull(),
                F.struct(F.col("bucket").alias("i"), F.col(value_col).alias("v")),
            )
        )
    )
    return counts.groupBy("doc_id").agg(
        F.transform(pairs, lambda s: s["i"]).alias("indices"),
        F.transform(pairs, lambda s: s["v"]).alias("values"),
    )


def hashing_tf(
    docs: DataFrame,
    n_features: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(doc_id, indices ARRAY<INT>, values ARRAY<LONG>)`` — sparse
    hashed term-frequency vectors over whitespace tokens.

    Plan shape: explode → one partial-aggregated exchange on
    ``(doc, bucket)`` (the combiner collapses repeated tokens
    map-side) → one exchange on ``doc`` to assemble the sparse arrays
    (bounded per row by min(n_distinct_tokens, n_features) entries).
    Empty documents produce an empty vector row, not a missing row —
    downstream training joins must not silently drop examples.
    """
    if n_features < 1:
        raise ValueError("n_features must be >= 1")
    counts = _bucket_counts(docs, n_features, text_col, id_col)
    return _assemble_sparse(counts, "tf")


def hashing_tfidf(
    docs: DataFrame,
    n_features: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """IDF-weighted hashed vectors — ``(doc_id, indices ARRAY<INT>,
    values ARRAY<DOUBLE>)`` with
    ``value = round(tf * (ln((N+1)/(df+1)) + 1), 6)`` (the smoothed
    sklearn-convention idf over hash buckets; N = corpus size, df =
    documents hitting the bucket).

    Both corpus statistics stay IN the plan: the bucket df table is at
    most ``n_features`` rows (one partial-aggregated exchange, then a
    broadcast back onto the counts) and N is a broadcast 1-row cross
    join — no driver action, no fitted state to ship. Per-document
    values are rounded BEFORE assembly so the double math is
    order-free and the DuckDB oracle matches exactly.
    """
    if n_features < 1:
        raise ValueError("n_features must be >= 1")
    counts = _bucket_counts(docs, n_features, text_col, id_col)
    df_tbl = (
        counts.where(F.col("bucket").isNotNull())
        .groupBy("bucket")
        .agg(F.count("*").alias("df"))  # (doc, bucket) rows are unique
    )
    n_tbl = counts.agg(F.countDistinct("doc_id").alias("n_docs"))
    weighted = (
        counts.join(F.broadcast(df_tbl), "bucket", "left")
        .crossJoin(F.broadcast(n_tbl))
        .withColumn(
            "w",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + 1) / (F.coalesce(F.col("df"), F.lit(0)) + 1))
                    + 1
                ),
                6,
            ),
        )
    )
    return _assemble_sparse(weighted, "w")


def quantile_buckets(
    df: DataFrame, value_col: str, n_buckets: int = 4, id_col: str = "event_id"
) -> DataFrame:
    """Exact equi-depth bucketizer (the QuantileDiscretizer contract,
    but exact): rows are assigned to ``n_buckets`` buckets split at the
    exact ``i/n_buckets`` percentiles of ``value_col``. Boundary
    semantics: a value equal to a split lands in the LOWER bucket
    (``bucket = #splits strictly below the value + 1``), deterministic
    across engines.

    Scale: two passes — a single global percentile aggregate (one
    1-row result, explicitly broadcast) and a narrow bucket-assignment
    projection. No sort, no shuffle of the data itself; the Spark ML
    analogue approximates the splits for the same reason this computes
    them in one aggregate rather than a total order.
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    qs = ", ".join(str(i / n_buckets) for i in range(1, n_buckets))
    bounds = df.agg(
        F.expr(f"percentile({value_col}, array({qs}))").alias("_bounds")
    )
    return (
        df.crossJoin(F.broadcast(bounds))
        .select(
            F.col(id_col),
            F.col(value_col),
            (
                F.size(F.filter(F.col("_bounds"), lambda b: F.col(value_col) > b))
                + 1
            ).alias("bucket"),
        )
    )


def bpe_merges(
    docs: DataFrame, n_merges: int = 5, text_col: str = "text"
) -> DataFrame:
    """BPE tokenizer training (simplified: no end-of-word marker):
    learn the ``n_merges`` highest-count byte-pair merges from the
    corpus, greedy left-to-right application between rounds. Returns
    the learned merge table ``(rank, lhs, rhs, pair_cnt)``; ties break
    (count DESC, lhs, rhs), deterministic across engines.

    One Spark job: the word-frequency vocabulary is aggregated
    distributed (corpus volume collapses in that one shuffle, which is
    why real BPE trainers work on word counts), then the classic
    in-memory trainer runs over the vocabulary inside ONE
    ``mapInPandas`` partition, so the merge count costs no extra jobs.

    Contract: the vocabulary (one row per distinct word, not the
    corpus) must fit in one executor's memory, the trade every
    production subword trainer makes.
    """
    from .text import word_count

    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    vocab = word_count(docs, text_col=text_col)

    def train(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import pandas as pd
        from collections import Counter

        pdf = pd.concat(list(batches), ignore_index=True)
        words: list[tuple[list, int]] = [
            (list(w), int(c)) for w, c in zip(pdf["word"], pdf["cnt"])
        ]
        merges: list[tuple[int, str, str, int]] = []
        for rank in range(1, n_merges + 1):
            pc: Counter = Counter()
            for syms, c in words:
                for i in range(len(syms) - 1):
                    pc[(syms[i], syms[i + 1])] += c
            if not pc:
                break
            # tie-break: count DESC, lhs, rhs
            (l, r), cnt = min(
                pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            merges.append((rank, l, r, cnt))
            if rank == n_merges:
                break
            merged = l + r
            for idx, (syms, c) in enumerate(words):
                out: list = []
                for s in syms:
                    # greedy left-to-right, as _merge_fold: a freshly
                    # merged token participates in the NEXT comparison
                    if out and out[-1] == l and s == r:
                        out[-1] = merged
                    else:
                        out.append(s)
                words[idx] = (out, c)
        yield pd.DataFrame(
            merges, columns=["rank", "lhs", "rhs", "pair_cnt"]
        ).astype({"rank": "int32", "pair_cnt": "int64"})

    return vocab.repartition(1).mapInPandas(
        train, "rank int, lhs string, rhs string, pair_cnt long"
    )


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """Apply a learned BPE merge table (see :func:`bpe_merges`) and
    return the corpus subword-frequency table ``(subword, cnt)`` — the
    trained tokenizer's vocabulary usage over this corpus.

    Encoding happens on the word-frequency vocabulary (one fold chain
    per DISTINCT word, weighted by count on the way out), so the
    per-token work is amortized exactly like the trainer's; the merge
    list is driver-side constants baked into the plan (rank order =
    application order, matching BPE semantics).
    """
    from .text import word_count

    state = word_count(docs, text_col=text_col).select(
        "word", "cnt", _chars().alias("syms")
    )
    col = _apply_merges(F.col("syms"), merges)
    return (
        state.select("cnt", F.explode_outer(col).alias("subword"))
        .where(F.col("subword").isNotNull())
        .groupBy("subword")
        .agg(F.sum("cnt").alias("cnt"))
    )


def _chars():
    """word → its character-symbol array (the BPE fold's starting
    state); built lazily — F.expr needs an active SparkContext."""
    return F.expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
    )


def _merge_fold(lhs: str, rhs: str):
    """One merge rule as a greedy left-to-right F.aggregate lambda —
    a freshly merged token participates in the next comparison,
    matching every classic BPE applier (factory form: F.aggregate
    rejects lambdas with default-arg closures)."""
    merged = F.lit(lhs + rhs)

    def fold(acc, x):
        hit = (
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(lhs))
            & (x == F.lit(rhs))
        )
        return F.when(
            hit,
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x)))

    return fold


def _apply_merges(col, merges: list[tuple[str, str]]):
    """Chain the merge table over a symbol-array column in rank
    order — BPE application semantics."""
    for lhs, rhs in merges:
        col = F.aggregate(
            col, F.array().cast("array<string>"), _merge_fold(lhs, rhs)
        )
    return col


def bpe_token_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(doc_id, bpe_tokens LONG)`` — per-document token count under
    a LEARNED BPE merge table: the real-tokenizer length signal
    (text_quality.token_counts' regex count is a proxy), and the right
    input for sequence packing against an actual training tokenizer.

    Scale: the fold chain runs once per DISTINCT word (the vocabulary,
    not the corpus), producing a ``word → n_subwords`` table that joins
    back onto per-document ``(doc, word, tf)`` pairs — so a hot word
    costs one fold and one probe row per document, never per
    occurrence. Empty documents emit ``bpe_tokens = 0``, not a missing
    row (same keep-every-example contract as :func:`hashing_tf`).
    """
    from .text import tokens_array

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(tokens_array(text_col)).alias("word"),
    )
    tf = toks.groupBy("doc_id", "word").agg(F.count("word").alias("tf"))
    words = tf.where(F.col("word").isNotNull()).select("word").distinct()
    wlen = words.select(
        "word", F.size(_apply_merges(_chars(), merges)).alias("n_sub")
    )
    return (
        tf.join(wlen, "word", "left")
        .groupBy("doc_id")
        .agg(
            F.coalesce(F.sum(F.col("tf") * F.col("n_sub")), F.lit(0))
            .cast("long")
            .alias("bpe_tokens")
        )
    )


def normalize_values(
    df: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str = "event_id",
) -> DataFrame:
    """Per-group feature normalization: z-score and min-max forms of
    ``value_col`` within each ``group_col`` — the standard scaler pair,
    computed exactly.

    Scale: one partial-aggregated stats pass (5 aggregates per group —
    group-count rows total), joined back to the rows; AQE broadcasts
    the stats side. No window over raw rows, so a hot group costs a
    join probe, not a sort. Groups with zero variance emit NULL
    z-scores and 0.5 min-max (the degenerate-range convention);
    single-row groups follow the same rule.

    Determinism (round-10 float-round lint): ``avg``/``stddev_samp``
    over doubles are scheduling-order-dependent, and every OUTPUT ROW
    rounds a value derived from them — per-event cardinality makes
    that the largest boundary-flake surface in the registry. The
    sufficient statistics therefore run in exact DECIMAL(18,6)
    (Σv and Σv², order-independent by construction — the
    :func:`target_encoding` discipline), and μ/σ are derived from
    them with the identical IEEE expression the DuckDB oracle uses:
    ``sd = sqrt(greatest(0, (s2 − s·s/n)/(n−1)))``.

    ``n`` counts non-NULL values (``count(value)``, not ``count(*)``)
    so NULL rows cannot deflate μ/σ — they still pass through with
    NULL z-score/min-max. Precondition: ``|value| < 1e12`` (the
    DECIMAL(18,6) cast's range; Σv² needs v·v to fit DECIMAL(37,12),
    so the cast cannot be widened without losing the exact-sum
    property). The events table is bounded far inside that.
    """
    dec = F.col(value_col).cast("decimal(18,6)")
    stats = df.groupBy(group_col).agg(
        F.count(value_col).alias("_n"),
        F.sum(dec).alias("_s"),
        F.sum(dec * dec).alias("_s2"),
        F.min(value_col).alias("_lo"),
        F.max(value_col).alias("_hi"),
    )
    n = F.col("_n")
    s = F.col("_s").cast("double")
    s2 = F.col("_s2").cast("double")
    mu = s / n
    sd = F.when(
        n > 1,
        F.sqrt(F.greatest(F.lit(0.0), (s2 - s * s / n) / (n - F.lit(1)))),
    )
    z = F.when(
        sd.isNotNull() & (sd > 0),
        F.round((F.col(value_col) - mu) / sd, 6),
    )
    rng = F.col("_hi") - F.col("_lo")
    mm = F.when(rng > 0, F.round((F.col(value_col) - F.col("_lo")) / rng, 6)).otherwise(
        0.5
    )
    return df.join(stats, group_col).select(
        F.col(id_col),
        F.col(group_col),
        F.round(F.col(value_col), 6).alias(value_col),
        z.alias("zscore"),
        mm.alias("minmax"),
    )


def target_encoding(
    df: DataFrame,
    category_col: str,
    target_col: str,
    smoothing: float = 10.0,
) -> DataFrame:
    """Smoothed mean target encoding — the leakage-resistant
    categorical feature: per category, ``encoded = (sum_target +
    m * global_mean) / (n + m)`` with smoothing weight ``m``, pulling
    rare categories toward the global mean. Returns one row per
    category: ``(category, n, cat_mean, encoded)``.

    Scale: two partial-aggregated passes over the fact column — the
    per-category sums (one exchange on the category key, cardinality =
    category-domain rows) and a single-row global aggregate that
    broadcasts back via crossJoin. Sums run in exact decimal so the
    division inputs are engine-stable; no window, no per-row state.
    """
    dec = F.col(target_col).cast("decimal(18,6)")
    per_cat = df.groupBy(F.col(category_col).alias("category")).agg(
        F.count("*").alias("n"), F.sum(dec).alias("_s")
    )
    glob = df.agg(
        F.sum(dec).alias("_gs"), F.count("*").alias("_gn")
    )
    gmean = F.col("_gs").cast("double") / F.col("_gn")
    return (
        per_cat.crossJoin(F.broadcast(glob))
        .select(
            "category",
            "n",
            F.round(F.col("_s").cast("double") / F.col("n"), 6).alias("cat_mean"),
            F.round(
                (F.col("_s").cast("double") + F.lit(smoothing) * gmean)
                / (F.col("n") + F.lit(smoothing)),
                6,
            ).alias("encoded"),
        )
    )


def span_corruption_stats(
    docs: DataFrame,
    mask_pct: int = 15,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """T5-style span-corruption accounting: token ``i`` of a document
    is masked iff ``h28(doc_id || ':' || i) % 100 < mask_pct`` (a
    deterministic per-position coin — same tokens mask on every run
    and every engine), and a SPAN is a maximal run of consecutive
    masked tokens (what a denoising objective replaces with one
    sentinel). Returns ``(doc_id, n_tokens, n_masked, n_spans)`` —
    the budget sheet for choosing a corruption rate.

    Scale: completely narrow — the flag array, the masked count, and
    the run-boundary count are all per-row higher-order functions
    over the token array (transform / filter / aggregate); no
    explode, no shuffle until the caller aggregates. The span count
    folds left with (prev, count) state, adding 1 exactly when a
    masked token follows an unmasked one. Narrow also means the scan's
    partitioning is inherited verbatim, so a few-file input would run
    the whole pass on a few tasks — ``ensure_min_parallelism`` splits
    that case (and only that case) up front.
    """
    from ..sources.tables import ensure_min_parallelism

    docs = ensure_min_parallelism(docs)
    toks = tokens_array(text_col)
    flags = F.transform(
        toks,
        lambda t, i: (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col(id_col).cast("string"),
                            F.lit(":"),
                            i.cast("string"),
                        )
                    ),
                    1,
                    7,
                ),
                16,
                10,
            ).cast("long")
            % 100
            < mask_pct
        ),
    )
    spans = F.aggregate(
        flags,
        F.struct(
            F.lit(False).alias("prev"), F.lit(0).alias("cnt")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            (
                acc["cnt"]
                + F.when(x & ~acc["prev"], F.lit(1)).otherwise(F.lit(0))
            ).alias("cnt"),
        ),
    )["cnt"]
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.filter(flags, lambda x: x)).cast("long").alias("n_masked"),
        spans.cast("long").alias("n_spans"),
    )
