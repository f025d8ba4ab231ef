"""Feature engineering: hashing TF/TF-IDF, BPE, value buckets, target
encoding and span corruption."""

from __future__ import annotations

import pyspark.sql.functions as F

from ..functions.hashing import h60, h60_sql
from ..operators import features, text
from ..sources.tables import load_table
from ._shared import _TOK, _docs, _events

ORACLE: dict[str, str] = {}


def q_hashing_tf(spark, sf_dir):
    return features.hashing_tf(_docs(spark, sf_dir), n_features=1024)


# hashing-trick TF vectors: sparse (indices, values) arrays sorted by
# bucket; the LEFT JOIN keeps empty documents as empty vectors (the
# operator's contract — training joins must not drop examples).
ORACLE["hashing_tf"] = f"""
WITH tok AS (SELECT doc_id, unnest({_TOK}) AS token FROM documents),
c AS (
  SELECT doc_id,
         CAST({h60_sql("token")} % 1024 AS INTEGER) AS bucket,
         count(*) AS tf
  FROM tok GROUP BY doc_id, bucket
),
agg AS (
  SELECT doc_id,
         list(bucket ORDER BY bucket) AS indices,
         list(tf ORDER BY bucket) AS "values"
  FROM c GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(a.indices, CAST([] AS INTEGER[])) AS indices,
       coalesce(a."values", CAST([] AS BIGINT[])) AS "values"
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


def q_hashing_tfidf(spark, sf_dir):
    return features.hashing_tfidf(_docs(spark, sf_dir), n_features=1024)


# idf-weighted variant: value = round(tf * (ln((N+1)/(df+1)) + 1), 6)
# with df per hash bucket and N the corpus size, both re-derived.
ORACLE["hashing_tfidf"] = f"""
WITH tok AS (SELECT doc_id, unnest({_TOK}) AS token FROM documents),
c AS (
  SELECT doc_id,
         CAST({h60_sql("token")} % 1024 AS INTEGER) AS bucket,
         count(*) AS tf
  FROM tok GROUP BY doc_id, bucket
),
dfb AS (SELECT bucket, count(*) AS df FROM c GROUP BY bucket),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
w AS (
  SELECT c.doc_id, c.bucket,
         round(c.tf * (ln((n.n_docs + 1) / CAST(dfb.df + 1 AS DOUBLE)) + 1), 6) AS w
  FROM c JOIN dfb USING (bucket) CROSS JOIN n
),
agg AS (
  SELECT doc_id,
         list(bucket ORDER BY bucket) AS indices,
         list(w ORDER BY bucket) AS "values"
  FROM w GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(a.indices, CAST([] AS INTEGER[])) AS indices,
       coalesce(a."values", CAST([] AS DOUBLE[])) AS "values"
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


def _vector_cells(vec, value_name: str):
    """Driver-window rendering of a sparse (indices, values) vector
    frame as scalar rows ``(doc_id, pos, bucket, <value>)`` — the
    driver's pandas canonicalizer cannot sort/hash ARRAY columns
    (round-5 red rows), so the window registers this exploded view and
    the array originals live in EXTRA_QUERIES. Empty documents carry
    empty vectors and so contribute zero rows here (posexplode drops
    them); the array originals still assert the empty-vector contract."""
    z = vec.select(
        "doc_id",
        F.posexplode(F.arrays_zip("indices", "values")).alias("pos", "cell"),
    )
    return z.select(
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        F.col("cell.indices").alias("bucket"),
        F.col("cell.values").alias(value_name),
    )


def q_hashing_tf_cells(spark, sf_dir):
    return _vector_cells(
        features.hashing_tf(_docs(spark, sf_dir), n_features=1024), "tf"
    )


# scalar (exploded) renderings of the two sparse-vector queries for
# the driver window: pos = rank of the bucket within the doc's sorted
# index array; empty docs contribute zero rows (arrays stay empty in
# the originals above, which keep the empty-vector contract).
ORACLE["hashing_tf_cells"] = f"""
WITH tok AS (SELECT doc_id, unnest({_TOK}) AS token FROM documents),
c AS (
  SELECT doc_id,
         CAST({h60_sql("token")} % 1024 AS INTEGER) AS bucket,
         count(*) AS tf
  FROM tok GROUP BY doc_id, bucket
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY bucket) - 1
            AS INTEGER) AS pos,
       bucket,
       CAST(tf AS BIGINT) AS tf
FROM c
"""


def q_hashing_tfidf_cells(spark, sf_dir):
    return _vector_cells(
        features.hashing_tfidf(_docs(spark, sf_dir), n_features=1024), "tfidf"
    )


ORACLE["hashing_tfidf_cells"] = f"""
WITH tok AS (SELECT doc_id, unnest({_TOK}) AS token FROM documents),
c AS (
  SELECT doc_id,
         CAST({h60_sql("token")} % 1024 AS INTEGER) AS bucket,
         count(*) AS tf
  FROM tok GROUP BY doc_id, bucket
),
dfb AS (SELECT bucket, count(*) AS df FROM c GROUP BY bucket),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
w AS (
  SELECT c.doc_id, c.bucket,
         round(c.tf * (ln((n.n_docs + 1) / CAST(dfb.df + 1 AS DOUBLE)) + 1), 6) AS tfidf
  FROM c JOIN dfb USING (bucket) CROSS JOIN n
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY bucket) - 1
            AS INTEGER) AS pos,
       bucket,
       tfidf
FROM w
"""


def q_value_buckets(spark, sf_dir):
    """Exact equi-depth quartile bucketing of event values, reported
    as the per-bucket histogram (depths near-equal by construction)."""
    b = features.quantile_buckets(
        _events(spark, sf_dir), value_col="value", n_buckets=4
    )
    return b.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.round(F.min("value"), 6).alias("vmin"),
        F.round(F.max("value"), 6).alias("vmax"),
    )


ORACLE["value_buckets"] = """
WITH bounds AS (
  SELECT quantile_cont(value, [0.25, 0.5, 0.75]) AS bs FROM events
), assigned AS (
  SELECT e.value,
         CAST(len(list_filter(b.bs, x -> e.value > x)) + 1 AS INTEGER) AS bucket
  FROM events e, bounds b
)
SELECT bucket, count(*) AS n,
       round(min(value), 6) AS vmin, round(max(value), 6) AS vmax
FROM assigned GROUP BY bucket
"""


def _bpe_oracle_sql(n_merges: int = 5) -> str:
    """Unrolled BPE-trainer oracle: per round, the pair-count argmax
    (b{{i}}) and the greedy left-to-right merge fold (v{{i}}) via
    DuckDB list_reduce — same shape as the unrolled pagerank oracle."""
    parts = [
        f"""v0 AS (
  SELECT word, cnt,
         list_transform(range(1, len(word) + 1), i -> word[i:i]) AS syms
  FROM (SELECT t AS word, count(*) AS cnt
        FROM (SELECT unnest({_TOK}) AS t FROM documents) GROUP BY t)
)"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f"""p{i} AS (
  SELECT p.l AS l, p.r AS r, sum(cnt) AS pc
  FROM (SELECT cnt,
               unnest(list_transform(range(1, len(syms)),
                      j -> {{'l': syms[j], 'r': syms[j + 1]}})) AS p
        FROM v{i - 1} WHERE len(syms) >= 2)
  GROUP BY 1, 2
),
b{i} AS (SELECT l, r, pc FROM p{i} ORDER BY pc DESC, l, r LIMIT 1)"""
        )
        if i < n_merges:
            parts.append(
                f"""v{i} AS (
  SELECT word, cnt,
         list_reduce(list_transform(syms, s -> [s]),
           (acc, x) -> CASE WHEN len(acc) >= 1 AND acc[len(acc)] = b{i}.l
                                 AND x[1] = b{i}.r
                       THEN acc[1:len(acc) - 1] || [b{i}.l || b{i}.r]
                       ELSE acc || x END) AS syms
  FROM v{i - 1}, b{i}
)"""
            )
    selects = "\nUNION ALL\n".join(
        # CAST: DuckDB sum() yields HUGEINT, which pandas renders as
        # float64 — the driver's value hash then misses Spark's int64
        # even when every value is equal (round-5 red row).
        f"SELECT {i} AS rank, l AS lhs, r AS rhs, CAST(pc AS BIGINT) AS pair_cnt FROM b{i}"
        for i in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + selects


def q_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer training: the 5 highest-count merges
    learned from the corpus vocabulary (greedy left-to-right
    application between rounds, deterministic tie-break). The oracle
    replays all 5 rounds in DuckDB — list_reduce reproduces the fold
    bit-for-bit."""
    return features.bpe_merges(_docs(spark, sf_dir), n_merges=5)


ORACLE["bpe_merges"] = _bpe_oracle_sql(5)


def _bpe_vocab_oracle_sql(n_merges: int = 5) -> str:
    """Extends the trainer oracle with the final round's fold (v{n})
    and the weighted subword explode — the encode step in SQL."""
    base = _bpe_oracle_sql(n_merges)
    with_block = base[: base.rindex("\nSELECT 1 AS rank")]
    i = n_merges
    final_fold = f""",
v{i} AS (
  SELECT word, cnt,
         list_reduce(list_transform(syms, s -> [s]),
           (acc, x) -> CASE WHEN len(acc) >= 1 AND acc[len(acc)] = b{i}.l
                                 AND x[1] = b{i}.r
                       THEN acc[1:len(acc) - 1] || [b{i}.l || b{i}.r]
                       ELSE acc || x END) AS syms
  FROM v{i - 1}, b{i}
)
SELECT s AS subword, CAST(sum(cnt) AS BIGINT) AS cnt
FROM (SELECT cnt, unnest(syms) AS s FROM v{i})
GROUP BY s"""
    return with_block + final_fold


def q_bpe_vocab(spark, sf_dir):
    """Train-then-apply: encode the corpus with its own learned 5-merge
    BPE table and return the subword-frequency vocabulary. The merge
    list crossing the driver is 5 rows — bounded by construction."""
    learned = [
        (r["lhs"], r["rhs"])
        # r15: the single-job batch-argmax trainer — identical merge
        # table (same unrolled oracle; probe-pinned), 2.1 -> 0.6 s
        for r in features.bpe_merges_local(_docs(spark, sf_dir), n_merges=5)
        .orderBy("rank")
        .collect()
    ]
    return features.bpe_encode(_docs(spark, sf_dir), learned)


ORACLE["bpe_vocab"] = _bpe_vocab_oracle_sql(5)


def _bpe_token_counts_oracle_sql(n_merges: int = 5) -> str:
    """Extends the trainer oracle with the final fold and a per-doc
    tf-pair join: doc token count = Σ tf(word) * len(syms(word));
    empty docs keep a 0 row via the LEFT JOIN off documents."""
    base = _bpe_oracle_sql(n_merges)
    with_block = base[: base.rindex("\nSELECT 1 AS rank")]
    i = n_merges
    return with_block + f""",
v{i} AS (
  SELECT word, cnt,
         list_reduce(list_transform(syms, s -> [s]),
           (acc, x) -> CASE WHEN len(acc) >= 1 AND acc[len(acc)] = b{i}.l
                                 AND x[1] = b{i}.r
                       THEN acc[1:len(acc) - 1] || [b{i}.l || b{i}.r]
                       ELSE acc || x END) AS syms
  FROM v{i - 1}, b{i}
),
wl AS (SELECT word, len(syms) AS n_sub FROM v{i}),
tf AS (
  SELECT doc_id, t AS word, count(*) AS tf
  FROM (SELECT doc_id, unnest({_TOK}) AS t FROM documents)
  GROUP BY 1, 2
)
SELECT d.doc_id,
       CAST(coalesce(sum(tf.tf * wl.n_sub), 0) AS BIGINT) AS bpe_tokens
FROM documents d
LEFT JOIN tf ON tf.doc_id = d.doc_id
LEFT JOIN wl ON wl.word = tf.word
GROUP BY d.doc_id"""


def q_bpe_token_counts(spark, sf_dir):
    """Per-document token count under the corpus's own learned 5-merge
    BPE table — the real-tokenizer length signal (token_counts' regex
    count is a proxy); the fold runs once per distinct word and joins
    back on tf pairs."""
    docs = _docs(spark, sf_dir)
    learned = [
        (r["lhs"], r["rhs"])
        # r15: single-job trainer, identical merge table (see q_bpe_vocab)
        for r in features.bpe_merges_local(docs, n_merges=5).orderBy("rank").collect()
    ]
    return features.bpe_token_counts(docs, learned)


ORACLE["bpe_token_counts"] = _bpe_token_counts_oracle_sql(5)


def q_target_encoding(spark, sf_dir):
    """Smoothed mean target encoding of order priority against order
    value (m=10) — the classic leakage-resistant categorical feature."""
    return features.target_encoding(
        load_table(spark, sf_dir, "orders"), "o_orderpriority", "o_totalprice"
    )


ORACLE["target_encoding"] = """
WITH pc AS (
  SELECT o_orderpriority AS category, count(*) AS n,
         sum(CAST(o_totalprice AS DECIMAL(18,6))) AS s
  FROM orders GROUP BY 1
), g AS (
  SELECT sum(CAST(o_totalprice AS DECIMAL(18,6))) AS gs, count(*) AS gn
  FROM orders
)
SELECT category, n,
       round(CAST(s AS DOUBLE) / n, 6) AS cat_mean,
       round((CAST(s AS DOUBLE)
              + CAST(10.0 AS DOUBLE) * (CAST(gs AS DOUBLE) / gn))
             / (CAST(n AS DOUBLE) + CAST(10.0 AS DOUBLE)), 6) AS encoded
FROM pc, g
"""


def q_span_corruption(spark, sf_dir):
    """T5-style span-corruption budget sheet: deterministic 15%
    per-position masking, per-doc token/masked/span counts — all
    narrow higher-order functions, no explode."""
    return features.span_corruption_stats(_docs(spark, sf_dir))


ORACLE["span_corruption"] = f"""
WITH t AS (SELECT doc_id, {_TOK} AS ts FROM documents),
f AS (
  SELECT doc_id, len(ts) AS n_tokens,
         list_transform(range(0, len(ts)), i ->
           (CAST(CONCAT('0x', substring(md5(doc_id::VARCHAR || ':' || i::VARCHAR), 1, 7))
                 AS BIGINT) % 100) < 15) AS fl
  FROM t
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(len(list_filter(fl, x -> x)) AS BIGINT) AS n_masked,
       CAST(COALESCE(list_sum(list_transform(range(1, len(fl) + 1), j ->
              CASE WHEN fl[j] AND (j = 1 OR NOT fl[j - 1])
                   THEN 1 ELSE 0 END)), 0) AS BIGINT) AS n_spans
FROM f
"""


def q_hash_collision_report(spark, sf_dir):
    """Hashing-trick collision diagnostics at n_features=1024: how
    many buckets hold exactly k distinct vocabulary terms —
    (n_terms_in_bucket, n_buckets). The dimensioning readout for
    hashing_tf's feature-width trade."""
    vocab = (
        _docs(spark, sf_dir)
        .select(F.explode(text.tokens_array("text")).alias("term"))
        .distinct()
    )
    per_bucket = vocab.groupBy(
        F.pmod(h60("term"), F.lit(1024)).cast("int").alias("bucket")
    ).agg(F.count("*").alias("n_terms_in_bucket"))
    return per_bucket.groupBy("n_terms_in_bucket").agg(
        F.count("*").alias("n_buckets")
    )


ORACLE["hash_collision_report"] = f"""
WITH v AS (
  SELECT DISTINCT t AS term
  FROM (SELECT unnest({_TOK}) AS t FROM documents)
), pb AS (
  SELECT {h60_sql("term")} % 1024 AS bucket,
         count(*) AS n_terms_in_bucket
  FROM v GROUP BY 1
)
SELECT n_terms_in_bucket, count(*) AS n_buckets FROM pb GROUP BY 1
"""


def q_tokenizer_fertility(spark, sf_dir):
    """Tokenizer-fit dashboard: per source, BPE tokens per whitespace
    token under the corpus's own learned 5-merge table — fertility is
    the standard tokenizer-evaluation metric (high fertility on a
    source means the tokenizer fragments it into many subwords)."""
    docs = _docs(spark, sf_dir)
    learned = [
        (r["lhs"], r["rhs"])
        # r15: single-job trainer, identical merge table (see q_bpe_vocab)
        for r in features.bpe_merges_local(docs, n_merges=5).orderBy("rank").collect()
    ]
    bpe = features.bpe_token_counts(docs, learned)
    ws = docs.select(
        "doc_id", "source", F.size(text.tokens_array("text")).alias("ws")
    )
    j = ws.join(bpe, "doc_id")
    return j.groupBy("source").agg(
        F.sum("ws").alias("ws_tokens"),
        F.sum("bpe_tokens").alias("bpe_tokens"),
        F.when(
            F.sum("ws") > 0,
            F.round(F.sum("bpe_tokens") / F.sum("ws"), 6),
        ).alias("fertility"),
    )


# composed: per-source fertility over the per-doc BPE counts (same
# trained-table replay, grouped against whitespace token totals)
ORACLE["tokenizer_fertility"] = f"""
WITH tc AS (SELECT doc_id, bpe_tokens FROM ({ORACLE['bpe_token_counts']}) _t),
ws AS (SELECT doc_id, source, len({_TOK}) AS ws FROM documents)
SELECT ws.source AS source,
       CAST(sum(ws.ws) AS BIGINT) AS ws_tokens,
       CAST(sum(tc.bpe_tokens) AS BIGINT) AS bpe_tokens,
       CASE WHEN sum(ws.ws) > 0
            THEN round(CAST(sum(tc.bpe_tokens) AS DOUBLE) / sum(ws.ws), 6)
       END AS fertility
FROM ws JOIN tc USING (doc_id)
GROUP BY 1
"""


def q_bpe_merges_local(spark, sf_dir):
    """The single-job in-partition BPE trainer; checked against the
    SAME unrolled oracle as the iterative bpe_merges — the two paths
    must agree merge-for-merge."""
    return features.bpe_merges_local(_docs(spark, sf_dir), n_merges=5)


# the single-job in-partition trainer has IDENTICAL semantics — one
# oracle certifies both implementations agree merge-for-merge
ORACLE["bpe_merges_local"] = ORACLE["bpe_merges"]
