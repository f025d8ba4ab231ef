"""Deterministic, stratified and weighted sampling, splits, shuffles
and mixture allocation."""

from __future__ import annotations

import pyspark.sql.functions as F

from ..functions.hashing import h60_sql
from ..operators import sampling, text
from ..sources.tables import load_table
from ._shared import _DOC_BIN, _TOK, _docs, _emb, _events

ORACLE: dict[str, str] = {}


_MIX_WEIGHTS = [("src0", 0.4), ("src1", 0.3), ("src2", 0.2), ("src3", 0.1)]

_MIX_BUDGET = 20_000  # whitespace tokens


def q_corpus_mix(spark, sf_dir):
    """Pretraining-mix construction: deterministically sample each
    source so its expected token volume hits ``weight x budget`` —
    the source-weighting step every pretraining data recipe runs.
    Per-source keep fraction = min(1, target/T_s); the doc-level
    Bernoulli draw is the same content-hash bin stratified_sample
    uses, so the mix is reproducible and the oracle replays it. One
    row per weighted source: targets vs what the sample actually
    delivered."""
    from ..operators.sampling import _bin

    w = spark.createDataFrame(_MIX_WEIGHTS, "source string, weight double")
    d = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.size(text.tokens_array("text")).alias("ntok"),
        _bin("doc_id").alias("bin"),
    )
    totals = d.groupBy("source").agg(F.sum("ntok").alias("total_tokens"))
    j = d.join(F.broadcast(w), "source").join(F.broadcast(totals), "source")
    frac = F.least(
        F.lit(1.0), F.col("weight") * _MIX_BUDGET / F.col("total_tokens")
    )
    kept = F.col("bin") < frac * 1_000_000
    return j.groupBy("source", "weight", "total_tokens").agg(
        F.round(F.col("weight") * _MIX_BUDGET, 6).alias("target_tokens"),
        F.sum(F.when(kept, 1).otherwise(0)).alias("kept_docs"),
        F.sum(F.when(kept, F.col("ntok")).otherwise(0)).alias("kept_tokens"),
    )


ORACLE["corpus_mix"] = f"""
WITH w AS (
  SELECT source, CAST(weight AS DOUBLE) AS weight
  FROM (VALUES ('src0', 0.4), ('src1', 0.3), ('src2', 0.2), ('src3', 0.1))
    AS t(source, weight)
),
d AS (
  SELECT doc_id, source, CAST(len({_TOK}) AS INTEGER) AS ntok,
         CAST(CONCAT('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % 1000000 AS bin
  FROM documents
),
totals AS (SELECT source, CAST(sum(ntok) AS BIGINT) AS total_tokens FROM d GROUP BY source),
j AS (
  SELECT d.*, w.weight, t.total_tokens,
         least(1.0, w.weight * 20000 / t.total_tokens) AS frac
  FROM d JOIN w USING (source) JOIN totals t USING (source)
)
SELECT source, weight, total_tokens,
       round(weight * 20000, 6) AS target_tokens,
       CAST(sum(CASE WHEN bin < frac * 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
       CAST(sum(CASE WHEN bin < frac * 1000000 THEN ntok ELSE 0 END) AS BIGINT) AS kept_tokens
FROM j GROUP BY 1, 2, 3
"""


def q_balance_classes(spark, sf_dir):
    """Deterministic downsample of every embedding label class to the
    minority class size — hash-ranked, WindowGroupLimit-planned."""
    return sampling.balance_classes(_emb(spark, sf_dir), "label", "vec_id")


ORACLE["balance_classes"] = """
WITH t AS (
  SELECT CAST(min(n) AS BIGINT) AS target FROM (
    SELECT label, count(*) AS n FROM embeddings GROUP BY label)
),
ranked AS (
  SELECT vec_id, label,
         row_number() OVER (
           PARTITION BY label
           ORDER BY CAST(CONCAT('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                         AS BIGINT) % 1000000,
                    vec_id) AS rn
  FROM embeddings
)
SELECT r.vec_id, r.label FROM ranked r, t WHERE r.rn <= t.target
"""


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023) over hashed unigram
    buckets, target domain = the src0 slice of the corpus."""
    docs = _docs(spark, sf_dir)
    return sampling.dsir_weights(
        docs, docs.where(F.col("source") == "src0"), n_buckets=512
    )


ORACLE["dsir_weights"] = r"""
WITH tok AS (
  SELECT doc_id, source,
         unnest(list_filter(regexp_split_to_array(text, '\s+'), t -> len(t) > 0)) AS t
  FROM documents
), bk AS (
  SELECT doc_id, source,
         CAST(CONCAT('0x', substring(md5(t), 1, 7)) AS BIGINT) % 512 AS b
  FROM tok
), doc_b AS (SELECT doc_id, b, count(*) AS tf FROM bk GROUP BY 1, 2),
corpus_b AS (SELECT b, CAST(sum(tf) AS BIGINT) AS c_cnt FROM doc_b GROUP BY 1),
target_b AS (SELECT b, count(*) AS t_cnt FROM bk WHERE source = 'src0' GROUP BY 1),
tots AS (
  SELECT (SELECT CAST(sum(c_cnt) AS BIGINT) FROM corpus_b) AS c_tot,
         (SELECT CAST(coalesce(sum(t_cnt), 0) AS BIGINT) FROM target_b) AS t_tot
)
SELECT doc_id, CAST(sum(tf) AS INTEGER) AS n_tokens,
       round(sum(tf * (ln((coalesce(t_cnt, 0) + 1.0) / (t_tot + 512.0))
                       - ln((c_cnt + 1.0) / (c_tot + 512.0)))) / sum(tf), 6)
         AS weight
FROM doc_b JOIN corpus_b USING (b) LEFT JOIN target_b USING (b), tots
GROUP BY doc_id
"""


def q_deterministic_sample(spark, sf_dir):
    out = sampling.deterministic_sample(
        load_table(spark, sf_dir, "documents"), "doc_id", 0.25
    )
    return out.select("doc_id")


ORACLE["deterministic_sample"] = f"""
SELECT doc_id FROM documents WHERE {_DOC_BIN} < 250000
"""


def q_hash_split(spark, sf_dir):
    out = sampling.hash_split(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )
    return out.select("doc_id", "split")


ORACLE["hash_split"] = f"""
SELECT doc_id,
       CASE WHEN {_DOC_BIN} < 800000 THEN 'train'
            WHEN {_DOC_BIN} < 900000 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def q_stratified_sample(spark, sf_dir):
    """Downsample the over-represented language: keep 25% of English,
    half of Chinese, everything else untouched."""
    out = sampling.stratified_sample(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "lang",
        {"en": 0.25, "zh": 0.5},
    )
    return out.select("doc_id", "lang")


ORACLE["stratified_sample"] = f"""
SELECT doc_id, lang FROM documents
WHERE {_DOC_BIN} < CASE WHEN lang = 'en' THEN 250000
                        WHEN lang = 'zh' THEN 500000
                        ELSE 1000000 END
"""


def q_weighted_sample(spark, sf_dir):
    return sampling.weighted_sample(
        _docs(spark, sf_dir), key="doc_id", weight_col="n_chars", n=200
    ).select("doc_id", "n_chars")


# A-ES weighted sampling: rank on the 9-dp-rounded score with doc_id
# tiebreak (see operators/sampling.weighted_sample).
ORACLE["weighted_sample"] = f"""
SELECT doc_id, n_chars FROM (
  SELECT doc_id, n_chars,
         round(ln(({h60_sql("CAST(doc_id AS VARCHAR)")} + 1)
                  / 1152921504606846976.0) / CAST(n_chars AS DOUBLE), 9) AS score
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
  ORDER BY score DESC, doc_id LIMIT 200)
"""


def q_shuffle_shards(spark, sf_dir):
    """Deterministic epoch-shuffle layout: 8 hash shards with
    reproducible within-shard positions (seed '42')."""
    return sampling.shuffle_shards(
        _docs(spark, sf_dir).select("doc_id", "source"),
        key="doc_id",
        n_shards=8,
        seed="42",
    )


ORACLE["shuffle_shards"] = f"""
WITH h AS (
  SELECT doc_id, source,
         {h60_sql("'42|' || CAST(doc_id AS VARCHAR)")} AS hh
  FROM documents WHERE doc_id IS NOT NULL
)
SELECT doc_id, source, CAST(hh % 8 AS INTEGER) AS shard,
       CAST(row_number() OVER (PARTITION BY hh % 8
                               ORDER BY hh, CAST(doc_id AS VARCHAR))
            AS INTEGER) AS pos
FROM h
"""


def q_temporal_split(spark, sf_dir):
    """Time-based train/val/test split of the events stream with a
    user-overlap leakage report: per split, row and user counts plus
    how many of its users also appear in train (temporal splits leak
    ENTITIES even when they cannot leak the future)."""
    s = sampling.temporal_split(
        _events(spark, sf_dir),
        "ts",
        [("train", "2024-01-20"), ("val", "2024-01-25")],
    )
    train_users = (
        s.where(F.col("split") == "train").select("user_id").distinct()
        .withColumn("__in_train", F.lit(1))
    )
    return (
        s.join(F.broadcast(train_users), "user_id", "left_outer")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_rows"),
            F.count_distinct("user_id").alias("n_users"),
            F.count_distinct(
                F.when(F.col("__in_train").isNotNull(), F.col("user_id"))
            ).alias("n_overlap_users"),
        )
    )


ORACLE["temporal_split"] = """
WITH s AS (
  SELECT user_id,
         CASE WHEN ts < TIMESTAMP '2024-01-20' THEN 'train'
              WHEN ts < TIMESTAMP '2024-01-25' THEN 'val'
              ELSE 'test' END AS split
  FROM events
), tu AS (SELECT DISTINCT user_id FROM s WHERE split = 'train')
SELECT s.split, count(*) AS n_rows,
       count(DISTINCT s.user_id) AS n_users,
       count(DISTINCT CASE WHEN tu.user_id IS NOT NULL
                           THEN s.user_id END) AS n_overlap_users
FROM s LEFT JOIN tu ON s.user_id = tu.user_id
GROUP BY s.split
"""


def q_temperature_mix(spark, sf_dir):
    """Temperature-scaled (T=2) source sampling weights over the
    documents corpus — the exponential-smoothing weight DERIVATION
    step (mBERT/XLM-R recipe) whose output corpus_mix applies."""
    return sampling.temperature_weights(
        _docs(spark, sf_dir), group_col="source",
        size_col="n_chars", temperature=2.0,
    )


ORACLE["temperature_mix"] = """
WITH g AS (
  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS n_units
  FROM documents GROUP BY source),
t AS (
  SELECT *, CAST(n_units AS DOUBLE) / SUM(n_units) OVER () AS nat,
         pow(CAST(n_units AS DOUBLE) / SUM(n_units) OVER (), 1.0 / 2.0) AS u
  FROM g)
SELECT source, n_units,
       round(nat, 6) AS nat_share,
       round(u / SUM(u) OVER (), 6) AS weight,
       round((u / SUM(u) OVER ()) / nat, 6) AS upsample_factor
FROM t
"""


def q_per_key_sample(spark, sf_dir):
    """Deterministic 3-document inspection sample per source: rows
    ranked by content hash of doc_id within each source group."""
    return sampling.per_key_sample(
        _docs(spark, sf_dir), group_col="source", key="doc_id", k=3
    )


ORACLE["per_key_sample"] = f"""
SELECT * FROM (
  SELECT *, CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY {_DOC_BIN}, CAST(doc_id AS VARCHAR)) AS INTEGER)
         AS sample_rank
  FROM documents
  WHERE source IS NOT NULL AND doc_id IS NOT NULL)
WHERE sample_rank <= 3
"""


# -- round-13 new operators (public literature; see each docstring) --
def q_unimax_allocation(spark, sf_dir):
    """UniMax water-filling budget allocation (Chung'23) across the
    documents corpus's sources: budget = half the total characters,
    epoch cap 4 — the closed-form fair-sampling complement of
    temperature_mix's exponential smoothing."""
    return sampling.unimax_allocation(
        _docs(spark, sf_dir), group_col="source", size_col="n_chars",
        budget_frac=0.5, max_epochs=4.0,
    )


# -- round-13 new-operator oracles --

# unimax_allocation: the per-row cap test over raw-capacity prefix
# sums (valid by the monotone-failure argument in the operator
# docstring); all arithmetic is exact-integer-in-double until the
# final level division, so both engines agree bit-for-bit pre-round.
ORACLE["unimax_allocation"] = """
WITH g AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS n_units
           FROM documents GROUP BY source),
t AS (SELECT source, n_units,
        n_units * 4.0 AS capacity,
        0.5 * SUM(n_units) OVER () AS b,
        COUNT(*) OVER () AS n_src,
        ROW_NUMBER() OVER (ORDER BY n_units * 4.0 ASC, source ASC) AS r,
        COALESCE(SUM(n_units * 4.0) OVER (
          ORDER BY n_units * 4.0 ASC, source ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
          AS cum_prev
      FROM g),
c AS (SELECT *,
        (capacity * (n_src - r + 1) <= b - cum_prev) AS capped
      FROM t),
s AS (SELECT *,
        COALESCE(SUM(CASE WHEN capped THEN capacity END) OVER (), 0.0)
          AS capped_sum,
        SUM(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS n_capped
      FROM c)
SELECT source, n_units, round(capacity, 6) AS capacity, capped,
       round(CASE WHEN capped THEN capacity
             ELSE (b - capped_sum) / (n_src - n_capped) END, 6)
         AS allocation,
       CASE WHEN n_units > 0 THEN
         round(CASE WHEN capped THEN capacity
               ELSE (b - capped_sum) / (n_src - n_capped) END / n_units, 6)
       END AS epochs
FROM s
"""
