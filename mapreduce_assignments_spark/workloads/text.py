"""Word counts, co-occurrence, PMI/LLR and corpus statistics
(the reference's assignment 1-2 text workloads)."""

from __future__ import annotations

import pyspark.sql.functions as F

from ..operators import text
from ._shared import _TOK, _docs

ORACLE: dict[str, str] = {}


def q_word_count(spark, sf_dir):
    return text.word_count(_docs(spark, sf_dir))


ORACLE["word_count"] = f"""
SELECT t AS word, count(*) AS cnt
FROM (SELECT unnest({_TOK}) AS t FROM documents)
GROUP BY t
"""


def q_bigram_count(spark, sf_dir):
    return text.bigram_count(_docs(spark, sf_dir))


ORACLE["bigram_count"] = f"""
SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS cnt
FROM (
  SELECT unnest(list_transform(range(1, len(ts)),
                i -> {{'w1': ts[i], 'w2': ts[i + 1]}})) AS p
  FROM (SELECT {_TOK} AS ts FROM documents))
GROUP BY p.w1, p.w2
"""


def q_cooccurrence(spark, sf_dir):
    return text.cooccurrence(_docs(spark, sf_dir), window=2)


ORACLE["cooccurrence"] = f"""
SELECT p.a AS a, p.b AS b, count(*) AS cnt
FROM (
  SELECT unnest(flatten(list_transform(range(1, len(ts) + 1), i ->
           list_transform(
             list_filter(range(greatest(1, i - 2), least(len(ts), i + 2) + 1),
                         j -> j != i),
             j -> {{'a': ts[i], 'b': ts[j]}})))) AS p
  FROM (SELECT {_TOK} AS ts FROM documents)
  WHERE len(ts) > 0)
GROUP BY p.a, p.b
"""


def q_cooccurrence_stripes(spark, sf_dir):
    out = text.cooccurrence_stripes(_docs(spark, sf_dir), window=2)
    return out.select("a", "stripe_str")


ORACLE["cooccurrence_stripes"] = f"""
WITH pairs AS (
  SELECT p.a AS a, p.b AS b, count(*) AS cnt
  FROM (
    SELECT unnest(flatten(list_transform(range(1, len(ts) + 1), i ->
             list_transform(
               list_filter(range(greatest(1, i - 2), least(len(ts), i + 2) + 1),
                           j -> j != i),
               j -> {{'a': ts[i], 'b': ts[j]}})))) AS p
    FROM (SELECT {_TOK} AS ts FROM documents)
    WHERE len(ts) > 0)
  GROUP BY p.a, p.b
)
SELECT a, string_agg(b || ':' || CAST(cnt AS VARCHAR), ',' ORDER BY b) AS stripe_str
FROM pairs GROUP BY a
"""


def q_pmi(spark, sf_dir):
    out = text.pmi(_docs(spark, sf_dir), min_cooccurrence=10)
    return out.select("x", "y", "cnt", F.round("pmi", 6).alias("pmi"))


ORACLE["pmi"] = f"""
WITH ws AS (
  SELECT list_sort(list_distinct({_TOK})) AS ws FROM documents
), pairs AS (
  SELECT p.x AS x, p.y AS y, count(*) AS cnt
  FROM (
    SELECT unnest(flatten(list_transform(range(1, len(ws) + 1), i ->
             list_transform(range(i + 1, len(ws) + 1),
                            j -> {{'x': ws[i], 'y': ws[j]}})))) AS p
    FROM ws)
  GROUP BY p.x, p.y
  HAVING count(*) >= 10
), wc AS (
  SELECT w, count(*) AS wc FROM (SELECT unnest(ws) AS w FROM ws) GROUP BY w
), n AS (SELECT count(*) AS n FROM documents)
SELECT x, y, cnt, round(ln(cnt * n.n / (cx.wc * cy.wc)), 6) AS pmi
FROM pairs, n
JOIN wc cx ON cx.w = pairs.x
JOIN wc cy ON cy.w = pairs.y
"""


# Dunning LLR over the same pair/marginal CTEs as pmi; xlx(c) = c*ln(c)
# with the 0*ln(0)=0 convention — all inputs are integer counts, so
# the fixed expression tree matches Spark's doubles exactly at 6 dp.
def _xlx_sql(c: str) -> str:
    return f"CASE WHEN ({c}) > 0 THEN ({c}) * ln(CAST(({c}) AS DOUBLE)) ELSE 0.0 END"


def q_llr(spark, sf_dir):
    return text.llr(_docs(spark, sf_dir), min_cooccurrence=10)


ORACLE["llr"] = f"""
WITH ws AS (
  SELECT list_sort(list_distinct({_TOK})) AS ws FROM documents
), pairs AS (
  SELECT p.x AS x, p.y AS y, count(*) AS cnt
  FROM (
    SELECT unnest(flatten(list_transform(range(1, len(ws) + 1), i ->
             list_transform(range(i + 1, len(ws) + 1),
                            j -> {{'x': ws[i], 'y': ws[j]}})))) AS p
    FROM ws)
  GROUP BY p.x, p.y
  HAVING count(*) >= 10
), wc AS (
  SELECT w, count(*) AS wc FROM (SELECT unnest(ws) AS w FROM ws) GROUP BY w
), n AS (SELECT count(*) AS n FROM documents),
k AS (
  SELECT x, y, cnt,
         cnt AS k11, cx.wc - cnt AS k12, cy.wc - cnt AS k21,
         n.n - cx.wc - cy.wc + cnt AS k22, n.n AS nn
  FROM pairs, n
  JOIN wc cx ON cx.w = pairs.x
  JOIN wc cy ON cy.w = pairs.y
)
SELECT x, y, cnt,
       round(2.0 * ({_xlx_sql("k11")} + {_xlx_sql("k12")}
                    + {_xlx_sql("k21")} + {_xlx_sql("k22")}
                    - {_xlx_sql("k11 + k12")} - {_xlx_sql("k21 + k22")}
                    - {_xlx_sql("k11 + k21")} - {_xlx_sql("k12 + k22")}
                    + {_xlx_sql("nn")}), 6) AS llr
FROM k
"""


def q_length_histogram(spark, sf_dir):
    """Log2-bucketed document-length distribution — every corpus
    report's first chart. The bucket is integer bit-math
    (len(bin(n)) - 1), not float log2, so power-of-two boundaries are
    exact in both engines. Pure one-exchange aggregation."""
    d = _docs(spark, sf_dir)
    bucket = F.when(
        F.col("n_chars") > 0, F.length(F.expr("bin(n_chars)")) - 1
    ).otherwise(F.lit(-1))
    return (
        d.select(bucket.cast("int").alias("log2_bucket"), "n_chars")
        .groupBy("log2_bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


ORACLE["length_histogram"] = """
SELECT CAST(CASE WHEN n_chars > 0 THEN length(bin(n_chars)) - 1
            ELSE -1 END AS INTEGER) AS log2_bucket,
       count(*) AS n_docs, min(n_chars) AS min_chars, max(n_chars) AS max_chars
FROM documents GROUP BY 1
"""


def q_zipf_fit(spark, sf_dir):
    """Zipf's-law fit of the corpus: least-squares slope/intercept of
    ln(freq) ~ ln(rank) over the ranked vocabulary (natural text sits
    near slope -1). The global rank window runs over the VOCABULARY
    (corpus collapses in word_count first); at extreme vocab scale the
    rank becomes a range-partitioned prefix-offset computation, but
    the single sort of a counts table is fine far past 1e8 terms."""
    from pyspark.sql.window import Window

    wc = text.word_count(_docs(spark, sf_dir))
    # bounded-input: one row per vocabulary word, not per token
    w = Window.orderBy(F.desc("cnt"), F.asc("word"))
    ranked = wc.withColumn("rank", F.row_number().over(w))
    return ranked.agg(
        F.round(F.expr("regr_slope(ln(cnt), ln(rank))"), 6).alias("zipf_slope"),
        F.round(F.expr("regr_intercept(ln(cnt), ln(rank))"), 6).alias(
            "zipf_intercept"
        ),
        F.count("*").alias("vocab"),
    )


ORACLE["zipf_fit"] = f"""
WITH wc AS (
  SELECT t AS word, count(*) AS cnt
  FROM (SELECT unnest({_TOK}) AS t FROM documents) GROUP BY t
), r AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, word) AS rank FROM wc
)
SELECT round(regr_slope(ln(cnt), ln(rank)), 6) AS zipf_slope,
       round(regr_intercept(ln(cnt), ln(rank)), 6) AS zipf_intercept,
       count(*) AS vocab
FROM r
"""
