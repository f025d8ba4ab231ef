"""Count-min and KMV distinct-count sketches over corpus tokens."""

from __future__ import annotations

import pyspark.sql.functions as F

from ..functions.hashing import h60_sql
from ..operators import sketches, text
from ._shared import _A_SQL, _B_SQL, _TOK, _docs

ORACLE: dict[str, str] = {}


def q_kmv_distinct(spark, sf_dir):
    toks = _docs(spark, sf_dir).select(
        "source", F.explode(text.tokens_array("text")).alias("token")
    )
    return sketches.kmv_distinct(toks, key="token", group_col="source", k=64)


# KMV sketch: deterministic function of the value set, so the
# approximation itself is oracle-exact (HLL could never be).
ORACLE["kmv_distinct"] = f"""
WITH tok AS (SELECT source, unnest({_TOK}) AS token FROM documents),
d AS (SELECT DISTINCT source, {h60_sql("CAST(token AS VARCHAR)")} AS h FROM tok),
r AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM d)
SELECT source, 64 AS k, count(*) AS n_kept,
       round(CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
                  ELSE 63.0 / ((max(h) + 1) / 1152921504606846976.0) END, 6)
         AS est_distinct
FROM r WHERE rn <= 64 GROUP BY source
"""


def q_countmin_words(spark, sf_dir):
    """Count-min sketch point queries for the corpus's top-20 words:
    (word, true_cnt, estimate) — estimate >= true always (collisions
    only add); the oracle rebuilds the identical 4x256 sketch from the
    same portable hash family."""
    words = _docs(spark, sf_dir).select(
        F.explode(text.tokens_array("text")).alias("word")
    )
    counters = sketches.count_min_counters(words, "word", width=256, depth=4)
    true_counts = words.groupBy("word").agg(F.count("*").alias("true_cnt"))
    # limit-first (top_k_nodes idiom): TakeOrderedAndProject bounds
    # the top-20 probe set — never a full-vocabulary rank window
    probes = (
        true_counts.orderBy(F.desc("true_cnt"), F.asc("word"))
        .limit(20)
        .select("word", "true_cnt")
    )
    est = sketches.count_min_estimate(
        counters, probes.select("word"), "word", width=256, depth=4
    )
    return probes.join(est, "word")


# Sketch rebuilt from the same universal hash family ((a_d·h28+b_d)
# mod p mod width) over the same 28-bit md5 base — integer-exact in
# both engines, so estimates (and their overcounts) match bit-for-bit.
ORACLE["countmin_words"] = f"""
WITH words AS (SELECT unnest({_TOK}) AS word FROM documents),
hashed AS (
  SELECT word, CAST(CONCAT('0x', substring(md5(word), 1, 7)) AS BIGINT) AS h
  FROM words
),
counters AS (
  SELECT d, (({_A_SQL}[d + 1] * h + {_B_SQL}[d + 1]) % 2147483647) % 256 AS bucket,
         count(*) AS cnt
  FROM hashed, range(0, 4) t(d)
  GROUP BY 1, 2
),
truec AS (SELECT word, count(*) AS true_cnt FROM words GROUP BY word),
probes AS (
  SELECT word, true_cnt FROM truec ORDER BY true_cnt DESC, word ASC LIMIT 20
),
probe_cells AS (
  SELECT p.word, t.d,
         (({_A_SQL}[t.d + 1] * CAST(CONCAT('0x', substring(md5(p.word), 1, 7)) AS BIGINT)
           + {_B_SQL}[t.d + 1]) % 2147483647) % 256 AS bucket
  FROM probes p, range(0, 4) t(d)
)
SELECT p.word, p.true_cnt, CAST(min(c.cnt) AS BIGINT) AS estimate
FROM probes p
JOIN probe_cells pc ON pc.word = p.word
JOIN counters c ON c.d = pc.d AND c.bucket = pc.bucket
GROUP BY 1, 2
"""
