"""Exact and near-duplicate detection, record linkage, clustering
and decontamination."""

from __future__ import annotations

from collections import ChainMap

import pyspark.sql.functions as F

from ..functions.hashing import MINHASH_PRIME, NUM_MINHASHES, h28_sql, h60_sql
from ..operators import dedup, sampling, text, text_quality
from ..sources.tables import load_table
from . import sampling as _sampling, text_quality as _text_quality
from ._shared import _A_SQL, _B_SQL, _TOK, _docs, _emb

# reads the oracles of the batch queries it must agree with
ORACLE: ChainMap[str, str] = ChainMap(
    {}, _sampling.ORACLE, _text_quality.ORACLE,
)


def q_bloom_decontamination(spark, sf_dir):
    """Bloom-filter decontamination triage: 4 portable hash rows x
    1024 bits built from the eval set's text digests, probed by every
    corpus document — one row of confusion counts against exact
    membership. The Bloom pass is the cheap 100 TB first stage (the
    filter is a fixed bit array broadcast to every executor; only
    flagged docs reach the exact join); its no-false-negatives
    guarantee is what the true_hits count certifies. Same universal
    hash family as MinHash/CMS, so the oracle rebuilds the identical
    filter."""
    from ..functions.hashing import MINHASH_A, MINHASH_B, MINHASH_PRIME, h28

    docs = _docs(spark, sf_dir).select("doc_id", F.md5("text").alias("digest"))
    eval_docs = docs.orderBy("doc_id").limit(20).select("digest")

    def cells(df):
        base = h28(F.col("digest"))
        return df.select(
            "digest",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("d"),
                            (
                                (F.lit(MINHASH_A[d]) * base + F.lit(MINHASH_B[d]))
                                % F.lit(MINHASH_PRIME)
                                % F.lit(1024)
                            ).alias("bit"),
                        )
                        for d in range(4)
                    ]
                )
            ).alias("c"),
        ).select("digest", F.col("c.d").alias("d"), F.col("c.bit").alias("bit"))

    bits = cells(eval_docs).select("d", "bit").distinct()
    # probe DISTINCT digests: duplicate docs would multiply their
    # (digest, d, bit) cells and break the all-4-bits count
    probe = cells(docs.select("digest").distinct())
    matched = probe.join(F.broadcast(bits), ["d", "bit"]).groupBy("digest").agg(
        F.count("*").alias("hits")
    )
    flagged = matched.where(F.col("hits") == 4).select("digest")
    members = eval_docs.distinct()
    per_doc = docs.join(
        flagged.withColumn("flagged", F.lit(1)), "digest", "left"
    ).join(members.withColumn("member", F.lit(1)), "digest", "left")
    return per_doc.agg(
        F.sum(F.coalesce("flagged", F.lit(0))).alias("n_flagged"),
        F.sum(
            F.when((F.col("flagged") == 1) & (F.col("member") == 1), 1).otherwise(0)
        ).alias("true_hits"),
        F.sum(
            F.when((F.col("flagged") == 1) & F.col("member").isNull(), 1).otherwise(0)
        ).alias("false_positives"),
        F.sum(
            F.when((F.col("member") == 1) & F.col("flagged").isNull(), 1).otherwise(0)
        ).alias("false_negatives"),
    )


ORACLE["bloom_decontamination"] = f"""
WITH docs AS (SELECT doc_id, md5(text) AS digest FROM documents),
eval_docs AS (SELECT digest FROM docs ORDER BY doc_id LIMIT 20),
bits AS (
  SELECT DISTINCT t.d,
         (({_A_SQL}[t.d + 1]
           * CAST(CONCAT('0x', substring(md5(digest), 1, 7)) AS BIGINT)
           + {_B_SQL}[t.d + 1]) % 2147483647) % 1024 AS bit
  FROM eval_docs, range(0, 4) t(d)
),
probe AS (
  SELECT digest, t.d,
         (({_A_SQL}[t.d + 1]
           * CAST(CONCAT('0x', substring(md5(digest), 1, 7)) AS BIGINT)
           + {_B_SQL}[t.d + 1]) % 2147483647) % 1024 AS bit
  FROM (SELECT DISTINCT digest FROM docs), range(0, 4) t(d)
),
flagged AS (
  SELECT p.digest FROM probe p JOIN bits b ON b.d = p.d AND b.bit = p.bit
  GROUP BY p.digest HAVING count(*) = 4
),
members AS (SELECT DISTINCT digest FROM eval_docs)
SELECT
  CAST(sum(CASE WHEN f.digest IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
  CAST(sum(CASE WHEN f.digest IS NOT NULL AND m.digest IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS true_hits,
  CAST(sum(CASE WHEN f.digest IS NOT NULL AND m.digest IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS false_positives,
  CAST(sum(CASE WHEN m.digest IS NOT NULL AND f.digest IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS false_negatives
FROM docs d
LEFT JOIN flagged f ON f.digest = d.digest
LEFT JOIN members m ON m.digest = d.digest
"""


def q_eval_substring_hits(spark, sf_dir):
    """Exact-substring decontamination probe: for each eval snippet
    (the 5 lowest-id docs' first 40 chars — a stand-in for benchmark
    strings), count the corpus documents containing it verbatim. The
    n-gram decontamination's exact-match complement: snippets
    broadcast, the scan stays narrow (JVM contains per row), nothing
    shuffles but the tiny per-snippet counts."""
    docs = _docs(spark, sf_dir)
    snippets = (
        docs.orderBy("doc_id")
        .limit(5)
        .select(
            F.col("doc_id").alias("eval_id"),
            F.substring("text", 1, 40).alias("snippet"),
        )
    )
    hits = docs.crossJoin(F.broadcast(snippets)).where(
        F.instr(F.col("text"), F.col("snippet")) > 0
    )
    return (
        snippets.join(
            hits.groupBy("eval_id").agg(F.count("*").alias("n_hits")),
            "eval_id",
            "left",
        )
        .select(
            "eval_id", "snippet", F.coalesce("n_hits", F.lit(0)).alias("n_hits")
        )
    )


ORACLE["eval_substring_hits"] = """
WITH snippets AS (
  SELECT doc_id AS eval_id, substring(text, 1, 40) AS snippet
  FROM documents ORDER BY doc_id LIMIT 5
),
hits AS (
  SELECT s.eval_id, count(*) AS n_hits
  FROM snippets s JOIN documents d ON position(s.snippet IN d.text) > 0
  GROUP BY s.eval_id
)
SELECT s.eval_id, s.snippet, COALESCE(h.n_hits, 0) AS n_hits
FROM snippets s LEFT JOIN hits h ON h.eval_id = s.eval_id
"""


def q_record_linkage(spark, sf_dir):
    """Blocked entity resolution over customer names: same-nation
    blocks, Levenshtein <= 2 — the Fellegi–Sunter blocking shape."""
    return dedup.record_linkage_pairs(
        load_table(spark, sf_dir, "customer"),
        id_col="c_custkey",
        name_col="c_name",
        block_cols=["c_nationkey"],
        max_distance=2,
    )


ORACLE["record_linkage"] = """
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       a.c_name AS name_a, b.c_name AS name_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS distance
FROM customer a JOIN customer b
  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
WHERE abs(length(a.c_name) - length(b.c_name)) <= 2
  AND levenshtein(a.c_name, b.c_name) <= 2
"""


def q_dup_span_report(spark, sf_dir):
    """Duplicated 20-token-span coverage per document (Lee et al. 2021
    exact-substring dedup at fixed granularity)."""
    return dedup.dup_span_report(_docs(spark, sf_dir), window=20)


ORACLE["dup_span_report"] = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), t -> len(t) > 0) AS t
  FROM documents
), pos AS (
  SELECT doc_id, t, unnest(range(1, len(t) - 18)) AS i
  FROM toks WHERE len(t) >= 20
), wins AS (
  SELECT doc_id, md5(array_to_string(t[i:i+19], ' ')) AS fp FROM pos
), cnt AS (SELECT fp, count(*) AS c FROM wins GROUP BY fp)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(count(*) FILTER (WHERE c > 1) AS BIGINT) AS n_dup_windows,
       round(count(*) FILTER (WHERE c > 1) * 1.0 / count(*), 6) AS dup_fraction
FROM wins JOIN cnt USING (fp)
GROUP BY doc_id
"""


def q_record_linkage_topk(spark, sf_dir):
    """record_linkage with the output-cardinality knob engaged: each
    customer keeps only its 3 closest same-nation name matches, so a
    low-entropy name column degrades to <= 2*k*n rows instead of an
    unbounded pair sink (round-7 VERDICT watch item)."""
    return dedup.record_linkage_pairs(
        load_table(spark, sf_dir, "customer"),
        id_col="c_custkey",
        name_col="c_name",
        block_cols=["c_nationkey"],
        max_distance=2,
        max_pairs_per_record=3,
    )


# The capped variant replays the exact pair set, ranks every pair from
# both endpoints' viewpoints, and keeps pairs either endpoint ranks in
# its 3 best (ties by partner id) — same OR-semantics as the Spark
# knob.
ORACLE["record_linkage_topk"] = """
WITH pairs AS (
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
         a.c_name AS name_a, b.c_name AS name_b,
         CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS distance
  FROM customer a JOIN customer b
    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
  WHERE abs(length(a.c_name) - length(b.c_name)) <= 2
    AND levenshtein(a.c_name, b.c_name) <= 2
), sym AS (
  SELECT id_a AS rid, id_b AS oid, distance FROM pairs
  UNION ALL
  SELECT id_b AS rid, id_a AS oid, distance FROM pairs
), kept AS (
  SELECT least(rid, oid) AS id_a, greatest(rid, oid) AS id_b
  FROM (
    SELECT rid, oid,
           row_number() OVER (PARTITION BY rid ORDER BY distance, oid) AS rk
    FROM sym
  ) WHERE rk <= 3
  GROUP BY 1, 2
)
SELECT p.id_a, p.id_b, p.name_a, p.name_b, p.distance
FROM pairs p JOIN kept k ON p.id_a = k.id_a AND p.id_b = k.id_b
"""


def q_exact_duplicates(spark, sf_dir):
    return dedup.exact_duplicates(_docs(spark, sf_dir))


ORACLE["exact_duplicates"] = """
SELECT min(doc_id) AS keeper, count(*) AS n_dups
FROM documents GROUP BY md5(text)
"""

# distinct 3-gram shingles per doc — mirrors dedup.shingles(n=3)
_SHINGLES_3 = f"""
  SELECT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
             range(1, len(ts) - 1),
             i -> array_to_string(ts[i:i+2], ' ')))) AS shingle
    FROM (SELECT doc_id, {_TOK} AS ts FROM documents)
    WHERE len(ts) >= 3)
"""


def q_shingles(spark, sf_dir):
    return dedup.shingles(_docs(spark, sf_dir), n=3)


ORACLE["shingles"] = _SHINGLES_3

# 32 minhashes per doc, flattened (doc_id, i, mh)
_MINHASH_FLAT = f"""
  SELECT doc_id, CAST(g.i AS INTEGER) AS i,
         min(({_A_SQL}[g.i + 1] * h + {_B_SQL}[g.i + 1]) % {MINHASH_PRIME}) AS mh
  FROM (SELECT doc_id, {h28_sql("shingle")} AS h FROM ({_SHINGLES_3})),
       generate_series(0, {NUM_MINHASHES - 1}) g(i)
  GROUP BY doc_id, g.i
"""


def q_minhash_signatures(spark, sf_dir):
    sigs = dedup.minhash_signatures(_docs(spark, sf_dir), n=3)
    # posexplode_outer: sig is always 32 elements; a plain posexplode
    # made the optimizer infer size(sig)>0 and push it to the scan with
    # the WHOLE 32-fold signature inlined — 119s instead of 3s at sf0.1
    # (see operators/text.py note on InferFiltersFromGenerate).
    return sigs.select("doc_id", F.posexplode_outer("sig").alias("i", "mh"))


ORACLE["minhash_signatures"] = _MINHASH_FLAT


def q_minhash_lsh_candidates(spark, sf_dir):
    return dedup.minhash_lsh_candidates(_docs(spark, sf_dir), n=3, bands=8)


ORACLE["minhash_lsh_candidates"] = f"""
WITH mh AS ({_MINHASH_FLAT}),
bands AS (
  SELECT doc_id, i // 4 AS band,
         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bsig
  FROM mh GROUP BY doc_id, i // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
),
agree AS (
  SELECT c.doc_a, c.doc_b,
         sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS ag
  FROM cand c
  JOIN mh x ON x.doc_id = c.doc_a
  JOIN mh y ON y.doc_id = c.doc_b AND y.i = x.i
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b, CAST(ag AS DOUBLE) / {NUM_MINHASHES} AS est_sim FROM agree
"""


def q_ngram_jaccard(spark, sf_dir):
    out = dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.1)
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


ORACLE["ngram_jaccard"] = f"""
WITH sh AS ({_SHINGLES_3}),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.1
"""


def q_simhash(spark, sf_dir):
    return dedup.simhash(_docs(spark, sf_dir), bits=32)


ORACLE["simhash"] = f"""
WITH tf AS (
  SELECT doc_id, t AS w, count(*) AS tf
  FROM (SELECT doc_id, unnest({_TOK}) AS t FROM documents)
  GROUP BY doc_id, t
), th AS (
  SELECT doc_id, tf, {h60_sql('w')} AS h FROM tf
), c AS (
  SELECT doc_id, g.b AS b,
         CASE WHEN (h >> g.b) & 1 = 1 THEN tf ELSE -tf END AS v
  FROM th, generate_series(0, 31) g(b)
), s AS (
  SELECT doc_id, b, sum(v) AS s FROM c GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT)
         AS simhash
FROM s GROUP BY doc_id
"""

# pigeonhole bands: 32-bit sig, max_hamming=3 → 4 bands of 8 bits
_SIMHASH_CTE = f"""
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT)
           AS simhash
  FROM (
    SELECT doc_id, b, sum(v) AS s FROM (
      SELECT doc_id, g.b AS b,
             CASE WHEN (h >> g.b) & 1 = 1 THEN tf ELSE -tf END AS v
      FROM (
        SELECT doc_id, tf, {h60_sql('w')} AS h FROM (
          SELECT doc_id, t AS w, count(*) AS tf
          FROM (SELECT doc_id, unnest({_TOK}) AS t FROM documents)
          GROUP BY doc_id, t)),
        generate_series(0, 31) g(b))
    GROUP BY doc_id, b)
  GROUP BY doc_id
"""


def q_simhash_near_dupes(spark, sf_dir):
    return dedup.simhash_near_dupes(_docs(spark, sf_dir), bits=32, max_hamming=3)


ORACLE["simhash_near_dupes"] = f"""
WITH s AS ({_SIMHASH_CTE}),
banded AS (
  SELECT doc_id, simhash, g.b AS band,
         (simhash >> (g.b * 8)) & 255 AS bval
  FROM s, generate_series(0, 3) g(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sa, b.simhash AS sb
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
"""


def q_dedup_clusters(spark, sf_dir):
    """Near-dup pairs (n-gram Jaccard >= 0.1) folded into connected
    components with a keep-lowest canonical doc per cluster."""
    pairs = dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.1)
    return dedup.dedup_clusters(pairs)


ORACLE["dedup_clusters"] = f"""
WITH RECURSIVE pairs AS (
{ORACLE["ngram_jaccard"]}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(node, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
),
lab AS (SELECT node AS doc_id, min(lab) AS canonical_id FROM reach GROUP BY node)
SELECT doc_id, canonical_id,
       count(*) OVER (PARTITION BY canonical_id) AS cluster_size
FROM lab
"""


def q_dedup_apply(spark, sf_dir):
    """Close the dedup loop: the corpus AFTER near-dup removal — every
    document whose cluster keeper is some other document is dropped
    via one anti-join against the clustering's non-keeper set."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.1)
    clusters = dedup.dedup_clusters(pairs)
    drop = clusters.where(F.col("doc_id") != F.col("canonical_id")).select("doc_id")
    return docs.join(drop, "doc_id", "left_anti").select("doc_id", "source", "n_chars")


# the deduplicated corpus: CTE-reuses the clustering oracle verbatim —
# the apply step is just an anti-join against its non-keeper set.
ORACLE["dedup_apply"] = f"""
WITH clusters AS (
{ORACLE["dedup_clusters"]}
)
SELECT d.doc_id, d.source, d.n_chars
FROM documents d
WHERE d.doc_id NOT IN
  (SELECT doc_id FROM clusters WHERE doc_id <> canonical_id)
"""

# word 4-gram shingles (distinct per doc), mirroring dedup.shingles
# with n=4: range yields i = 1 .. len-3, the inclusive slice
# ts[i:i+3] is 4 tokens.
_SHINGLES_4 = f"""
  SELECT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
             range(1, len(ts) - 2),
             i -> array_to_string(ts[i:i+3], ' ')))) AS shingle
    FROM (SELECT doc_id, {_TOK} AS ts FROM documents)
    WHERE len(ts) >= 4)
"""


def q_contamination_flags(spark, sf_dir):
    """Benchmark decontamination: every 97th document plays the eval
    set; flag the rest of the corpus on shared word 4-grams (the
    synthetic corpus has too few genuine 5-gram collisions to make an
    interesting check; real pipelines run n around 5-13)."""
    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    return dedup.contamination_flags(corpus, bench, n=4)


ORACLE["contamination_flags"] = f"""
WITH sh AS ({_SHINGLES_4}),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
SELECT s.doc_id, count(*) AS n_hits
FROM sh s JOIN bench USING (shingle)
WHERE s.doc_id % 97 <> 0
GROUP BY s.doc_id
"""


def q_curated_corpus(spark, sf_dir):
    """The curation flagship: one DAG composing three operators —
    quality scoring, language ID, and benchmark decontamination — into
    the 'what actually ships to training' query. Catalyst sees the
    whole pipeline: the three projections fuse over a single corpus
    scan, and the decontamination side is the only extra exchange."""
    docs = _docs(spark, sf_dir)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    bench = docs.where(F.col("doc_id") % 97 == 0)
    q = text_quality.quality_score(corpus)
    lid = text_quality.language_id(corpus).select("doc_id", "pred_lang")
    flagged = dedup.contamination_flags(corpus, bench, n=4).select("doc_id")
    return (
        corpus.select("doc_id", "source")
        .join(q, "doc_id")
        .join(lid, "doc_id")
        .join(flagged, "doc_id", "left_anti")
        .where((F.col("quality") >= 0.5) & (F.col("pred_lang") == "en"))
        .select("doc_id", "source", "quality")
    )


# curation flagship: CTE-reuses the quality, language-ID and
# decontamination oracles verbatim and composes them the same way the
# Spark DAG does.
ORACLE["curated_corpus"] = f"""
WITH q AS (
{ORACLE["quality_score"]}
),
l AS (
{ORACLE["language_id"]}
),
flagged AS (
{ORACLE["contamination_flags"]}
)
SELECT d.doc_id, d.source, q.quality
FROM documents d
JOIN q USING (doc_id)
JOIN l USING (doc_id)
WHERE d.doc_id % 97 <> 0
  AND d.doc_id NOT IN (SELECT doc_id FROM flagged)
  AND q.quality >= 0.5
  AND l.pred_lang = 'en'
"""


def q_ngram_novelty(spark, sf_dir):
    """Per-document 3-gram novelty (duplicate-n-gram fraction) over
    the documents table — the annotation-join curation metric."""
    return dedup.ngram_novelty(_docs(spark, sf_dir), n=3)


ORACLE["ngram_novelty"] = f"""
WITH sh AS ({_SHINGLES_3}),
dfc AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
SELECT s.doc_id, count(*) AS n_grams,
       CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS shared_grams,
       round(1.0 - CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   / count(*), 6) AS novelty
FROM sh s JOIN dfc d ON d.shingle = s.shingle
GROUP BY s.doc_id
"""


def q_incremental_dedup(spark, sf_dir):
    """Steady-state ingestion dedup: docs with doc_id % 3 == 0 arrive
    as the new batch against the digest index of the rest of the
    corpus; survivors are new-batch docs whose text is unseen, one per
    within-batch duplicate group (min id)."""
    docs = _docs(spark, sf_dir)
    new_batch = docs.where(F.col("doc_id") % 3 == 0)
    seen = (
        docs.where(F.col("doc_id") % 3 != 0)
        .select(F.md5("text").alias("digest"))
        .distinct()
    )
    return dedup.incremental_dedup(new_batch, seen)


ORACLE["incremental_dedup"] = """
WITH batch AS (
  SELECT doc_id, md5(text) AS digest FROM documents WHERE doc_id % 3 = 0
),
keeper AS (SELECT digest, min(doc_id) AS doc_id FROM batch GROUP BY digest),
seen AS (
  SELECT DISTINCT md5(text) AS digest FROM documents WHERE doc_id % 3 != 0
)
SELECT k.doc_id, k.digest
FROM keeper k LEFT JOIN seen s ON s.digest = k.digest
WHERE s.digest IS NULL
"""


def q_prefix_jaccard(spark, sf_dir):
    """Exact Jaccard pairs at t=0.1, the same rows as ngram_jaccard and
    its oracle verbatim. It used to run a PPJoin prefix-filter join;
    that path never beat the inverted join at any measured scale or
    threshold (operators/dedup.py), so both names run the one join."""
    return q_ngram_jaccard(spark, sf_dir)


# Connected components via a recursive label-closure CTE: `reach`
# enumerates, for every node, every label reachable over the
# undirected pair edges (UNION dedup terminates the recursion), and
# min() over that closure is exactly the component minimum the Spark
# min-label-propagation loop converges to.
# lossless prefix filtering must land exactly on the naive join
ORACLE["prefix_jaccard"] = ORACLE["ngram_jaccard"]


def q_dedup_savings(spark, sf_dir):
    """The dedup budget headline: whitespace-token volume of the raw
    corpus vs the near-dup-deduplicated corpus (dedup_apply's keeper
    set) and the savings percentage — one row (raw_tokens,
    dedup_tokens, savings_pct). Composes the clustering pipeline the
    same way its oracle composes the clustering SQL."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.1)
    clusters = dedup.dedup_clusters(pairs)
    # r15: ONE tokenize pass — a left-join drop marker turns the old
    # raw-agg + anti-join-agg + crossJoin (two corpus tokenizations)
    # into two conditional LONG sums over one scan; integer sums are
    # order-independent, so both totals are bit-identical to the
    # two-pass shape.
    # .distinct() guards the join against duplicate doc_id rows ever
    # appearing in the drop set (r15 ADVICE: the left-join marker
    # would silently inflate BOTH token sums, where the old left_anti
    # was duplicate-safe). Today dedup_clusters groups by id so this
    # dedups nothing — one cheap exchange over the small drop set buys
    # independence from that upstream invariant.
    drops = (
        clusters.where(F.col("doc_id") != F.col("canonical_id"))
        .select("doc_id")
        .distinct()
        .select("doc_id", F.lit(1).alias("_drop"))
    )
    t = F.size(text.tokens_array("text")).cast("long")
    return (
        docs.join(drops, "doc_id", "left")
        .agg(
            F.sum(t).alias("raw_tokens"),
            F.sum(F.when(F.col("_drop").isNull(), t).otherwise(F.lit(0))).alias(
                "dedup_tokens"
            ),
        )
        .select(
            "raw_tokens",
            "dedup_tokens",
            F.round(
                (F.col("raw_tokens") - F.col("dedup_tokens"))
                / F.col("raw_tokens")
                * 100,
                6,
            ).alias("savings_pct"),
        )
    )


# reuses the dedup_apply composition verbatim for the keeper set
ORACLE["dedup_savings"] = f"""
WITH clusters AS (
{ORACLE["dedup_clusters"]}
), raw AS (
  SELECT CAST(sum(len({_TOK})) AS BIGINT) AS raw_tokens FROM documents
), kept AS (
  SELECT CAST(sum(len({_TOK})) AS BIGINT) AS dedup_tokens
  FROM documents d
  WHERE d.doc_id NOT IN
    (SELECT doc_id FROM clusters WHERE doc_id <> canonical_id)
)
SELECT raw_tokens, dedup_tokens,
       round(CAST(raw_tokens - dedup_tokens AS DOUBLE)
             / raw_tokens * 100, 6) AS savings_pct
FROM raw CROSS JOIN kept
"""


def q_cluster_canonical(spark, sf_dir):
    """Quality-aware canonical per near-dup cluster: the highest
    quality_score member wins (ties to lowest doc_id) — the curation
    refinement of dedup_clusters' keep-lowest-id rule."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.1)
    return dedup.cluster_canonical(
        dedup.dedup_clusters(pairs), text_quality.quality_score(docs)
    )


# canonical-by-quality: CTE-reuses BOTH the clustering oracle and the
# quality oracle verbatim, so the composition can never drift from its
# parts
ORACLE["cluster_canonical"] = f"""
WITH clusters AS (
{ORACLE["dedup_clusters"]}
), q AS (
{ORACLE["quality_score"]}
)
SELECT cluster_id, keep_doc_id, keep_quality, cluster_size FROM (
  SELECT c.canonical_id AS cluster_id, c.doc_id AS keep_doc_id,
         q.quality AS keep_quality, c.cluster_size,
         row_number() OVER (PARTITION BY c.canonical_id
                            ORDER BY q.quality DESC, c.doc_id ASC) AS rn
  FROM clusters c JOIN q ON c.doc_id = q.doc_id)
WHERE rn = 1
"""


def q_split_leakage(spark, sf_dir):
    """Train/test leakage report: LSH near-dup pairs that straddle the
    hash_split train/val/test assignment, counted per split pair."""
    docs = _docs(spark, sf_dir)
    splits = sampling.hash_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "split")
    cands = dedup.minhash_lsh_candidates(docs, n=3, bands=8)
    return dedup.split_leakage(cands, splits)


# composed oracles: reuse the standalone queries' oracle SQL verbatim
# as derived tables — the composition is the check (defined here,
# after every referenced entry exists)
ORACLE["split_leakage"] = f"""
WITH cand AS (SELECT doc_a, doc_b FROM ({ORACLE['minhash_lsh_candidates']}) _c),
sp AS (SELECT doc_id, split FROM ({ORACLE['hash_split']}) _s)
SELECT least(sa.split, sb.split) AS split_lo,
       greatest(sa.split, sb.split) AS split_hi,
       count(*) AS n_pairs
FROM cand
JOIN sp sa ON sa.doc_id = cand.doc_a
JOIN sp sb ON sb.doc_id = cand.doc_b
WHERE sa.split != sb.split
GROUP BY 1, 2
"""


def q_semantic_decontamination(spark, sf_dir):
    """Embedding-level eval decontamination: every train vector whose
    cosine against the held-out eval slice (vec_id % 10 == 3, capped
    at vec_id < 2000 — benchmarks are FIXED-size; an eval set that
    grew with the corpus would make the scan corpus x eval quadratic
    in SF, and no real eval suite does that) reaches 0.35, with its
    best-matching eval item — the semantic complement of the lexical
    n-gram/Bloom/substring passes."""
    emb = _emb(spark, sf_dir)
    ev = emb.where(
        (F.col("vec_id") % 10 == 3) & (F.col("vec_id") < 2000)
    ).select(F.col("vec_id").alias("eval_id"), F.col("embedding").alias("c"))
    train = emb.where((F.col("vec_id") % 10 != 3) | (F.col("vec_id") >= 2000))
    return dedup.semantic_decontamination(train, ev, threshold=0.35)


ORACLE["semantic_decontamination"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ev AS (SELECT vec_id AS eval_id, v AS c FROM e
      WHERE vec_id % 10 = 3 AND vec_id < 2000),
tr AS (SELECT vec_id, v FROM e WHERE vec_id % 10 <> 3 OR vec_id >= 2000),
s AS (
  SELECT tr.vec_id, ev.eval_id,
         round(list_dot_product(ev.c, tr.v)
               / (sqrt(list_dot_product(ev.c, ev.c))
                  * sqrt(list_dot_product(tr.v, tr.v))), 6) AS sim
  FROM tr, ev),
best AS (
  SELECT vec_id, eval_id, sim,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, eval_id ASC) AS rn
  FROM s WHERE sim >= CAST(0.35 AS DOUBLE))
SELECT vec_id, CAST(eval_id AS BIGINT) AS eval_id, sim
FROM best WHERE rn = 1
"""


def q_minhash_calibration(spark, sf_dir):
    """Sketch-quality evaluation: for every LSH candidate pair, the
    MinHash similarity ESTIMATE next to the TRUE n-gram Jaccard and
    the absolute error — the calibration report that justifies (or
    indicts) a banding configuration before running it at 100 TB."""
    docs = _docs(spark, sf_dir)
    # candidate set feeds BOTH the rejoin and the final join — one
    # materialization (lazy: plan-only consumers stay job-free)
    cands = dedup.minhash_lsh_candidates(docs, threshold=0.3).localCheckpoint(
        eager=False
    )
    # r15 (round-14 VERDICT item 3): TRUE Jaccard via the
    # candidate-bounded rejoin instead of ngram_jaccard_pairs
    # (threshold=0.0) — the uncapped threshold-0 inverted join
    # materialized the whole shingle-sharing pair universe before the
    # join below bounded the OUTPUT; compute is now bounded by the
    # LSH candidate set itself (same rows, bit-identical jaccard —
    # see exact_jaccard_for_pairs).
    exact = dedup.exact_jaccard_for_pairs(docs, cands)
    return cands.join(exact, ["doc_a", "doc_b"]).select(
        "doc_a",
        "doc_b",
        "est_sim",
        F.round("jaccard", 6).alias("true_jaccard"),
        F.round(F.abs(F.col("est_sim") - F.col("jaccard")), 6).alias("abs_err"),
    )


ORACLE["minhash_calibration"] = f"""
WITH mh AS ({_MINHASH_FLAT}),
bands AS (
  SELECT doc_id, i // 4 AS band,
         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bsig
  FROM mh GROUP BY doc_id, i // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
),
agree AS (
  SELECT c.doc_a, c.doc_b,
         sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS ag
  FROM cand c
  JOIN mh x ON x.doc_id = c.doc_a
  JOIN mh y ON y.doc_id = c.doc_b AND y.i = x.i
  GROUP BY c.doc_a, c.doc_b
),
est AS (
  SELECT doc_a, doc_b, CAST(ag AS DOUBLE) / {NUM_MINHASHES} AS est_sim
  FROM agree WHERE CAST(ag AS DOUBLE) / {NUM_MINHASHES} >= 0.3
),
sh AS ({_SHINGLES_3}),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT i.doc_a, i.doc_b,
         CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS j
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
)
SELECT e.doc_a, e.doc_b, e.est_sim,
       round(j, 6) AS true_jaccard,
       round(abs(e.est_sim - j), 6) AS abs_err
FROM est e JOIN jac USING (doc_a, doc_b)
"""


def q_containment_pairs(spark, sf_dir):
    """Asymmetric shingle-containment near-dups (|A∩B| / |A| ≥ 0.8) —
    the quote-expansion catcher symmetric Jaccard misses."""
    return dedup.containment_pairs(_docs(spark, sf_dir), threshold=0.8)


ORACLE["containment_pairs"] = f"""
WITH sh AS ({_SHINGLES_3}),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS container_id, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id != b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_id, container_id,
       round(CAST(inter AS DOUBLE) / sz, 6) AS containment
FROM inter i JOIN sizes s ON s.doc_id = i.doc_id
WHERE round(CAST(inter AS DOUBLE) / sz, 6) >= 0.8
"""


def q_source_overlap(spark, sf_dir):
    """Exact shingle-set Jaccard between every pair of the corpus's 20
    sources — the cross-feed overlap dashboard."""
    return dedup.source_overlap(_docs(spark, sf_dir))


ORACLE["source_overlap"] = f"""
WITH sh AS (
  SELECT DISTINCT d.source AS src, s.shingle
  FROM ({_SHINGLES_3}) s JOIN documents d ON d.doc_id = s.doc_id
), sizes AS (SELECT src, count(*) AS sz FROM sh GROUP BY src),
inter AS (
  SELECT a.src AS source_a, b.src AS source_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.src < b.src
  GROUP BY a.src, b.src
)
SELECT source_a, source_b, inter,
       round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.src = source_a
JOIN sizes sb ON sb.src = source_b
"""


def q_verified_near_dupes(spark, sf_dir):
    """LSH-candidate near-dups verified by exact normalized edit
    distance (the sketch-prune → exact-measure two-stage)."""
    return dedup.verified_near_dupes(
        _docs(spark, sf_dir), est_threshold=0.5, max_dist_ratio=0.3
    )


ORACLE["verified_near_dupes"] = f"""
WITH mh AS ({_MINHASH_FLAT}),
bands AS (
  SELECT doc_id, i // 4 AS band,
         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bsig
  FROM mh GROUP BY doc_id, i // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
),
agree AS (
  SELECT c.doc_a, c.doc_b,
         sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS ag
  FROM cand c
  JOIN mh x ON x.doc_id = c.doc_a
  JOIN mh y ON y.doc_id = c.doc_b AND y.i = x.i
  GROUP BY c.doc_a, c.doc_b
),
est AS (
  SELECT doc_a, doc_b, CAST(ag AS DOUBLE) / {NUM_MINHASHES} AS est_sim
  FROM agree WHERE CAST(ag AS DOUBLE) / {NUM_MINHASHES} >= 0.5
),
verified AS (
  SELECT e.doc_a, e.doc_b, e.est_sim,
         levenshtein(da.text, db.text) AS dist,
         greatest(length(da.text), length(db.text)) AS maxlen
  FROM est e
  JOIN documents da ON da.doc_id = e.doc_a
  JOIN documents db ON db.doc_id = e.doc_b
  WHERE abs(length(da.text) - length(db.text))
        <= 0.3 * greatest(length(da.text), length(db.text))
)
SELECT doc_a, doc_b, est_sim, CAST(dist AS INTEGER) AS dist,
       round(CAST(dist AS DOUBLE) / maxlen, 6) AS dist_ratio
FROM verified
WHERE round(CAST(dist AS DOUBLE) / maxlen, 6) <= 0.3
"""

# winnowing: positional 3-gram h28 hashes, min of every 4-hash
# window (short docs = one whole-doc window), distinct per doc —
# mirrored list_transform/list_min lambdas.
_WINNOW_FPS = """
  SELECT doc_id, len(ts) - 2 AS n_kgrams,
         list_distinct(list_transform(
           range(1, greatest(1, (len(ts) - 2) - 4 + 1) + 1),
           p -> list_min(hs[p:p+3]))) AS fps
  FROM (SELECT doc_id, ts,
          list_transform(range(1, len(ts) - 1),
            i -> CAST(CONCAT('0x',
                   substring(md5(array_to_string(ts[i:i+2], ' ')), 1, 7))
                 AS BIGINT)) AS hs
        FROM (SELECT doc_id, {tok} AS ts FROM documents)
        WHERE len(ts) >= 3)
""".format(tok=_TOK)


def q_winnowing_fingerprints(spark, sf_dir):
    """Winnowing (MOSS) fingerprint density per document: 3-gram
    hashes, window 4 — the guaranteed-recall deterministic sampling
    stage for substring-level duplicate detection."""
    return dedup.winnowing_fingerprints(_docs(spark, sf_dir), n=3, w=4)


ORACLE["winnowing_fingerprints"] = f"""
SELECT doc_id, CAST(n_kgrams AS INTEGER) AS n_kgrams,
       CAST(len(fps) AS INTEGER) AS n_fingerprints,
       round(len(fps) / CAST(n_kgrams AS DOUBLE), 6) AS density
FROM ({_WINNOW_FPS})
"""


def q_winnowing_candidates(spark, sf_dir):
    """MOSS matching stage: candidate pairs sharing >= 2 winnowed
    fingerprints, document-frequency cap 50 on boilerplate
    fingerprints."""
    return dedup.winnowing_candidates(
        _docs(spark, sf_dir), n=3, w=4, min_shared=2, fp_df_cap=50
    )


ORACLE["winnowing_candidates"] = f"""
WITH fp0 AS (SELECT doc_id, unnest(fps) AS fp FROM ({_WINNOW_FPS})),
hot AS (SELECT fp FROM fp0 GROUP BY fp HAVING count(*) > 50),
fp AS (SELECT * FROM fp0 WHERE fp NOT IN (SELECT fp FROM hot))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS shared_fps
FROM fp a JOIN fp b USING (fp)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 2
"""


def q_dedup_threshold_curve(spark, sf_dir):
    """Savings-vs-threshold calibration sweep over the exact n-gram
    Jaccard pairs: ONE candidate join at the loosest threshold feeds
    all five curve points; zero-hit thresholds emit zeros rows."""
    return dedup.dedup_threshold_curve(
        _docs(spark, sf_dir), thresholds=(0.1, 0.3, 0.5, 0.7, 0.9), n=3
    )


# dedup_threshold_curve: the pairs CTE replicates ngram_jaccard
# exactly (base filter on the UNROUNDED jaccard at the loosest
# threshold), then every curve compare runs on the 6dp-rounded value
# against CAST-to-DOUBLE threshold literals — identical boundary
# semantics in both engines.
ORACLE["dedup_threshold_curve"] = f"""
WITH sh AS ({_SHINGLES_3}),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT doc_a, doc_b,
         round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
  FROM inter
  JOIN sz sa ON sa.doc_id = doc_a
  JOIN sz sb ON sb.doc_id = doc_b
  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.1
),
th AS (SELECT CAST(t AS DOUBLE) AS threshold
       FROM (VALUES (0.1), (0.3), (0.5), (0.7), (0.9)) v(t)),
cand AS (SELECT th.threshold, p.doc_b
         FROM th JOIN pairs p ON p.jaccard >= th.threshold),
np AS (SELECT threshold, count(*) AS n_pairs FROM cand GROUP BY threshold),
fd AS (SELECT DISTINCT threshold, doc_b FROM cand),
tc AS (SELECT doc_id, len({_TOK}) AS n_tok FROM documents),
tot AS (SELECT SUM(n_tok) AS total FROM tc),
fl AS (SELECT threshold, count(*) AS n_docs, SUM(tc.n_tok) AS toks
       FROM fd JOIN tc ON tc.doc_id = fd.doc_b GROUP BY threshold)
SELECT th.threshold,
       CAST(COALESCE(np.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(COALESCE(fl.n_docs, 0) AS BIGINT) AS n_docs_flagged,
       CAST(COALESCE(fl.toks, 0) AS BIGINT) AS tokens_flagged,
       round(COALESCE(fl.toks, 0) / CAST((SELECT total FROM tot) AS DOUBLE), 6)
         AS savings_pct
FROM th LEFT JOIN np ON np.threshold = th.threshold
        LEFT JOIN fl ON fl.threshold = th.threshold
"""

# hash-bin of the cluster representative — the _DOC_BIN formula (h60
# mod 1e6) keyed on rep instead of doc_id
_REP_BIN = (
    "CAST(CONCAT('0x', substring(md5(CAST(rep AS VARCHAR)), 1, 15)) AS BIGINT)"
    " % 1000000"
)


def q_cluster_aware_split(spark, sf_dir):
    """Leakage-proof split: near-dup components (the dedup_clusters
    pair graph at the same threshold) hash-split by their
    representative, so no candidate pair can straddle splits — the
    constructive fix for what split_leakage reports."""
    return dedup.cluster_aware_split(
        _docs(spark, sf_dir),
        dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.1),
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )


# cluster_aware_split: the dedup_clusters recursive closure feeds a
# LEFT join (singletons keep their own id as rep), then the exact
# hash_split CASE on the representative.
ORACLE["cluster_aware_split"] = f"""
WITH RECURSIVE pairs AS (
{ORACLE["ngram_jaccard"]}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(node, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
),
lab AS (SELECT node AS doc_id, min(lab) AS canonical_id FROM reach GROUP BY node),
keyed AS (
  SELECT d.doc_id, COALESCE(l.canonical_id, d.doc_id) AS rep
  FROM documents d LEFT JOIN lab l USING (doc_id)
)
SELECT doc_id, rep,
       CASE WHEN {_REP_BIN} < 800000 THEN 'train'
            WHEN {_REP_BIN} < 900000 THEN 'val'
            ELSE 'test' END AS split
FROM keyed
"""
