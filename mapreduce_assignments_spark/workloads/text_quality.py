"""Document quality signals, language id, language-model statistics
and filter funnels."""

from __future__ import annotations

import pyspark.sql.functions as F

from ..functions.hashing import h60_sql
from ..operators import sampling, text, text_quality
from ._shared import _DOC_BIN, _TOK, _docs

ORACLE: dict[str, str] = {}


def q_oov_rate(spark, sf_dir):
    """Out-of-vocabulary evaluation across the deterministic hash
    split: the whitespace vocabulary is built from the TRAIN split
    only; each held-out split reports its token volume and OOV rate —
    the tokenizer/coverage eval every training pipeline runs before a
    vocab freeze. The vocab anti-join is keyed by token (AQE
    broadcast-izes a small vocab); nothing is collected."""
    docs = sampling.hash_split(
        _docs(spark, sf_dir), "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    toks = docs.select(
        "split", F.explode(text.tokens_array("text")).alias("tok")
    )
    vocab = toks.where(F.col("split") == "train").select("tok").distinct()
    other = toks.where(F.col("split") != "train")
    totals = other.groupBy("split").agg(F.count("*").alias("n_tokens"))
    oov = (
        other.join(vocab, "tok", "left_anti")
        .groupBy("split")
        .agg(F.count("*").alias("n_oov"))
    )
    return totals.join(oov, "split", "left").select(
        "split",
        "n_tokens",
        F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
        F.round(F.coalesce("n_oov", F.lit(0)) / F.col("n_tokens"), 6).alias(
            "oov_rate"
        ),
    )


ORACLE["oov_rate"] = f"""
WITH split_docs AS (
  SELECT doc_id, text,
         CASE WHEN {_DOC_BIN} < 800000 THEN 'train'
              WHEN {_DOC_BIN} < 900000 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
toks AS (SELECT split, unnest({_TOK.replace("text", "text")}) AS tok FROM split_docs),
vocab AS (SELECT DISTINCT tok FROM toks WHERE split = 'train'),
other AS (SELECT * FROM toks WHERE split != 'train'),
totals AS (SELECT split, count(*) AS n_tokens FROM other GROUP BY split),
oov AS (
  SELECT split, count(*) AS n_oov FROM other
  WHERE tok NOT IN (SELECT tok FROM vocab) GROUP BY split
)
SELECT t.split, t.n_tokens, COALESCE(o.n_oov, 0) AS n_oov,
       round(COALESCE(o.n_oov, 0) / t.n_tokens, 6) AS oov_rate
FROM totals t LEFT JOIN oov o ON o.split = t.split
"""


def q_heldout_logprob(spark, sf_dir):
    """LM-quality gate with a real train/eval separation: add-one
    unigram LM trained on the hash split's TRAIN docs, held-out
    splits scored per doc and summarized per split."""
    docs = sampling.hash_split(
        _docs(spark, sf_dir), "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    scored = text_quality.heldout_logprob(
        docs.where(F.col("split") == "train"),
        docs.where(F.col("split") != "train"),
    )
    per_split = docs.where(F.col("split") != "train").select("doc_id", "split")
    return (
        scored.join(per_split, "doc_id")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.sum("avg_logprob") / F.count("*"), 6).alias("mean_logprob"),
        )
    )


ORACLE["heldout_logprob"] = f"""
WITH split_docs AS (
  SELECT doc_id, text,
         CASE WHEN {_DOC_BIN} < 800000 THEN 'train'
              WHEN {_DOC_BIN} < 900000 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
ttf AS (
  SELECT t AS term, count(*) AS cnt
  FROM (SELECT unnest({_TOK}) AS t FROM split_docs WHERE split = 'train')
  GROUP BY t
),
totals AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total, count(*) AS vocab FROM ttf),
tf AS (
  SELECT doc_id, split, t AS term, count(*) AS tf
  FROM (SELECT doc_id, split, unnest({_TOK}) AS t
        FROM split_docs WHERE split != 'train')
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT tf.doc_id, tf.split,
         round(sum(tf.tf * ln((COALESCE(ttf.cnt, 0) + 1.0)
                              / (t.n_total + t.vocab)))
               / sum(tf.tf), 6) AS avg_logprob
  FROM tf LEFT JOIN ttf ON ttf.term = tf.term, totals t
  GROUP BY 1, 2
)
SELECT split, count(*) AS n_docs,
       round(sum(avg_logprob) / count(*), 6) AS mean_logprob
FROM scored GROUP BY split
"""


def q_sentence_stats(spark, sf_dir):
    """Per-document sentence segmentation stats — narrow HOF stage."""
    return text_quality.sentence_stats(_docs(spark, sf_dir))


ORACLE["sentence_stats"] = """
WITH segs AS (
  SELECT doc_id,
         list_filter(list_transform(regexp_split_to_array(text, '[.!?]+'),
                                    s -> trim(s)),
                     s -> len(s) > 0) AS arr
  FROM documents
)
SELECT doc_id,
       CAST(len(arr) AS INTEGER) AS n_sentences,
       CAST(list_sum(list_transform(arr, s -> len(s))) AS INTEGER)
         AS total_sentence_chars,
       round(CAST(list_sum(list_transform(arr, s -> len(s))) AS BIGINT)
             / len(arr), 6) AS avg_sentence_chars,
       CAST(list_max(list_transform(arr, s -> len(s))) AS INTEGER)
         AS max_sentence_chars
FROM segs WHERE len(arr) > 0
"""


def q_perplexity_buckets(spark, sf_dir):
    """CCNet-style per-language head/middle/tail quality buckets over
    the corpus unigram-LM score."""
    return text_quality.perplexity_buckets(_docs(spark, sf_dir), n_buckets=3)


ORACLE["perplexity_buckets"] = r"""
WITH tf AS (
  SELECT doc_id, t AS term, count(*) AS tf
  FROM (SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'), t -> len(t) > 0)) AS t FROM documents)
  GROUP BY doc_id, t
), cnts AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY term),
tot AS (SELECT sum(cnt) AS n_total, count(*) AS vocab FROM cnts),
scored AS (
  SELECT doc_id,
         round(sum(tf * ln((cnt + 1.0) / (n_total + vocab))) / sum(tf), 6)
           AS avg_logprob
  FROM tf JOIN cnts USING (term), tot
  GROUP BY doc_id
), lb AS (
  SELECT d.lang, s.avg_logprob,
         ntile(3) OVER (PARTITION BY d.lang
                        ORDER BY s.avg_logprob DESC, s.doc_id) AS bucket
  FROM scored s JOIN documents d USING (doc_id)
)
SELECT lang, CAST(bucket AS INTEGER) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(avg_logprob), 6) AS avg_logprob,
       min(avg_logprob) AS min_logprob,
       max(avg_logprob) AS max_logprob
FROM lb GROUP BY 1, 2
"""


def q_top_terms_per_source(spark, sf_dir):
    return text_quality.top_terms_per_source(_docs(spark, sf_dir), k=5)


ORACLE["top_terms_per_source"] = f"""
WITH tok AS (SELECT source, unnest({_TOK}) AS token FROM documents),
c AS (SELECT source, token, count(*) AS cnt FROM tok GROUP BY source, token),
r AS (
  SELECT source, token, cnt,
         CAST(row_number() OVER (PARTITION BY source
              ORDER BY cnt DESC, token ASC) AS INTEGER) AS rank
  FROM c
)
SELECT source, token, cnt, rank FROM r WHERE rank <= 5
"""


def q_token_counts(spark, sf_dir):
    return text_quality.token_counts(_docs(spark, sf_dir))


ORACLE["token_counts"] = r"""
SELECT doc_id,
       CAST(len(list_filter(regexp_split_to_array(text, '\s+'), t -> len(t) > 0))
            AS INTEGER) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
            AS INTEGER) AS bpe_tokens,
       CAST(length(text) AS INTEGER) AS n_chars
FROM documents
"""

_STOP_IN = ", ".join(f"'{w}'" for w in text_quality.STOPWORDS)


def q_quality_score(spark, sf_dir):
    return text_quality.quality_score(_docs(spark, sf_dir))


ORACLE["quality_score"] = f"""
WITH t AS (SELECT doc_id, {_TOK} AS ts FROM documents),
m AS (
  SELECT doc_id, len(ts) AS n,
         CASE WHEN len(ts) > 0
              THEN CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) ELSE 0.0 END AS dr,
         CASE WHEN len(ts) > 0
              THEN CAST(len(list_filter(ts, w -> w IN ({_STOP_IN}))) AS DOUBLE) / len(ts)
              ELSE 0.0 END AS sr
  FROM t)
SELECT doc_id,
       round(0.4 * least(1.0, CAST(n AS DOUBLE) / 64.0)
             + 0.3 * dr
             + 0.3 * (1.0 - least(1.0, abs(sr - 0.4) * 2.5)), 6) AS quality
FROM m
"""

_LANGS = sorted(text_quality.LANG_MARKERS)

_SCORE_EXPRS = ",\n         ".join(
    "CAST(len(list_filter(ts, w -> w IN ({}))) AS INTEGER) AS s_{}".format(
        ", ".join(f"'{m}'" for m in text_quality.LANG_MARKERS[lang]), lang
    )
    for lang in _LANGS
)

_GREATEST = "greatest(" + ", ".join(f"s_{lang}" for lang in _LANGS) + ")"

_PRED_CASE = "CASE " + " ".join(
    f"WHEN s_{lang} = {_GREATEST} THEN '{lang}'" for lang in _LANGS
) + " END"


def q_language_id(spark, sf_dir):
    return text_quality.language_id(_docs(spark, sf_dir))


ORACLE["language_id"] = f"""
WITH t AS (SELECT doc_id, {_TOK} AS ts FROM documents),
s AS (SELECT doc_id,
         {_SCORE_EXPRS}
      FROM t)
SELECT doc_id, {_PRED_CASE} AS pred_lang, {_GREATEST} AS score FROM s
"""


def q_source_stats(spark, sf_dir):
    return text_quality.source_stats(_docs(spark, sf_dir))


# source_stats re-states quality_expr + the whitespace token count
# inside a per-source aggregate; per-doc quality is rounded to 6 dp
# BEFORE averaging on both sides (order-free double sums).
ORACLE["source_stats"] = f"""
WITH t AS (SELECT source, lang, {_TOK} AS ts FROM documents),
m AS (
  SELECT source, lang, len(ts) AS n,
         CASE WHEN len(ts) > 0
              THEN CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) ELSE 0.0 END AS dr,
         CASE WHEN len(ts) > 0
              THEN CAST(len(list_filter(ts, w -> w IN ({_STOP_IN}))) AS DOUBLE) / len(ts)
              ELSE 0.0 END AS sr
  FROM t)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n) AS BIGINT) AS total_ws_tokens,
       round(avg(round(0.4 * least(1.0, CAST(n AS DOUBLE) / 64.0)
                       + 0.3 * dr
                       + 0.3 * (1.0 - least(1.0, abs(sr - 0.4) * 2.5)), 6)), 6)
         AS avg_quality,
       count(DISTINCT lang) AS n_langs
FROM m GROUP BY source
"""

# fixed corpus language codes — declared, not discovered (see
# lang_source_matrix: explicit pivot values avoid a distinct scan)
_PIVOT_LANGS = ["de", "en", "es", "fr", "zh"]


def q_lang_source_matrix(spark, sf_dir):
    return text_quality.lang_source_matrix(_docs(spark, sf_dir), _PIVOT_LANGS)


ORACLE["lang_source_matrix"] = """
SELECT source,
       CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
       CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
       CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
       CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
       CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
FROM documents GROUP BY source
"""


def q_doc_fingerprint(spark, sf_dir):
    return text_quality.doc_fingerprint(_docs(spark, sf_dir), n=5)


ORACLE["doc_fingerprint"] = f"""
WITH t AS (SELECT doc_id, {_TOK} AS ts FROM documents)
SELECT doc_id,
       CASE WHEN len(ts) >= 5
            THEN list_aggregate(list_transform(
                   range(1, len(ts) - 3),
                   i -> {h60_sql("array_to_string(ts[i:i+4], ' ')")}), 'min')
            ELSE {h60_sql("array_to_string(ts, ' ')")} END AS fingerprint
FROM t
"""


def q_repetition_stats(spark, sf_dir):
    return text_quality.repetition_stats(_docs(spark, sf_dir), n=3)


ORACLE["repetition_stats"] = f"""
WITH t AS (SELECT doc_id, {_TOK} AS ts FROM documents),
ng AS (
  SELECT doc_id, g, count(*) AS c FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(ts) - 1),
                                 i -> array_to_string(ts[i:i+2], ' '))) AS g
    FROM t WHERE len(ts) >= 3)
  GROUP BY doc_id, g),
ns AS (
  SELECT doc_id, sum(c) AS n_ngrams,
         sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
  FROM ng GROUP BY doc_id),
bg AS (
  SELECT doc_id, g, count(*) AS c FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(ts)),
                                 i -> array_to_string(ts[i:i+1], ' '))) AS g
    FROM t WHERE len(ts) >= 2)
  GROUP BY doc_id, g),
bs AS (SELECT doc_id, sum(c) AS n_bi, max(c) AS max_bi FROM bg GROUP BY doc_id)
SELECT t.doc_id,
       CAST(coalesce(ns.n_ngrams, 0) AS BIGINT) AS n_trigrams,
       round(CASE WHEN ns.n_ngrams > 0
                  THEN CAST(ns.dup AS DOUBLE) / ns.n_ngrams
                  ELSE 0.0 END, 6) AS dup_trigram_frac,
       round(CASE WHEN bs.n_bi > 0
                  THEN CAST(bs.max_bi AS DOUBLE) / bs.n_bi
                  ELSE 0.0 END, 6) AS top_bigram_share
FROM t
LEFT JOIN ns ON ns.doc_id = t.doc_id
LEFT JOIN bs ON bs.doc_id = t.doc_id
"""


def q_chunk_documents(spark, sf_dir):
    return text_quality.chunk_documents(_docs(spark, sf_dir), size=32, stride=24)


ORACLE["chunk_documents"] = f"""
WITH t AS (SELECT doc_id, {_TOK} AS ts FROM documents)
SELECT doc_id,
       CAST(s // 24 AS INTEGER) AS chunk_idx,
       array_to_string(ts[s + 1 : s + 32], ' ') AS chunk_text,
       CAST(least(32, len(ts) - s) AS INTEGER) AS n_tokens
FROM (SELECT doc_id, ts, unnest(range(0, len(ts), 24)) AS s FROM t)
"""


def q_pii_scrub(spark, sf_dir):
    """PII redaction over documents with deterministic synthetic PII
    (an email + a URL derived from doc_id) appended — the testdata
    itself contains none, and a zero-match regex proves nothing. The
    oracle rebuilds the identical input and re-runs the scrub."""
    docs = _docs(spark, sf_dir)
    withpii = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or https://ex.am/p/"),
            F.col("doc_id").cast("string"),
            F.lit(" now"),
        ).alias("text"),
    )
    return text_quality.pii_scrub(withpii)


ORACLE["pii_scrub"] = f"""
WITH p AS (
  SELECT doc_id,
         text || ' contact u' || CAST(doc_id AS VARCHAR)
              || '@example.com or https://ex.am/p/' || CAST(doc_id AS VARCHAR)
              || ' now' AS t
  FROM documents)
SELECT doc_id,
       regexp_replace(regexp_replace(t, '{text_quality.EMAIL_REGEX}', '<EMAIL>', 'g'),
                      '{text_quality.URL_REGEX}', '<URL>', 'g') AS clean_text,
       CAST(len(regexp_extract_all(t, '{text_quality.EMAIL_REGEX}')) AS INTEGER)
         AS n_emails,
       CAST(len(regexp_extract_all(t, '{text_quality.URL_REGEX}')) AS INTEGER)
         AS n_urls
FROM p
"""


def q_nb_quality_confusion(spark, sf_dir):
    """Confusion matrix of the silver-label NB quality classifier —
    the learned-quality-filter regression gate."""
    return text_quality.nb_quality_confusion(_docs(spark, sf_dir))


# nb_quality_confusion: the whole classifier is closed-form, so the
# oracle replays it end-to-end — silver labels from the shared quality
# formula, add-1 smoothed per-class token likelihoods over the train
# split, 6-dp rounded per-term contributions (BM25 parity discipline),
# priors from doc counts, argmax with >=-ties-to-1.
ORACLE["nb_quality_confusion"] = f"""
WITH t AS (SELECT doc_id, {_TOK} AS ts FROM documents),
m AS (
  SELECT doc_id, ts, len(ts) AS n,
         CASE WHEN len(ts) > 0
              THEN CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) ELSE 0.0 END AS dr,
         CASE WHEN len(ts) > 0
              THEN CAST(len(list_filter(ts, w -> w IN ({_STOP_IN}))) AS DOUBLE) / len(ts)
              ELSE 0.0 END AS sr
  FROM t),
labeled AS (
  SELECT doc_id, ts,
         CAST(round(0.4 * least(1.0, CAST(n AS DOUBLE) / 64.0)
               + 0.3 * dr
               + 0.3 * (1.0 - least(1.0, abs(sr - 0.4) * 2.5)), 6) >= 0.52
              AS INTEGER) AS label
  FROM m),
train AS (SELECT * FROM labeled WHERE doc_id % 5 <> 0),
evals AS (SELECT * FROM labeled WHERE doc_id % 5 = 0),
cls_tok AS (
  SELECT label, term, count(*) AS c
  FROM (SELECT label, unnest(ts) AS term FROM train) GROUP BY 1, 2),
mat AS (
  SELECT term,
         CAST(sum(CASE WHEN label = 0 THEN c ELSE 0 END) AS BIGINT) AS c0,
         CAST(sum(CASE WHEN label = 1 THEN c ELSE 0 END) AS BIGINT) AS c1
  FROM cls_tok GROUP BY term),
scal AS (
  SELECT (SELECT CAST(coalesce(sum(c0), 0) AS BIGINT) FROM mat) AS n0,
         (SELECT CAST(coalesce(sum(c1), 0) AS BIGINT) FROM mat) AS n1,
         (SELECT count(*) FROM mat) AS v,
         (SELECT count(*) FROM train WHERE label = 0) AS d0,
         (SELECT count(*) FROM train WHERE label = 1) AS d1),
eval_tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(ts) AS term FROM evals) GROUP BY 1, 2),
sums AS (
  SELECT e.doc_id,
         sum(e.tf * round(ln((coalesce(mat.c0, 0) + 1.0) / (s.n0 + s.v)), 6)) AS s0,
         sum(e.tf * round(ln((coalesce(mat.c1, 0) + 1.0) / (s.n1 + s.v)), 6)) AS s1
  FROM eval_tf e LEFT JOIN mat USING (term), scal s
  GROUP BY e.doc_id),
scored AS (
  SELECT ev.label,
         CASE WHEN s.d1 = 0 THEN 0
              WHEN s.d0 = 0 THEN 1
              ELSE CAST(coalesce(su.s1, 0.0) + round(ln(CAST(s.d1 AS DOUBLE) / (s.d0 + s.d1)), 6)
                        >= coalesce(su.s0, 0.0) + round(ln(CAST(s.d0 AS DOUBLE) / (s.d0 + s.d1)), 6)
                        AS INTEGER) END AS pred
  FROM evals ev LEFT JOIN sums su USING (doc_id), scal s)
SELECT label, pred, count(*) AS n_docs FROM scored GROUP BY 1, 2
"""


def q_unigram_logprob(spark, sf_dir):
    """Perplexity-proxy quality scoring: mean token log-probability
    under an add-one smoothed unigram LM trained on the corpus itself
    (text_quality.unigram_logprob)."""
    return text_quality.unigram_logprob(_docs(spark, sf_dir))


ORACLE["unigram_logprob"] = f"""
WITH tf AS (
  SELECT doc_id, t AS term, count(*) AS tf
  FROM (SELECT doc_id, unnest({_TOK}) AS t FROM documents)
  GROUP BY doc_id, t
), cnts AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY term),
tot AS (SELECT sum(cnt) AS n_total, count(*) AS vocab FROM cnts)
SELECT doc_id, CAST(sum(tf) AS INTEGER) AS n_tokens,
       round(sum(tf * ln((cnt + 1.0) / (n_total + vocab))) / sum(tf), 6)
         AS avg_logprob
FROM tf JOIN cnts USING (term), tot
GROUP BY doc_id
"""


def q_filter_funnel(spark, sf_dir):
    """Sequential Gopher-style quality-filter funnel over the corpus —
    where do documents die, rule by rule."""
    return text_quality.filter_funnel(_docs(spark, sf_dir))


ORACLE["filter_funnel"] = f"""
WITH f AS (
  SELECT len({_TOK}) AS n_tok,
         list_sum(list_transform({_TOK}, t -> len(t))) AS sum_len,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Z]', '', 'g')) AS upper_chars
  FROM documents
), fl AS (
  SELECT (n_tok >= 5) AS r1,
         (sum_len >= 2 * n_tok AND sum_len <= 12 * n_tok) AS r2,
         (10 * upper_chars <= 3 * n_chars) AS r3
  FROM f
), agg AS (
  SELECT count(*) AS n0,
         CAST(sum(CASE WHEN NOT r1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(sum(CASE WHEN r1 AND NOT r2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
         CAST(sum(CASE WHEN r1 AND r2 AND NOT r3 THEN 1 ELSE 0 END) AS BIGINT) AS f3
  FROM fl
)
SELECT CAST(1 AS INTEGER) AS stage, 'min_tokens' AS rule,
       n0 AS n_in, f1 AS n_rejected, n0 - f1 AS n_out FROM agg
UNION ALL
SELECT CAST(2 AS INTEGER), 'mean_token_len', n0 - f1, f2, n0 - f1 - f2 FROM agg
UNION ALL
SELECT CAST(3 AS INTEGER), 'uppercase_ratio', n0 - f1 - f2, f3,
       n0 - f1 - f2 - f3 FROM agg
"""


def q_filter_funnel_examples(spark, sf_dir):
    """Per-rule rejection examples for the quality funnel: the 3
    lowest-id documents each rule kills, ids k-bounded BEFORE any
    collect."""
    return text_quality.filter_funnel_examples(_docs(spark, sf_dir))


ORACLE["filter_funnel_examples"] = f"""
WITH f AS (
  SELECT doc_id, len({_TOK}) AS n_tok,
         list_sum(list_transform({_TOK}, t -> len(t))) AS sum_len,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Z]', '', 'g')) AS upper_chars
  FROM documents
), d AS (
  SELECT doc_id,
         CASE WHEN NOT (n_tok >= 5) THEN 1
              WHEN NOT (sum_len >= 2 * n_tok AND sum_len <= 12 * n_tok) THEN 2
              WHEN NOT (10 * upper_chars <= 3 * n_chars) THEN 3 END AS stage
  FROM f
), dead AS (SELECT doc_id, stage FROM d WHERE stage IS NOT NULL),
ex AS (
  SELECT stage, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
           AS example_ids
  FROM (SELECT *, row_number() OVER (PARTITION BY stage ORDER BY doc_id) AS rn
        FROM dead)
  WHERE rn <= 3 GROUP BY stage
), cnt AS (SELECT stage, count(*) AS n_rejected FROM dead GROUP BY stage)
SELECT CAST(cnt.stage AS INTEGER) AS stage,
       CASE cnt.stage WHEN 1 THEN 'min_tokens'
                      WHEN 2 THEN 'mean_token_len'
                      ELSE 'uppercase_ratio' END AS rule,
       cnt.n_rejected, ex.example_ids
FROM cnt JOIN ex ON cnt.stage = ex.stage
"""


def q_sentence_dedup_stats(spark, sf_dir):
    """Sentence-mass duplication per source — the boilerplate
    dashboard below document-level dedup."""
    return text_quality.sentence_dedup_stats(_docs(spark, sf_dir))


ORACLE["sentence_dedup_stats"] = """
WITH inst AS (
  SELECT doc_id, source, s.sent
  FROM (
    SELECT doc_id, source,
           unnest(list_filter(list_transform(string_split_regex(text, '[.!?]+'),
                                             x -> trim(x)),
                              x -> len(x) > 0)) AS sent
    FROM documents) s(doc_id, source, sent)
), dfreq AS (
  SELECT sent, count(*) AS n_docs
  FROM (SELECT DISTINCT doc_id, sent FROM inst)
  GROUP BY sent
)
SELECT i.source, count(*) AS n_instances,
       CAST(sum(CASE WHEN d.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_instances,
       round(CAST(sum(CASE WHEN d.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS dup_ratio
FROM inst i JOIN dfreq d USING (sent)
GROUP BY i.source
"""


def q_vocab_coverage(spark, sf_dir):
    """Top-k vocabulary coverage curve (k = 100/1000/10000) — the
    tokenizer-sizing readout."""
    return text_quality.vocab_coverage(_docs(spark, sf_dir))


ORACLE["vocab_coverage"] = f"""
WITH wc AS (
  SELECT t AS term, count(*) AS cnt
  FROM (SELECT unnest({_TOK}) AS t FROM documents) GROUP BY t
), tot AS (SELECT sum(cnt) AS total_tokens FROM wc),
ranked AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term ASC) AS rn FROM wc
)
SELECT k, covered_tokens, CAST(tot.total_tokens AS BIGINT) AS total_tokens,
       round(CAST(covered_tokens AS DOUBLE) / tot.total_tokens, 6) AS coverage
FROM (
  SELECT 100 AS k, CAST(sum(cnt) AS BIGINT) AS covered_tokens
  FROM ranked WHERE rn <= 100
  UNION ALL
  SELECT 1000, CAST(sum(cnt) AS BIGINT) FROM ranked WHERE rn <= 1000
  UNION ALL
  SELECT 10000, CAST(sum(cnt) AS BIGINT) FROM ranked WHERE rn <= 10000
) c CROSS JOIN tot
"""


def q_idf_drift(spark, sf_dir):
    """Top-20 IDF movers between the corpus's deterministic halves —
    lexical drift you can read."""
    return text_quality.idf_drift(_docs(spark, sf_dir))


ORACLE["idf_drift"] = f"""
WITH pairs AS (
  SELECT DISTINCT (doc_id % 2 = 0) AS is_a, doc_id, t AS term
  FROM (SELECT doc_id, unnest({_TOK}) AS t FROM documents)
), halves AS (
  SELECT term,
         CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS df_a,
         CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS df_b
  FROM pairs GROUP BY term
), tot AS (
  SELECT CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_b
  FROM documents
)
SELECT term, df_a, df_b,
       round(ln(CAST(n_a AS DOUBLE) / df_a) - ln(CAST(n_b AS DOUBLE) / df_b), 6)
         AS delta
FROM halves CROSS JOIN tot
WHERE (df_a >= 5 OR df_b >= 5) AND df_a > 0 AND df_b > 0
ORDER BY abs(round(ln(CAST(n_a AS DOUBLE) / df_a)
                   - ln(CAST(n_b AS DOUBLE) / df_b), 6)) DESC, term ASC
LIMIT 20
"""


def q_char_entropy(spark, sf_dir):
    """Character-entropy quality signal per source — junk detectors'
    low/high-entropy flags."""
    return text_quality.char_entropy(_docs(spark, sf_dir))


ORACLE["char_entropy"] = """
WITH chars AS (
  SELECT doc_id, source, c.ch, count(*) AS cnt
  FROM (
    SELECT doc_id, source,
           unnest(list_filter(string_split_regex(text, ''), x -> len(x) > 0))
             AS ch
    FROM documents) c(doc_id, source, ch)
  GROUP BY 1, 2, 3
), tot AS (SELECT doc_id, sum(cnt) AS tot FROM chars GROUP BY 1),
per_doc AS (
  SELECT c.doc_id, c.source,
         round(-sum((CAST(c.cnt AS DOUBLE) / t.tot)
                    * log2(CAST(c.cnt AS DOUBLE) / t.tot)), 6) AS entropy
  FROM chars c JOIN tot t USING (doc_id)
  GROUP BY 1, 2
)
SELECT source, count(*) AS n_docs,
       round(avg(entropy), 6) AS avg_entropy,
       min(entropy) AS min_entropy
FROM per_doc GROUP BY 1
"""


def q_language_id_accuracy(spark, sf_dir):
    """Confusion matrix of the marker-based language-ID heuristic
    against the table's ground-truth lang labels — (true_lang,
    pred_lang, n, pct_of_true). The eval that tells you whether the
    heuristic is shippable per language."""
    docs = _docs(spark, sf_dir)
    pred = text_quality.language_id(docs).select("doc_id", "pred_lang")
    truth = docs.select("doc_id", F.col("lang").alias("true_lang"))
    cm = (
        truth.join(pred, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )
    per_true = cm.groupBy("true_lang").agg(F.sum("n").alias("n_true"))
    return (
        cm.join(F.broadcast(per_true), "true_lang")
        .select(
            "true_lang",
            "pred_lang",
            "n",
            F.round(F.col("n") / F.col("n_true"), 6).alias("pct_of_true"),
        )
    )


# confusion of the heuristic against ground truth: CTE-reuses the
# language_id oracle verbatim
ORACLE["language_id_accuracy"] = f"""
WITH l AS (
{ORACLE["language_id"]}
), cm AS (
  SELECT d.lang AS true_lang, l.pred_lang, count(*) AS n
  FROM documents d JOIN l USING (doc_id)
  GROUP BY 1, 2
), pt AS (SELECT true_lang, sum(n) AS n_true FROM cm GROUP BY 1)
SELECT cm.true_lang, cm.pred_lang, CAST(cm.n AS BIGINT) AS n,
       round(CAST(cm.n AS DOUBLE) / pt.n_true, 6) AS pct_of_true
FROM cm JOIN pt USING (true_lang)
"""


def q_vocab_overlap_matrix(spark, sf_dir):
    """Vocabulary Jaccard between every source pair — how lexically
    distinct the corpus components are (the mix-design readout the
    doc-level overlap matrix can't give): (source_a, source_b,
    vocab_a, vocab_b, shared, jaccard), a < b. Distinct (source,
    term) collapses BEFORE the term self-join."""
    v = (
        _docs(spark, sf_dir)
        .select("source", F.explode(text.tokens_array("text")).alias("term"))
        .distinct()
    )
    sizes = v.groupBy("source").agg(F.count("*").alias("vocab"))
    shared = (
        v.alias("a")
        .join(v.alias("b"), "term")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared.join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_a"), F.col("vocab").alias("vocab_a")
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_b"), F.col("vocab").alias("vocab_b")
                )
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "vocab_a",
            "vocab_b",
            "shared",
            F.round(
                F.col("shared")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("shared")),
                6,
            ).alias("jaccard"),
        )
    )


ORACLE["vocab_overlap_matrix"] = f"""
WITH v AS (
  SELECT DISTINCT source, t AS term
  FROM (SELECT source, unnest({_TOK}) AS t FROM documents)
), sz AS (SELECT source, count(*) AS vocab FROM v GROUP BY 1),
sh AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared
  FROM v a JOIN v b ON a.term = b.term AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, sa.vocab AS vocab_a, sb.vocab AS vocab_b, shared,
       round(CAST(shared AS DOUBLE)
             / (sa.vocab + sb.vocab - shared), 6) AS jaccard
FROM sh
JOIN sz sa ON sa.source = source_a
JOIN sz sb ON sb.source = source_b
"""


def q_quality_length_correlation(spark, sf_dir):
    """Does length predict quality? Pearson r between n_chars and the
    composite quality score — one sufficient-statistics aggregate."""
    docs = _docs(spark, sf_dir)
    scored = docs.select(
        F.col("n_chars").cast("double").alias("len"),
        F.round(text_quality.quality_expr("text"), 6).alias("q"),
    )
    return scored.agg(
        F.count("*").alias("n_docs"),
        F.round(F.corr("len", "q"), 6).alias("pearson_r"),
    )


# correlates raw length with the SAME quality formula the quality
# oracle computes — CTE-reused verbatim
ORACLE["quality_length_correlation"] = f"""
WITH q AS (
{ORACLE["quality_score"]}
)
SELECT count(*) AS n_docs,
       round(corr(CAST(d.n_chars AS DOUBLE), q.quality), 6) AS pearson_r
FROM documents d JOIN q USING (doc_id)
"""


def q_bigram_logprob(spark, sf_dir):
    """Interpolated bigram-LM scoring (λ=0.75 Jelinek–Mercer): the
    transition-aware perplexity proxy."""
    return text_quality.bigram_logprob(_docs(spark, sf_dir))


ORACLE["bigram_logprob"] = f"""
WITH tf AS (
  SELECT doc_id, p.w1 AS w1, p.w2 AS w2, count(*) AS tf
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(ts)),
                  i -> {{'w1': ts[i], 'w2': ts[i + 1]}})) AS p
    FROM (SELECT doc_id, {_TOK} AS ts FROM documents))
  GROUP BY doc_id, p.w1, p.w2
), bcnt AS (SELECT w1, w2, sum(tf) AS bcnt FROM tf GROUP BY w1, w2),
ucnt AS (
  SELECT t AS w, count(*) AS ucnt
  FROM (SELECT unnest({_TOK}) AS t FROM documents) GROUP BY t
), tot AS (SELECT sum(ucnt) AS n_total FROM ucnt)
SELECT doc_id, CAST(sum(tf) AS INTEGER) AS n_bigrams,
       round(sum(tf * ln(0.75 * (bcnt / CAST(c1.ucnt AS DOUBLE))
                         + 0.25 * (c2.ucnt / CAST(n_total AS DOUBLE))))
             / sum(tf), 6) AS avg_logprob
FROM tf
JOIN bcnt USING (w1, w2)
JOIN ucnt c1 ON tf.w1 = c1.w
JOIN ucnt c2 ON tf.w2 = c2.w, tot
GROUP BY doc_id
"""


def q_gopher_quality_gate(spark, sf_dir):
    """Gopher-rule document gate (Rae'21 A1.1 defaults): per-doc rule
    metrics + per-rule flags + the conjunction — the rule-filter
    stage every C4/FineWeb-style curation pipeline starts with."""
    return text_quality.gopher_quality_gate(_docs(spark, sf_dir))


# gopher_quality_gate: every metric re-derived from the shared _TOK
# tokenization; rules compare the ROUNDED metrics, matching Spark.
ORACLE["gopher_quality_gate"] = f"""
WITH t AS (SELECT doc_id, {_TOK} AS ts FROM documents),
m AS (
  SELECT doc_id,
         CAST(len(ts) AS INTEGER) AS n_words,
         round(CASE WHEN len(ts) > 0 THEN
             CAST(list_aggregate(list_transform(ts, w -> len(w)), 'sum')
                  AS BIGINT) / len(ts)
             ELSE 0.0 END, 6) AS mean_word_len,
         CAST(len(list_filter(ts, w -> w IN ({_STOP_IN}))) AS INTEGER)
             AS stop_hits,
         round(CASE WHEN len(ts) > 0 THEN
             (len(ts) - len(list_distinct(ts))) / len(ts)
             ELSE 0.0 END, 6) AS dup_word_frac
  FROM t)
SELECT doc_id, n_words, mean_word_len, stop_hits, dup_word_frac,
       (n_words >= 50 AND n_words <= 100000) AS len_ok,
       (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS word_len_ok,
       (stop_hits >= 2) AS stop_ok,
       (dup_word_frac <= 0.6) AS dup_ok,
       ((n_words >= 50 AND n_words <= 100000)
        AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
        AND (stop_hits >= 2)
        AND (dup_word_frac <= 0.6)) AS passes
FROM m
"""


def q_heaps_law_fit(spark, sf_dir):
    """Heaps'-law vocabulary-growth curve + log-log fit over the
    documents corpus in doc_id order — the dual diagnostic of
    zipf_fit (dup-heavy corpora bend early; OCR-garbage corpora
    stay near-linear)."""
    return text_quality.heaps_law_fit(_docs(spark, sf_dir), n_buckets=10)


# heaps_law_fit: id-range buckets (integer div — no global window on
# data-sized input), first occurrence = min(doc_id) per type,
# cumulative sums + regr fit on the 10-row scaffold.
ORACLE["heaps_law_fit"] = f"""
WITH t AS (SELECT doc_id, {_TOK} AS ts FROM documents),
mx AS (SELECT max(doc_id) AS m FROM documents),
d AS (SELECT least(9, (doc_id * 10) // (m + 1)) AS bucket,
             len(ts) AS n_tok
      FROM t, mx),
tk AS (SELECT bucket, SUM(n_tok) AS n_tok FROM d GROUP BY bucket),
fo AS (SELECT min(doc_id) AS first_id
       FROM (SELECT doc_id, unnest(ts) AS token FROM t)
       GROUP BY token),
nv AS (SELECT least(9, (first_id * 10) // (m + 1)) AS bucket,
              count(*) AS new_types
       FROM fo, mx GROUP BY 1),
sc AS (SELECT r AS bucket FROM range(0, 10) t(r)),
c AS (SELECT sc.bucket,
        CAST(SUM(COALESCE(tk.n_tok, 0)) OVER (ORDER BY sc.bucket)
             AS BIGINT) AS cum_tokens,
        CAST(SUM(COALESCE(nv.new_types, 0)) OVER (ORDER BY sc.bucket)
             AS BIGINT) AS cum_vocab
      FROM sc LEFT JOIN tk ON tk.bucket = sc.bucket
              LEFT JOIN nv ON nv.bucket = sc.bucket),
fit AS (SELECT round(regr_slope(ln(cum_vocab), ln(cum_tokens)), 6)
          AS heaps_beta,
        round(regr_intercept(ln(cum_vocab), ln(cum_tokens)), 6)
          AS heaps_logk
        FROM c WHERE cum_tokens > 0 AND cum_vocab > 0)
SELECT CAST(c.bucket AS INTEGER) AS bucket, cum_tokens, cum_vocab,
       heaps_beta, heaps_logk
FROM c, fit
"""
