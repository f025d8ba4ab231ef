"""Embedding similarity: brute-force, LSH, IVF and PQ top-k, near
duplicates, recall reports and PCA."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql.window import Window

from ..operators import similarity
from ._shared import _emb, _stage_once

ORACLE: dict[str, str] = {}


def q_label_centroids(spark, sf_dir):
    return similarity.label_centroids(_emb(spark, sf_dir))


ORACLE["label_centroids"] = """
WITH e AS (
  SELECT label, unnest(generate_series(1, len(embedding))) AS dim,
         unnest(embedding) AS x
  FROM embeddings
)
SELECT label, CAST(dim AS INTEGER) AS dim,
       -- summands on the fixed 2^-20 grid as exact BIGINTs (mirrors
       -- the Spark operator): order-independent integer sums, so the
       -- hash cannot flip on a 1e-6 rounding boundary
       round(CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))
                  AS DOUBLE) / 1048576.0 / count(*), 6) AS centroid
FROM e GROUP BY 1, 2
"""


def q_hard_negatives(spark, sf_dir):
    """Contrastive triplet mining — positives and hard negatives for
    the 10 lowest-id anchors in one scored pass."""
    return similarity.hard_negatives(_emb(spark, sf_dir), n_anchors=10)


ORACLE["hard_negatives"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
anchors AS (
  SELECT vec_id AS anchor_id, v AS qv, label AS a_label
  FROM e ORDER BY vec_id LIMIT 10
),
scored AS (
  SELECT a.anchor_id, a.a_label, e.vec_id, e.label,
         round(list_dot_product(a.qv, e.v)
               / (sqrt(list_dot_product(a.qv, a.qv))
                  * sqrt(list_dot_product(e.v, e.v))), 6) AS sim
  FROM anchors a, e WHERE e.vec_id != a.anchor_id
),
pos AS (
  SELECT anchor_id, vec_id AS pos_id, sim AS pos_sim
  FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
                                     ORDER BY sim DESC, vec_id ASC) AS rn
        FROM scored WHERE label = a_label)
  WHERE rn = 1
),
neg AS (
  SELECT anchor_id, vec_id AS neg_id, sim AS neg_sim
  FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
                                     ORDER BY sim DESC, vec_id ASC) AS rn
        FROM scored WHERE label != a_label)
  WHERE rn = 1
)
SELECT p.anchor_id, p.pos_id, p.pos_sim, n.neg_id, n.neg_sim
FROM pos p JOIN neg n ON n.anchor_id = p.anchor_id
"""


def q_random_projection(spark, sf_dir):
    """64-dim embeddings reduced to 8 via the deterministic Achlioptas
    sparse sign matrix, emitted as (vec_id, dim, value) scalar rows;
    the oracle replays the identical LCG-derived matrix in SQL."""
    return similarity.random_projection(_emb(spark, sf_dir), in_dim=64, out_dim=8)


# The projection matrix entry for (i, j) is derived from the same LCG
# in both engines: high bits of (a*(i*8+j)+c) mod 2^31, folded mod 6
# into {{+1, -1, 0, 0, 0, 0}}; scaled by sqrt(3/8). list_sum folds the
# 64 products in list order, matching Spark's sequential aggregate
# fold; round(...,6) absorbs the ulps.
ORACLE["random_projection"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT vec_id, CAST(j AS INTEGER) AS dim,
       round(list_sum(list_transform(range(0, 64), i ->
               v[i + 1] * (CASE ((((1103515245 * (i * 8 + j) + 12345) % 2147483648) >> 16) % 6)
                           WHEN 0 THEN 1.0 WHEN 1 THEN -1.0 ELSE 0.0 END)))
             * sqrt(3.0 / 8), 6) AS value
FROM e, range(0, 8) t(j)
"""

_COS = (
    "round(list_dot_product(qv, v) / "
    "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6)"
)


def q_brute_force_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    return similarity.brute_force_topk(emb, queries, k=10)


ORACLE["brute_force_topk"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
scored AS (
  SELECT query_id, e.vec_id AS neighbor_id, {_COS} AS sim
  FROM q, e WHERE e.vec_id != q.query_id)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id ASC) AS INTEGER) AS rank,
       sim
FROM scored
QUALIFY rank <= 10
"""

_CCOS = (
    "round(list_dot_product(c, v) / "
    "(sqrt(list_dot_product(c, c)) * sqrt(list_dot_product(v, v))), 6)"
)


def q_ivf_assign(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    centroids = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("c")
    )
    return similarity.ivf_assign(emb, centroids).select("vec_id", "cell")


ORACLE["ivf_assign"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cen AS (SELECT vec_id AS cell_id, v AS c FROM e WHERE vec_id < 8),
scored AS (
  SELECT e.vec_id, cen.cell_id, {_CCOS} AS csim FROM e, cen)
SELECT vec_id, cell_id AS cell FROM (
  SELECT vec_id, cell_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY csim DESC, cell_id ASC) AS rn
  FROM scored)
WHERE rn = 1
"""


def q_quantize_embeddings(spark, sf_dir):
    """Int8 scalar quantization, flattened to (vec_id, pos, code) for
    the order-insensitive oracle compare."""
    q = similarity.quantize_embeddings(_emb(spark, sf_dir))
    # posexplode_outer: codes is always dim elements; inner posexplode
    # would re-evaluate the quantization in an inferred pushed filter
    # (see operators/text.py note on InferFiltersFromGenerate).
    return q.select("vec_id", F.posexplode_outer("codes").alias("pos", "code"))


# floor(x + 0.5) rather than round() on both engines — their round()
# tie-break conventions differ; floor agrees bit-for-bit.
ORACLE["quantize_embeddings"] = """
WITH flat AS (
  SELECT vec_id, CAST(g.i AS INTEGER) AS pos,
         CAST(embedding[CAST(g.i AS INTEGER) + 1] AS DOUBLE) AS v
  FROM embeddings, generate_series(0, 63) g(i)
),
dims AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM flat GROUP BY pos)
SELECT f.vec_id, f.pos,
       CASE WHEN d.mx = d.mn THEN 0
            ELSE CAST(floor((f.v - d.mn) / (d.mx - d.mn) * 255 + 0.5) AS INTEGER) - 128
       END AS code
FROM flat f JOIN dims d USING (pos)
"""


def _scaled_cell_centroids(emb):
    """Seed centroids whose COUNT grows with the corpus — the lowest
    ``max(8, n // 256)`` vec_ids. Within-cell pairwise work is
    quadratic in cell occupancy, so a FIXED cell count turns a 10x
    corpus into a 100x compare bill; targeting ~256 vectors per cell
    keeps it linear. The floor of 8 reproduces the historical seeding
    at every driver oracle scale (n <= 2048 -> 8 cells), so small-SF
    outputs are byte-identical; the oracles compute the same k in SQL."""
    k = max(8, emb.count() // 256)
    return emb.where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("c")
    )


_PCOS = (
    "round(list_dot_product(a.v, b.v) / "
    "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)"
)


def q_embedding_near_dupes(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return similarity.embedding_near_dupes(
        emb, _scaled_cell_centroids(emb), threshold=0.2
    )


ORACLE["embedding_near_dupes"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cen AS (SELECT vec_id AS cell_id, v AS c FROM e
        WHERE vec_id < GREATEST(8, (SELECT COUNT(*) FROM embeddings) // 256)),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, cen.cell_id AS cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_CCOS} DESC, cen.cell_id ASC) AS rn
    FROM e, cen)
  WHERE rn = 1
  -- mirror the operator's max_cell_size=4096 mega-cell exclusion
  QUALIFY count(*) OVER (PARTITION BY cell) <= 4096)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_PCOS} AS sim
FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
WHERE {_PCOS} >= 0.2
"""


def _lsh_topk_oracle_sql() -> str:
    """The sign-LSH pipeline in DuckDB: the md5-derived hyperplanes are
    embedded as a VALUES literal (identical doubles to the Spark side —
    repr() round-trips exactly), then bits → band buckets → candidate
    pairs → exact cosine → top-10, mirroring similarity.lsh_topk with
    n_planes=16, n_bands=4 term-for-term."""
    planes = similarity.lsh_hyperplanes(16, 64)
    vals = ",".join(
        f"({p},{d},{w!r})" for p, row in enumerate(planes) for d, w in enumerate(row)
    )
    return f"""
WITH planes(p, d, w) AS (VALUES {vals}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
bits AS (
  SELECT vec_id, p,
         CASE WHEN round(sum(v[d + 1] * w), 6) >= 0 THEN 1 ELSE 0 END AS bit
  FROM e, planes GROUP BY vec_id, p),
buckets AS (
  SELECT vec_id, CAST(p // 4 AS INTEGER) AS band,
         CAST(sum(bit * CAST(power(2, p % 4) AS INTEGER)) AS INTEGER) AS bucket
  FROM bits GROUP BY vec_id, p // 4),
cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
  FROM buckets cb JOIN buckets qb USING (band, bucket)
  WHERE qb.vec_id < 5 AND cb.vec_id != qb.vec_id),
scored AS (
  SELECT query_id, neighbor_id,
         round(list_dot_product(q.v, n.v) /
               (sqrt(list_dot_product(q.v, q.v))
                * sqrt(list_dot_product(n.v, n.v))), 6) AS sim
  FROM cand JOIN e q ON q.vec_id = cand.query_id
            JOIN e n ON n.vec_id = cand.neighbor_id)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id ASC) AS INTEGER) AS rank,
       sim
FROM scored
QUALIFY rank <= 10
"""


def q_lsh_topk(spark, sf_dir):
    """Sign-LSH bucketed ANN — same query/corpus split as
    brute_force_topk so the two scale paths are directly comparable.
    The oracle reproduces the md5-derived hyperplanes as literals."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    return similarity.lsh_topk(emb, queries, k=10)


ORACLE["lsh_topk"] = _lsh_topk_oracle_sql()


def q_label_spread(spark, sf_dir):
    """Per-label embedding-norm mean/variance — encoder health."""
    return similarity.label_spread(_emb(spark, sf_dir))


ORACLE["label_spread"] = """
WITH per AS (
  SELECT label,
         round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))), 6) AS nrm
  FROM embeddings
)
SELECT label, count(*) AS n,
       round(sum(nrm) / count(*), 6) AS mean_norm,
       round(sum(nrm * nrm) / count(*)
             - (sum(nrm) / count(*)) * (sum(nrm) / count(*)), 6) AS var_norm
FROM per GROUP BY label
"""


# trained-IVF oracle: the deterministic trainer, reproduced in SQL
# ivf_train is deterministic by construction (hash-sampled farthest-
# first init + Lloyd's with fixed tiebreaks), so the whole
# train→assign→probe pipeline unrolls into CTEs: 7 seed-selection
# steps (k=8), n_iter=2 assignment/mean pairs, then the nprobe=2
# probe + two-phase-equivalent top-k. The 9-dp (init) and 6-dp
# (assign/score) roundings that make Spark's own runs reproducible are
# what make this cross-engine comparison stable too. Assumes the
# testdata's fixed dim=64 (generate_series cannot take a column arg in
# this DuckDB) and that the corpus fits the trainer's
# init_sample_size=4096, i.e. the hash-sample is the full table — true
# at the driver's correctness scales (50 / 500 / 5000 vectors).
def _ivf_topk_trained_oracle_sql(
    k: int = 8, n_iter: int = 2, dim: int = 64,
    topk: int = 10, nprobe: int = 2,
) -> str:
    cos = (
        "round(list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), {p})"
    )
    parts = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "seeds0 AS (SELECT 0 AS cell_id, v AS c FROM e ORDER BY vec_id LIMIT 1)",
    ]
    for j in range(1, k):
        ncos = cos.format(a="s.c", b="e.v", p=9)
        parts.append(f"""
near{j} AS (
  SELECT e.vec_id, max({ncos}) AS near
  FROM e, seeds{j - 1} s GROUP BY e.vec_id
),
pick{j} AS (
  SELECT e.v FROM near{j} n JOIN e ON e.vec_id = n.vec_id
  ORDER BY n.near ASC, n.vec_id ASC LIMIT 1
),
seeds{j} AS (
  SELECT * FROM seeds{j - 1}
  UNION ALL SELECT {j} AS cell_id, v AS c FROM pick{j}
)""")
    cen = f"seeds{k - 1}"
    acos = cos.format(a="c.c", b="e.v", p=6)
    for t in range(n_iter):
        parts.append(f"""
asg{t} AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell_id AS cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {acos} DESC, c.cell_id ASC) AS rn
    FROM e, {cen} c) WHERE rn = 1
),
cen{t + 1} AS (
  SELECT cell AS cell_id, list(m ORDER BY pos) AS c
  FROM (
    SELECT cell, g.i AS pos, avg(v[g.i]) AS m
    FROM asg{t}, generate_series(1, {dim}) g(i)
    GROUP BY cell, g.i)
  GROUP BY cell
)""")
        cen = f"cen{t + 1}"
    qccos = cos.format(a="c.c", b="qv.q", p=6)
    scos = cos.format(a="qc.q", b="a.v", p=6)
    parts.append(f"""
asgF AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell_id AS cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {acos} DESC, c.cell_id ASC) AS rn
    FROM e, {cen} c) WHERE rn = 1
),
qv AS (SELECT vec_id AS query_id, v AS q FROM e WHERE vec_id < 5),
qcells AS (
  SELECT query_id, q, qcell FROM (
    SELECT qv.query_id, qv.q, c.cell_id AS qcell,
           row_number() OVER (PARTITION BY qv.query_id
                              ORDER BY {qccos} DESC, c.cell_id ASC) AS rn
    FROM qv, {cen} c) WHERE rn <= {nprobe}
),
scored AS (
  SELECT qc.query_id, a.vec_id AS neighbor_id, {scos} AS sim
  FROM asgF a JOIN qcells qc
    ON a.cell = qc.qcell AND a.vec_id != qc.query_id
)""")
    body = ",".join(parts)
    return f"""
WITH {body}
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id ASC) AS INTEGER)
         AS rank,
       sim
FROM scored
QUALIFY rank <= {topk}
"""


def q_ivf_topk_trained(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    centroids = similarity.ivf_train(emb, k=8, n_iter=2)
    queries = emb.where(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"))
    return similarity.ivf_topk(emb, centroids, queries, k=10, nprobe=2)


ORACLE["ivf_topk_trained"] = _ivf_topk_trained_oracle_sql()


def q_ivf_silhouette(spark, sf_dir):
    """Cluster-quality diagnostics for the fixed-centroid IVF
    assignment (same vec_id < 8 centroids as ivf_assign, so the
    oracle replays assignment without the trainer): per-cell
    simplified silhouette — the partition-health report that says
    whether an ANN index's cells are real structure or arbitrary."""
    emb = _emb(spark, sf_dir)
    centroids = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("c")
    )
    return similarity.ivf_silhouette(emb, centroids)


# ivf_silhouette: replays the ivf_assign cosine ranking, takes own
# (rn=1) and nearest-other (rn=2) centroid distances, quantizes the
# per-vector silhouette to floor(s * 2^20) BIGINT (order-independent
# mean), and normalizes the sign of zero at the final round (+ 0.0 —
# silhouettes are sign-indefinite, the exposed -0.0 class).
ORACLE["ivf_silhouette"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cen AS (SELECT vec_id AS cell_id, v AS c FROM e WHERE vec_id < 8),
scored AS (
  SELECT e.vec_id, cen.cell_id, {_CCOS} AS csim FROM e, cen),
ranked AS (
  SELECT vec_id, cell_id, csim,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY csim DESC, cell_id ASC) AS rn
  FROM scored),
per_vec AS (
  SELECT o.vec_id, o.cell_id AS cell,
         CAST(floor((CASE
             WHEN greatest(1.0 - o.csim, 1.0 - s.csim) = 0 THEN 0.0
             ELSE ((1.0 - s.csim) - (1.0 - o.csim))
                  / greatest(1.0 - o.csim, 1.0 - s.csim)
           END) * 1048576.0) AS BIGINT) AS sq
  FROM (SELECT * FROM ranked WHERE rn = 1) o
  JOIN (SELECT * FROM ranked WHERE rn = 2) s ON s.vec_id = o.vec_id)
SELECT CAST(cell AS INTEGER) AS cell, count(*) AS n_vecs,
       round(CAST(sum(sq) AS BIGINT) / 1048576.0 / count(*), 6) + 0.0
         AS mean_silhouette
FROM per_vec GROUP BY cell
"""


def _pq_cte(m: int = 8, k: int = 8, n_iter: int = 2, dim: int = 64) -> str:
    """Shared CTE chain replaying pq_train + pq_codes in DuckDB SQL:
    subvector explode, first-k-ids codebook init, n_iter rounds of
    (rounded-L2 argmin assign, element-wise mean update), final
    ``codes`` table. Distances decompose into list_dot_product terms
    (the cosine-oracle fold, bit-identical to the Spark F.aggregate)."""
    sd = dim // m
    subspace_vals = ", ".join(f"({j})" for j in range(m))

    def d2(c: str, sv: str) -> str:
        return (
            f"round(list_dot_product({c}, {c}) - 2 * list_dot_product({c}, {sv})"
            f" + list_dot_product({sv}, {sv}), 6)"
        )

    parts = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"""sub AS (
  SELECT vec_id, CAST(j.j AS INTEGER) AS subspace,
         v[(j.j * {sd} + 1):((j.j + 1) * {sd})] AS sv
  FROM e, (VALUES {subspace_vals}) j(j))""",
        f"""init AS (
  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code
  FROM (SELECT vec_id FROM e ORDER BY vec_id LIMIT {k}))""",
        """cb0 AS (
  SELECT s.subspace, i.code, s.sv AS c
  FROM sub s JOIN init i ON i.vec_id = s.vec_id)""",
    ]
    cb = "cb0"
    for t in range(n_iter):
        parts.append(f"""asg{t} AS (
  SELECT vec_id, subspace, sv, code FROM (
    SELECT s.vec_id, s.subspace, s.sv, c.code,
           row_number() OVER (PARTITION BY s.vec_id, s.subspace
                              ORDER BY {d2("c.c", "s.sv")} ASC, c.code ASC) AS rn
    FROM sub s JOIN {cb} c ON c.subspace = s.subspace) WHERE rn = 1)""")
        parts.append(f"""cb{t + 1} AS (
  SELECT subspace, code, list(m ORDER BY pos) AS c
  FROM (
    SELECT subspace, code, g.i AS pos, avg(sv[g.i]) AS m
    FROM asg{t}, generate_series(1, {sd}) g(i)
    GROUP BY subspace, code, g.i)
  GROUP BY subspace, code)""")
        cb = f"cb{t + 1}"
    parts.append(f"""codes AS (
  SELECT vec_id, subspace, code FROM (
    SELECT s.vec_id, s.subspace, c.code,
           row_number() OVER (PARTITION BY s.vec_id, s.subspace
                              ORDER BY {d2("c.c", "s.sv")} ASC, c.code ASC) AS rn
    FROM sub s JOIN {cb} c ON c.subspace = s.subspace) WHERE rn = 1)""")
    return ",\n".join(parts)


def q_pq_codes(spark, sf_dir):
    """PQ-compressed index: m=8 subspace k-means codebooks (k=8,
    2 Lloyd's rounds, first-k-ids init) trained in-plan, then every
    vector encoded by a zero-shuffle literal-fold argmin — the
    (vec_id, subspace, code) table IS the 64×-smaller index
    (8 one-byte codes vs 64 doubles). The
    oracle replays the whole trainer (init, both rounds, final
    assignment) in SQL CTEs, the ivf_topk_trained discipline."""
    emb = _emb(spark, sf_dir)
    codebooks = similarity.pq_train(emb, m=8, k=8, n_iter=2)
    return similarity.pq_codes(emb, codebooks)


ORACLE["pq_codes"] = f"""
WITH {_pq_cte()}
SELECT vec_id, subspace, code FROM codes
"""


def q_pq_adc_topk(spark, sf_dir):
    """Asymmetric-distance top-10 for the 5 eval queries over the PQ
    index — query-time reads codes only (never the vectors), per-pair
    distance = sum of m fixed-point LUT lookups (order-independent
    LONG summands), ranking by the exact integer sum."""
    emb = _emb(spark, sf_dir)
    codebooks = similarity.pq_train(emb, m=8, k=8, n_iter=2)
    return similarity.pq_adc_topk(emb, codebooks, n_queries=5, topk=10)


# ADC: LUT entries fixed-point quantized to floor(d2 * 2^20) BIGINT —
# identical input bits in both engines (list_dot_product == the Spark
# fold), so floor matches exactly and the per-pair sum over subspaces
# is an order-independent LONG sum. greatest(s, 0) clamps the few
# quantized self-distance sums that land at -1 ulp below zero.
ORACLE["pq_adc_topk"] = f"""
WITH {_pq_cte()},
qsub AS (
  SELECT vec_id AS query_id, subspace, sv AS qv,
         list_dot_product(sv, sv) AS qn2
  FROM sub WHERE vec_id < 5),
lut AS (
  SELECT q.query_id, c.subspace, c.code,
         CAST(floor((list_dot_product(c.c, c.c)
                     - 2 * list_dot_product(c.c, q.qv)
                     + q.qn2) * 1048576.0) AS BIGINT) AS dq
  FROM qsub q JOIN cb2 c ON c.subspace = q.subspace),
scored AS (
  SELECT l.query_id, cd.vec_id AS neighbor_id,
         CAST(sum(l.dq) AS BIGINT) AS s
  FROM codes cd JOIN lut l ON l.subspace = cd.subspace AND l.code = cd.code
  WHERE cd.vec_id != l.query_id
  GROUP BY 1, 2)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY s ASC, neighbor_id ASC) AS INTEGER)
         AS rank,
       round(CAST(greatest(s, 0) AS DOUBLE) / 1048576.0, 6) AS adc_dist
FROM scored
QUALIFY rank <= 10
"""


def _ivf_centroids(spark, sf_dir):
    """Fixed (untrained) centroids shared by the index write and the
    probe — vec_id < 8, same as q_ivf_assign, so the oracle can replay
    the assignment without reproducing the trainer."""
    return _emb(spark, sf_dir).where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("c")
    )


def _staged_ivf_index_dir(spark, sf_dir: str) -> str:
    """Materialize the cell-partitioned IVF index, the probe's input."""
    return _stage_once(
        "ivf-index",
        sf_dir,
        lambda d: similarity.write_ivf_index(
            _emb(spark, sf_dir), _ivf_centroids(spark, sf_dir), d
        ),
    )


# Replays the WHOLE at-rest probe path: nearest-cell assignment (the
# index write), the per-query nprobe=2 probed cells, then exact cosine
# top-10 within probed cells — so a pruning bug that dropped a cell
# directory would hash-mismatch, not just slow down.
_QCOS = (
    "round(list_dot_product(c, qv) / "
    "(sqrt(list_dot_product(c, c)) * sqrt(list_dot_product(qv, qv))), 6)"
)

_PQCOS = (
    "round(list_dot_product(p.qv, a.v) / "
    "(sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v))), 6)"
)


def q_ivf_index_probe(spark, sf_dir):
    """ANN probe against the MATERIALIZED cell-partitioned index
    (similarity.write_ivf_index → probe_ivf_index): the at-rest scale
    path where a probe opens only its nprobe cell directories
    (partition pruning plan-asserted in tests/test_plan_shapes.py).
    Same (queries, k, nprobe) shape as ivf_topk_trained so results are
    directly comparable across the in-flight and at-rest paths."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    return similarity.probe_ivf_index(
        spark,
        _staged_ivf_index_dir(spark, sf_dir),
        queries,
        _ivf_centroids(spark, sf_dir),
        k=10,
        nprobe=2,
    )


ORACLE["ivf_index_probe"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cen AS (SELECT vec_id AS cell_id, v AS c FROM e WHERE vec_id < 8),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, cen.cell_id AS cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_CCOS} DESC, cen.cell_id ASC) AS rn
    FROM e, cen)
  WHERE rn = 1),
qt AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
probes AS (
  SELECT query_id, qv, cell_id AS qcell FROM (
    SELECT qt.query_id, qt.qv, cen.cell_id,
           row_number() OVER (PARTITION BY qt.query_id
                              ORDER BY {_QCOS} DESC, cen.cell_id ASC) AS rn
    FROM qt, cen)
  WHERE rn <= 2),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, {_PQCOS} AS sim
  FROM probes p
  JOIN assigned a ON a.cell = p.qcell AND a.vec_id != p.query_id)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id ASC) AS INTEGER) AS rank,
       sim
FROM scored
QUALIFY rank <= 10
"""


def q_centroid_confusion(spark, sf_dir):
    return similarity.centroid_confusion(_emb(spark, sf_dir))


ORACLE["centroid_confusion"] = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
x AS (
  SELECT label, unnest(generate_series(1, len(v))) AS dim, unnest(v) AS xx
  FROM e
),
cm AS (SELECT label AS cell_id, dim,
              round(CAST(sum(CAST(floor(xx * 1048576.0) AS BIGINT)) AS DOUBLE)
                    / 1048576.0 / count(*), 6) AS cv
       FROM x GROUP BY 1, 2),
cen AS (SELECT cell_id, list(cv ORDER BY dim) AS c FROM cm GROUP BY cell_id),
scored AS (SELECT e.vec_id, e.label, cen.cell_id, {_CCOS} AS csim FROM e, cen),
best AS (
  SELECT vec_id, label, cell_id FROM (
    SELECT vec_id, label, cell_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cell_id ASC) AS rn
    FROM scored)
  WHERE rn = 1
)
SELECT CAST(label AS INTEGER) AS label,
       CAST(cell_id AS INTEGER) AS predicted,
       count(*) AS n
FROM best GROUP BY 1, 2
"""


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style per-cell semantic dedup summary over the
    embeddings table (corpus-scaled seed centroids — see
    _scaled_cell_centroids — cosine ≥ 0.9 within a cell,
    keep-lowest-id)."""
    emb = _emb(spark, sf_dir)
    return similarity.semantic_dedup(
        emb, _scaled_cell_centroids(emb), threshold=0.9
    )


ORACLE["semantic_dedup"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cen AS (SELECT vec_id AS cell_id, v AS c FROM e
        WHERE vec_id < GREATEST(8, (SELECT COUNT(*) FROM embeddings) // 256)),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, cen.cell_id AS cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_CCOS} DESC, cen.cell_id ASC) AS rn
    FROM e, cen)
  WHERE rn = 1),
capped AS (
  SELECT * FROM assigned
  QUALIFY count(*) OVER (PARTITION BY cell) <= 4096),
dupes AS (
  SELECT DISTINCT b.cell, b.vec_id
  FROM capped a JOIN capped b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(b.v, b.v))), 6)
        >= CAST(0.9 AS DOUBLE)),
pc AS (SELECT cell, count(*) AS n_vecs FROM capped GROUP BY cell),
dr AS (SELECT cell, count(*) AS n_dropped FROM dupes GROUP BY cell)
SELECT CAST(pc.cell AS INTEGER) AS cell, pc.n_vecs,
       CAST(COALESCE(dr.n_dropped, 0) AS BIGINT) AS n_dropped,
       CAST(pc.n_vecs - COALESCE(dr.n_dropped, 0) AS BIGINT) AS n_kept
FROM pc LEFT JOIN dr ON pc.cell = dr.cell
"""

_KCOS = (
    "round(list_dot_product(q.qv, e.v) / "
    "(sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6)"
)


def q_knn_label_accuracy(spark, sf_dir):
    """1-NN leave-one-out label accuracy over the first 50 embedding
    probes — the standard embedding-quality eval."""
    return similarity.knn_label_accuracy(_emb(spark, sf_dir), n_queries=50)


ORACLE["knn_label_accuracy"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv, label AS true_label
      FROM e WHERE vec_id < 50),
scored AS (
  SELECT q.query_id, q.true_label, e.vec_id AS neighbor_id,
         e.label AS pred_label, {_KCOS} AS sim
  FROM q JOIN e ON e.vec_id <> q.query_id),
top1 AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, neighbor_id ASC) AS rn
    FROM scored)
  WHERE rn = 1)
SELECT true_label AS label, count(*) AS n_queries,
       CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       round(CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS accuracy
FROM top1 GROUP BY 1
"""


def q_quantization_error(spark, sf_dir):
    """Cosine fidelity of int8 scalar quantization per label — the
    accept/reject gate before switching ANN storage to int8."""
    return similarity.quantization_error(_emb(spark, sf_dir))


ORACLE["quantization_error"] = """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
flat AS (
  SELECT vec_id, CAST(g.i AS INTEGER) AS pos,
         v[CAST(g.i AS INTEGER) + 1] AS x
  FROM e, generate_series(0, 63) g(i)
),
dims AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM flat GROUP BY pos),
b AS (SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs FROM dims),
dq AS (
  SELECT e.label,
         e.v,
         list_transform(range(1, 65), i ->
           CASE WHEN b.mxs[i] = b.mns[i] THEN b.mns[i]
                ELSE b.mns[i]
                     + floor((e.v[i] - b.mns[i]) / (b.mxs[i] - b.mns[i]) * 255
                             + 0.5)
                       / CAST(255 AS DOUBLE) * (b.mxs[i] - b.mns[i]) END) AS d
  FROM e, b
),
cosr AS (
  SELECT label,
         round(list_dot_product(v, d)
               / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(d, d))),
               6) AS cos
  FROM dq
)
SELECT label, count(*) AS n_vecs,
       round(avg(cos), 6) AS mean_cos, min(cos) AS min_cos
FROM cosr GROUP BY label
"""


def q_index_shard_balance(spark, sf_dir):
    """Operational skew report for the IVF index layout: per-cell
    population from the seed-centroid assignment reduced to
    (n_cells, max_cell, min_cell, balance_ratio) — the
    is-one-shard-hot check before an index ships."""
    emb = _emb(spark, sf_dir)
    centroids = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("c")
    )
    cells = (
        similarity.ivf_assign(emb, centroids)
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
    )
    return cells.agg(
        F.count("*").alias("n_cells"),
        F.max("n").alias("max_cell"),
        F.min("n").alias("min_cell"),
        F.round(
            F.max("n") / (F.sum("n") / F.count("*")), 6
        ).alias("balance_ratio"),
    )


ORACLE["index_shard_balance"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cen AS (SELECT vec_id AS cell_id, v AS c FROM e WHERE vec_id < 8),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, cen.cell_id AS cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_CCOS} DESC, cen.cell_id ASC) AS rn
    FROM e, cen)
  WHERE rn = 1),
cells AS (SELECT cell, count(*) AS n FROM assigned GROUP BY cell)
SELECT count(*) AS n_cells,
       CAST(max(n) AS BIGINT) AS max_cell,
       CAST(min(n) AS BIGINT) AS min_cell,
       round(max(n) / (CAST(sum(n) AS DOUBLE) / count(*)), 6) AS balance_ratio
FROM cells
"""


def q_nn_similarity_histogram(spark, sf_dir):
    """Distribution of nearest-neighbor cosines for the 50-probe eval
    set, bucketed at 0.05 — the embedding-collapse early-warning
    (a mass spike near 1.0 means near-duplicate embeddings)."""
    emb = _emb(spark, sf_dir)
    probes = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    top1 = similarity.brute_force_topk(emb, probes, k=1)
    return (
        top1.select(F.floor(F.col("sim") / 0.05).cast("int").alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("n"))
        .select(
            F.round(F.col("bin") * 0.05, 2).alias("sim_bin_lo"),
            "n",
        )
    )


ORACLE["nn_similarity_histogram"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 50),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, {_KCOS} AS sim
  FROM q JOIN e ON e.vec_id <> q.query_id),
top1 AS (
  SELECT sim FROM (
    SELECT sim, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id ASC) AS rn
    FROM scored)
  WHERE rn = 1)
SELECT round(floor(sim / CAST(0.05 AS DOUBLE)) * CAST(0.05 AS DOUBLE), 2)
         AS sim_bin_lo,
       count(*) AS n
FROM top1 GROUP BY 1
"""


def q_embedding_covariance(spark, sf_dir):
    """Full 64×64 covariance matrix of the embedding distribution —
    one partial-aggregated exchange on the flattened outer product."""
    return similarity.embedding_covariance(_emb(spark, sf_dir))


ORACLE["embedding_covariance"] = """
WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
fl AS (
  SELECT v, flatten(list_transform(v, x -> list_transform(v, y -> x * y))) AS f
  FROM e
), flat AS (
  -- summands quantized to the 2^-20 grid as exact BIGINTs, mirroring
  -- the Spark operator: integer sums are order-independent, so the
  -- hash cannot flip on a 1e-6 rounding boundary (round-9 flake)
  SELECT (p.k - 1) // 64 AS i, (p.k - 1) % 64 AS j,
         CAST(floor(p.xy * 1048576.0) AS BIGINT) AS qxy,
         CAST(floor(v[((p.k - 1) // 64) + 1] * 1048576.0) AS BIGINT) AS qxi
  FROM (
    SELECT v, unnest(list_transform(range(1, len(f) + 1),
                     k -> {'k': k, 'xy': f[k]})) AS p
    FROM fl)
), agg AS (
  SELECT i, j, count(*) AS n,
         CAST(sum(qxy) AS BIGINT) AS sxy,
         CAST(sum(qxi) AS BIGINT) AS sxi
  FROM flat GROUP BY i, j
), m AS (
  SELECT (u.k - 1) AS j,
         CAST(sum(CAST(floor(u.xj * 1048576.0) AS BIGINT)) AS BIGINT) AS sxj
  FROM (
    SELECT unnest(list_transform(range(1, len(v) + 1),
                  k -> {'k': k, 'xj': v[k]})) AS u
    FROM e)
  GROUP BY 1
)
SELECT CAST(a.i AS INTEGER) AS i, CAST(a.j AS INTEGER) AS j,
       -- + 0.0 normalizes the sign of zero: DuckDB's multiply-based
       -- round() emits -0.0 for tiny-negative covariances while
       -- Spark's BigDecimal HALF_UP emits +0.0, and the driver's
       -- value hash covers the sign bit (round-10 driver red).
       -- IEEE round-to-nearest: -0.0 + 0.0 = +0.0.
       round(CAST(a.sxy AS DOUBLE) / 1048576.0 / a.n
             - (CAST(a.sxi AS DOUBLE) / 1048576.0 / a.n)
             * (CAST(m.sxj AS DOUBLE) / 1048576.0 / a.n), 6) + 0.0 AS cov
FROM agg a JOIN m ON a.j = m.j
"""


def q_margin_bitext(spark, sf_dir):
    """Margin-based parallel-pair mining between the label-0 and
    label-1 embedding populations (Artetxe & Schwenk ratio margin over
    the exact top-4 candidates, threshold 1.2) — the bitext-mining
    shape used to build translation training corpora."""
    emb = _emb(spark, sf_dir)
    src = emb.where(F.col("label") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    tgt = emb.where(F.col("label") == 1)
    topk = similarity.brute_force_topk(tgt, src, k=4)
    return similarity.margin_mined_pairs(topk, margin_threshold=1.2)


ORACLE["margin_bitext"] = """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
src AS (SELECT vec_id AS query_id, v AS q FROM e WHERE label = 0),
tgt AS (SELECT vec_id, v FROM e WHERE label = 1),
s AS (
  SELECT src.query_id, tgt.vec_id AS neighbor_id,
         round(list_dot_product(q, tgt.v)
               / (sqrt(list_dot_product(q, q))
                  * sqrt(list_dot_product(tgt.v, tgt.v))), 6) AS sim
  FROM src, tgt),
k AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM s),
top AS (SELECT * FROM k WHERE rank <= 4),
m AS (
  SELECT query_id, neighbor_id, sim, rank,
         round(sim / (sum(sim) OVER (PARTITION BY query_id)
                      / count(*) OVER (PARTITION BY query_id)), 6) AS margin
  FROM top)
SELECT query_id, neighbor_id, sim, margin
FROM m WHERE rank = 1 AND margin >= CAST(1.2 AS DOUBLE)
"""


def q_ivf_recall_report(spark, sf_dir):
    """Recall@10 of the trained-IVF search (nprobe=2) against the
    brute-force ground truth, per query — the ANN evaluation
    harness."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id")
    )
    qv = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    centroids = similarity.ivf_train(emb, k=8, n_iter=2)
    approx = similarity.ivf_topk(emb, centroids, queries, k=10, nprobe=2)
    exact = similarity.brute_force_topk(emb, qv, k=10)
    return similarity.ann_recall(exact, approx)


ORACLE["ivf_recall_report"] = f"""
WITH bf AS (SELECT query_id, neighbor_id FROM ({ORACLE['brute_force_topk']}) _b),
ivf AS (SELECT query_id, neighbor_id FROM ({ORACLE['ivf_topk_trained']}) _i)
SELECT bf.query_id AS query_id,
       round(CAST(count(ivf.neighbor_id) AS DOUBLE) / count(*), 6)
         AS recall_at_k
FROM bf LEFT JOIN ivf
  ON ivf.query_id = bf.query_id AND ivf.neighbor_id = bf.neighbor_id
GROUP BY bf.query_id
"""


def q_pq_recall_report(spark, sf_dir):
    """Recall@10 of PQ asymmetric-distance search against the EXACT
    squared-L2 top-10 (ADC is an L2 method — a cosine ground truth
    would grade it on the wrong metric), per query: the compression-
    loss evaluation every PQ deployment runs before trading floats
    for codes. The exact side is a 5-row broadcast against the
    corpus; the ADC side reads codes only."""
    from ..operators.similarity import _dot

    emb = _emb(spark, sf_dir)
    cb = similarity.pq_train(emb, m=8, k=8, n_iter=2)
    approx = similarity.pq_adc_topk(emb, cb, n_queries=5, topk=10)
    # r16: hoist the self-norms out of the per-pair scoring — ||v||²
    # once per corpus ROW and ||qv||² once per QUERY instead of three
    # folds per (corpus × queries) pair (guide §2.3 / the
    # brute_force_topk discipline). Same fold producing the same
    # double, combined in the same vv − 2·dot + qq order →
    # bit-identical d2.
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("vv", _dot(F.col("v"), F.col("v")))
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("vv").alias("qq"),
    )
    d2 = F.round(
        F.col("vv") - 2 * _dot(F.col("v"), F.col("qv")) + F.col("qq"),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(d2.asc(), F.col("vec_id").asc())
    exact = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    return similarity.ann_recall(exact, approx)


# pq_recall_report: composes the pq_adc_topk oracle with an exact
# squared-L2 top-10 ground truth (same d2 decomposition, full
# vectors) — the ann_recall left-join/count shape of
# ivf_recall_report.
ORACLE["pq_recall_report"] = f"""
WITH {_pq_cte()},
qsub AS (
  SELECT vec_id AS query_id, subspace, sv AS qv,
         list_dot_product(sv, sv) AS qn2
  FROM sub WHERE vec_id < 5),
lut AS (
  SELECT q.query_id, c.subspace, c.code,
         CAST(floor((list_dot_product(c.c, c.c)
                     - 2 * list_dot_product(c.c, q.qv)
                     + q.qn2) * 1048576.0) AS BIGINT) AS dq
  FROM qsub q JOIN cb2 c ON c.subspace = q.subspace),
adc AS (
  SELECT query_id, neighbor_id FROM (
    SELECT l.query_id, cd.vec_id AS neighbor_id,
           CAST(sum(l.dq) AS BIGINT) AS s
    FROM codes cd JOIN lut l ON l.subspace = cd.subspace AND l.code = cd.code
    WHERE cd.vec_id != l.query_id
    GROUP BY 1, 2)
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY s ASC, neighbor_id ASC) <= 10),
exact AS (
  SELECT q.vec_id AS query_id, e2.vec_id AS neighbor_id
  FROM (SELECT vec_id, v FROM e WHERE vec_id < 5) q
  JOIN e e2 ON e2.vec_id != q.vec_id
  QUALIFY row_number() OVER (
    PARTITION BY q.vec_id
    ORDER BY round(list_dot_product(e2.v, e2.v)
                   - 2 * list_dot_product(e2.v, q.v)
                   + list_dot_product(q.v, q.v), 6) ASC,
             e2.vec_id ASC) <= 10)
SELECT exact.query_id AS query_id,
       round(CAST(count(adc.neighbor_id) AS DOUBLE) / count(*), 6)
         AS recall_at_k
FROM exact LEFT JOIN adc
  ON adc.query_id = exact.query_id AND adc.neighbor_id = exact.neighbor_id
GROUP BY exact.query_id
"""


def q_matryoshka_recall(spark, sf_dir):
    """Matryoshka prefix-dim retrieval curve: recall@10 of cosine
    top-k over the first 8/16/32 embedding coordinates vs the
    full-dimension ground truth, for the same 5-query eval set
    brute_force_topk uses. One corpus scan evaluates every prefix
    (the sims are slices of the same row); the oracle replays all
    four rankings in SQL with list slicing."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    return similarity.matryoshka_recall(emb, queries, dims=(8, 16, 32), k=10)


# matryoshka_recall: replays all four rankings (full + each prefix
# dim) with list slicing — the CASE keeps dim=0 on the un-sliced
# arrays so the ground truth is bit-identical to brute_force_topk's.
ORACLE["matryoshka_recall"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
dd AS (SELECT * FROM (VALUES (0), (8), (16), (32)) d(dim)),
scored AS (
  SELECT dd.dim, q.query_id, e.vec_id AS neighbor_id,
         CASE WHEN dd.dim = 0 THEN {_COS}
              ELSE round(list_dot_product(qv[1:dd.dim], v[1:dd.dim]) /
                   (sqrt(list_dot_product(qv[1:dd.dim], qv[1:dd.dim])) *
                    sqrt(list_dot_product(v[1:dd.dim], v[1:dd.dim]))), 6)
         END AS sim
  FROM dd, q, e WHERE e.vec_id != q.query_id),
topk AS (
  SELECT dim, query_id, neighbor_id FROM (
    SELECT dim, query_id, neighbor_id,
           row_number() OVER (PARTITION BY dim, query_id
                              ORDER BY sim DESC, neighbor_id ASC) AS rn
    FROM scored) WHERE rn <= 10),
truth AS (SELECT query_id, neighbor_id FROM topk WHERE dim = 0),
nq AS (SELECT count(DISTINCT query_id) AS n FROM truth),
hits AS (
  SELECT t.dim, count(*) AS h
  FROM topk t JOIN truth u USING (query_id, neighbor_id)
  WHERE t.dim != 0 GROUP BY t.dim)
-- dims scaffold left join: a prefix dim with ZERO truth hits still
-- reports recall=0.0 instead of vanishing from the curve (mirrors
-- the Spark-side scaffold in similarity.matryoshka_recall)
SELECT CAST(s.dim AS INTEGER) AS dim,
       CAST(nq.n AS INTEGER) AS n_queries,
       CAST(COALESCE(h, 0) AS BIGINT) AS hits,
       round(COALESCE(h, 0) / (nq.n * 10.0), 6) AS recall
FROM (SELECT dim FROM dd WHERE dim != 0) s
LEFT JOIN hits ON hits.dim = s.dim, nq
WHERE nq.n > 0
"""


def q_mutual_knn_pairs(spark, sf_dir):
    """Reciprocal-NN duplicate candidates within SemDeDup-style
    adaptive cells (same corpus-scaled seed centroids as
    semantic_dedup): pairs where each vector is in the other's
    within-cell cosine top-3 — the high-precision complement of the
    threshold-based semantic_dedup flagging."""
    emb = _emb(spark, sf_dir)
    return similarity.mutual_knn_pairs(
        emb, _scaled_cell_centroids(emb), k=3
    )


# mutual_knn_pairs: same cell CTEs as semantic_dedup, then each
# vector's within-cell cosine top-3 (rounded 6 dp before rank, id
# tiebreak) self-joined for mutuality, emitted id_a < id_b.
ORACLE["mutual_knn_pairs"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cen AS (SELECT vec_id AS cell_id, v AS c FROM e
        WHERE vec_id < GREATEST(8, (SELECT COUNT(*) FROM embeddings) // 256)),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, cen.cell_id AS cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {{_CCOS}} DESC, cen.cell_id ASC) AS rn
    FROM e, cen)
  WHERE rn = 1),
capped AS (
  SELECT * FROM assigned
  QUALIFY count(*) OVER (PARTITION BY cell) <= 4096),
nn AS (
  SELECT id_a, id_b, sim FROM (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 6) AS sim,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 6) DESC,
                              b.vec_id ASC) AS rn
    FROM capped a JOIN capped b
      ON a.cell = b.cell AND a.vec_id != b.vec_id)
  WHERE rn <= 3)
SELECT n1.id_a, n1.id_b, n1.sim
FROM nn n1 JOIN nn n2 ON n1.id_a = n2.id_b AND n1.id_b = n2.id_a
WHERE n1.id_a < n1.id_b
"""

ORACLE["mutual_knn_pairs"] = ORACLE["mutual_knn_pairs"].replace(
    "{_CCOS}", _CCOS
)


# embedding_pca: the covariance CTE is the (already hash-exact)
# embedding_covariance oracle; the 8 power-iteration rounds unroll as
# matvec (list_dot_product over j-ordered row lists — the same
# left-to-right fold the driver-local Python loop uses, verified
# bit-exact) + L2 normalize + round(,6)+0.0 quantization per round,
# so both engines iterate on IDENTICAL vectors. Built after
# ORACLE["embedding_covariance"] exists (see _build_pca_oracle call
# site below that definition).
def _build_pca_oracle(n_iter: int = 8) -> str:
    # every CTE is MATERIALIZED: the rounds chain back through
    # rows_c/cov, and DuckDB's default CTE inlining re-evaluates the
    # whole upstream chain per reference — exponential blowup across
    # 8 rounds (observed as a hung oracle before this; same fix as
    # the unrolled pagerank oracles).
    parts = [
        f"WITH cov AS MATERIALIZED ({ORACLE['embedding_covariance']}),",
        "rows_c AS MATERIALIZED (SELECT i, list(cov ORDER BY j) AS ci FROM cov GROUP BY i),",
        "v0 AS MATERIALIZED (SELECT i, CAST(1.0 AS DOUBLE) AS x"
        " FROM (SELECT DISTINCT i FROM cov)),",
    ]
    for t in range(1, n_iter + 1):
        p = t - 1
        parts += [
            f"w{t} AS MATERIALIZED (SELECT r.i, list_dot_product(r.ci,"
            f" (SELECT list(x ORDER BY i) FROM v{p})) AS w FROM rows_c r),",
            f"n{t} AS MATERIALIZED (SELECT sqrt(list_dot_product(l, l)) AS nrm FROM"
            f" (SELECT list(w ORDER BY i) AS l FROM w{t})),",
            f"v{t} AS MATERIALIZED (SELECT i, round(w / (SELECT nrm FROM n{t}), 6) + 0.0"
            f" AS x FROM w{t}),",
        ]
    f = n_iter
    parts += [
        f"cv AS MATERIALIZED (SELECT r.i, list_dot_product(r.ci,"
        f" (SELECT list(x ORDER BY i) FROM v{f})) AS w FROM rows_c r),",
        f"num AS MATERIALIZED (SELECT list_dot_product((SELECT list(x ORDER BY i) FROM v{f}),"
        " (SELECT list(w ORDER BY i) FROM cv)) AS s),",
        f"den AS MATERIALIZED (SELECT list_dot_product(l, l) AS s FROM"
        f" (SELECT list(x ORDER BY i) AS l FROM v{f})),",
        "eig AS MATERIALIZED (SELECT round((SELECT s FROM num) / (SELECT s FROM den), 6)"
        " + 0.0 AS e),",
        # trace as a left-to-right dot with ones — same fold order as
        # the Python accumulation (x * 1.0 is exact)
        "tr AS MATERIALIZED (SELECT list_dot_product(dl, list_transform(dl, _ -> 1.0))"
        " AS t FROM (SELECT list(cov ORDER BY i) AS dl FROM cov WHERE i = j)),",
        "evr AS MATERIALIZED (SELECT round((SELECT e FROM eig) / (SELECT t FROM tr), 6)"
        " + 0.0 AS r)",
        f"SELECT v{f}.i AS i, v{f}.x AS loading,",
        "       (SELECT e FROM eig) AS eigenvalue,",
        "       (SELECT r FROM evr) AS explained_ratio",
        f"FROM v{f}",
        # degenerate-input mirror of similarity.embedding_pca's guards:
        # a zero norm at ANY round makes w/0 NaN, which cascades through
        # every later CTE, so finiteness of the final loading/eig/evr
        # plus trace > 0 reproduces the Spark side's empty-result
        # contract (all-zero covariance, null-space collapse, zero
        # trace) instead of emitting inf/NaN rows.
        f"WHERE isfinite(v{f}.x) AND isfinite((SELECT e FROM eig))",
        "  AND isfinite((SELECT r FROM evr)) AND (SELECT t FROM tr) > 0",
    ]
    return "\n".join(parts)


def q_embedding_pca(spark, sf_dir):
    """First principal component + explained-variance ratio of the
    embedding cloud (anisotropy diagnostic) — distributed exact
    covariance, then 8 driver-local power-iteration rounds on the
    collected d x d matrix with per-round 6-dp quantization so both
    engines iterate on identical inputs. The oracle unrolls all 8
    matvec/normalize rounds in SQL over the same covariance CTE."""
    return similarity.embedding_pca(_emb(spark, sf_dir), n_iter=8)


ORACLE["embedding_pca"] = _build_pca_oracle(n_iter=8)
