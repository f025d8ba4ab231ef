"""Bit-identity pins for the r15 SQL-string expression builders.

Round-15 rebuilt the widest signature expressions (simhash's 62-fold
vote, minhash's num_hashes-fold signature, the LSH band structs) as
single ``F.expr`` SQL parses instead of per-node py4j Column
composition — a CONSTRUCTION-time optimization (~1.1-1.6 s of driver
time per call at 32+ folds) that must not change a single bit of
output.  These tests rebuild the HISTORICAL Column-API forms inline
(copied from the pre-r15 ``operators/dedup.py``) and assert row-exact
equality, so any future drift between the SQL text and the Column
semantics fails loudly instead of silently changing signatures.
"""

import pyspark.sql.functions as F
import pytest

from mapreduce_assignments_spark.functions.hashing import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_PRIME,
    h28,
    h60,
)
from mapreduce_assignments_spark.operators.dedup import (
    _shingle_array,
    minhash_signatures,
    simhash,
)
from mapreduce_assignments_spark.operators.text import tokens_array


@pytest.fixture()
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumped over a lazy dog today"),
        (2, "pack my box with five dozen liquor jugs"),
        (3, "sphinx of black quartz judge my vow"),
        (4, "a b c d e f g h i j k l m n o p"),
        (5, ""),
        (6, "   "),
        (7, "one-token"),
        (8, "repeat repeat repeat repeat repeat repeat"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _simhash_column_form(docs, bits=62, text_col="text", id_col="doc_id"):
    """The pre-r15 Column-API simhash, verbatim."""
    toks = tokens_array(text_col)
    base = docs.where(F.size(toks) >= 1).select(
        F.col(id_col).alias("doc_id"), F.transform(toks, h60).alias("hs")
    )

    def vote(b):
        return F.aggregate(
            F.col("hs"),
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(
                F.shiftright(h, b).bitwiseAND(F.lit(1)) == F.lit(1), F.lit(1)
            ).otherwise(F.lit(-1)),
        )

    sig = None
    for b in range(bits):
        term = F.when(vote(b) > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return base.select("doc_id", sig.alias("simhash"))


def _minhash_value(base_hash, i):
    """The historical Column-API i-th universal hash, verbatim."""
    return (F.lit(MINHASH_A[i]) * base_hash + F.lit(MINHASH_B[i])) % F.lit(MINHASH_PRIME)


def _minhash_column_form(docs, n=3, num_hashes=16, text_col="text", id_col="doc_id"):
    """The pre-r15 Column-API minhash_signatures, verbatim."""

    def mh(i):
        return lambda h: _minhash_value(h, i)

    toks = tokens_array(text_col)
    base = docs.where(F.size(toks) >= n).select(
        F.col(id_col).alias("doc_id"),
        F.transform(_shingle_array(n, text_col), h28).alias("hs"),
    )
    sig = F.array(
        *[F.array_min(F.transform(F.col("hs"), mh(i))) for i in range(num_hashes)]
    )
    return base.select("doc_id", sig.alias("sig"))


@pytest.fixture()
def vecs(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(40)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_assign_sql_matches_column_form(vecs):
    import math

    from mapreduce_assignments_spark.operators import similarity as S

    cen = S.ivf_train(vecs, k=4, n_iter=1)
    rows = sorted(
        (int(r["cell_id"]), [float(x) for x in r["c"]])
        for r in cen.select("cell_id", "c").collect()
    )

    def norm(c):
        s = 0.0
        for x in c:
            s += x * x
        return math.sqrt(s)

    embd = S._as_double(vecs)
    with_norm = embd.select(
        "vec_id",
        "embedding",
        F.sqrt(S._dot(F.col("embedding"), F.col("embedding"))).alias("__n"),
    )
    # the pre-r15 Column-API candidate array, verbatim
    cands = F.array(
        *[
            F.struct(
                F.round(
                    S._dot(F.array(*[F.lit(x) for x in c]), F.col("embedding"))
                    / (F.lit(norm(c)) * F.col("__n")),
                    6,
                ).alias("csim"),
                F.lit(-cell_id).alias("nid"),
            )
            for cell_id, c in rows
        ]
    )
    old = {
        r["vec_id"]: r["cell"]
        for r in with_norm.select(
            "vec_id", (-F.array_max(cands)["nid"]).cast("int").alias("cell")
        ).collect()
    }
    new = {r["vec_id"]: r["cell"] for r in S.ivf_assign(vecs, cen).collect()}
    assert new == old


def test_pq_code_expr_sql_matches_column_form(vecs):
    from mapreduce_assignments_spark.operators import similarity as S

    cbdf = S.pq_train(vecs, m=4, k=4, n_iter=2)
    cb = S._collect_codebook(cbdf)
    m = len(cb)
    sd = len(next(iter(cb.values()))[0][1])
    sub = S._pq_subvectors(S._as_double(vecs), m, sd)
    # the pre-r15 Column-API when()-chain, verbatim
    expr = None
    for j in sorted(cb):
        cands = F.array(
            *[
                F.struct(
                    F.round(
                        F.lit(S._seq_dot(c, c))
                        - 2 * S._dot(F.array(*[F.lit(x) for x in c]), F.col("sv"))
                        + F.col("__n2"),
                        6,
                    ).alias("d"),
                    F.lit(code).alias("code"),
                )
                for code, c in cb[j]
            ]
        )
        branch = F.array_min(cands)["code"]
        cond = F.col("subspace") == j
        expr = F.when(cond, branch) if expr is None else expr.when(cond, branch)
    old = {
        (r["vec_id"], r["subspace"]): r["code"]
        for r in sub.select(
            "vec_id", "subspace", expr.cast("int").alias("code")
        ).collect()
    }
    new = {
        (r["vec_id"], r["subspace"]): r["code"]
        for r in S.pq_codes(vecs, cbdf).collect()
    }
    assert new == old


def test_simhash_sql_matches_column_form(docs):
    for bits in (1, 7, 62):
        new = {r["doc_id"]: r["simhash"] for r in simhash(docs, bits=bits).collect()}
        old = {
            r["doc_id"]: r["simhash"]
            for r in _simhash_column_form(docs, bits=bits).collect()
        }
        assert new == old, f"simhash bits={bits} drifted from Column form"


def test_minhash_sql_matches_column_form(docs):
    for num_hashes in (1, 16):
        new = {
            r["doc_id"]: r["sig"]
            for r in minhash_signatures(docs, num_hashes=num_hashes).collect()
        }
        old = {
            r["doc_id"]: r["sig"]
            for r in _minhash_column_form(docs, num_hashes=num_hashes).collect()
        }
        assert new == old, f"minhash num_hashes={num_hashes} drifted from Column form"


def test_lsh_buckets_sql_matches_column_form(vecs):
    from mapreduce_assignments_spark.operators import similarity as S

    n_planes, n_bands, dim = 8, 4, 16
    r = n_planes // n_bands
    planes = S.lsh_hyperplanes(n_planes, dim)
    # the pre-r15 Column-API bucket expressions, verbatim
    v = F.col("embedding").cast("array<double>")
    bits = [
        (
            F.round(
                F.aggregate(
                    F.zip_with(
                        v,
                        F.array(*[F.lit(w) for w in planes[p]]),
                        lambda x, y: x * y,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            )
            >= 0
        ).cast("int")
        for p in range(n_planes)
    ]
    buckets = [
        sum((bits[b * r + j] * F.lit(1 << j)) for j in range(r)).cast("int")
        for b in range(n_bands)
    ]
    old = {
        (r_["vec_id"], r_["band"]): r_["bucket"]
        for r_ in vecs.select(
            "vec_id", F.posexplode_outer(F.array(*buckets)).alias("band", "bucket")
        ).collect()
    }
    new = {
        (r_["vec_id"], r_["band"]): r_["bucket"]
        for r_ in S.lsh_buckets(
            vecs, "vec_id", "embedding", n_planes, n_bands, dim
        ).collect()
    }
    assert new == old
