"""Deterministic, engine-portable hash expressions.

Every sketch operator (MinHash, SimHash, fingerprinting) needs a hash
function that (a) runs JVM-side in Spark with no Python in the hot
path and (b) can be reproduced exactly in ANSI SQL so the DuckDB
oracle harness can verify results value-for-value. MD5 is the
interop point: both engines produce identical hex digests, and a
15-hex-digit prefix fits in a signed 64-bit int.

``h28`` (28-bit) feeds the MinHash universal-hash family
``h_i(x) = (a_i * h28(x) + b_i) mod p`` with p = 2^31 - 1; keeping the
base hash at 28 bits makes a_i * h28 overflow-free in int64.

``log_add_exp`` reproduces the reference's log-space probability
addition (RunPageRankBasic.java:570-582) for numeric-parity
experiments; the engine itself computes PageRank in linear doubles.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

NUM_MINHASHES = 32
MINHASH_PRIME = 2147483647  # 2^31 - 1 (Mersenne)
# deterministic odd multipliers / offsets — must match the SQL oracle
MINHASH_A = [2 * i + 1 for i in range(1, NUM_MINHASHES + 1)]
MINHASH_B = [7919 * (i + 1) % MINHASH_PRIME for i in range(NUM_MINHASHES)]


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def h60(c: Column | str) -> Column:
    """60-bit deterministic hash of a string: first 15 hex digits of
    md5, as bigint. DuckDB equivalent:
    ``CAST(CONCAT('0x', substring(md5(x), 1, 15)) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(_col(c)), 1, 15), 16, 10).cast("long")


def h28(c: Column | str) -> Column:
    """28-bit deterministic hash (7 hex digits of md5). DuckDB:
    ``CAST(CONCAT('0x', substring(md5(x), 1, 7)) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(_col(c)), 1, 7), 16, 10).cast("long")


def h28_sql(expr: str) -> str:
    """DuckDB SQL text equivalent of :func:`h28`."""
    return f"CAST(CONCAT('0x', substring(md5({expr}), 1, 7)) AS BIGINT)"


def h60_sql(expr: str) -> str:
    """DuckDB SQL text equivalent of :func:`h60`."""
    return f"CAST(CONCAT('0x', substring(md5({expr}), 1, 15)) AS BIGINT)"


def h28_spark_sql(expr: str) -> str:
    """Spark SQL text equivalent of :func:`h28` (same value as the
    Column form — ``conv`` hex parse instead of DuckDB's '0x' cast).

    The *_spark_sql builders exist for CONSTRUCTION speed, not new
    semantics: composing wide signature expressions through the
    Column API costs one py4j round-trip per node (measured 1.1-1.6 s
    of pure driver time per simhash/minhash construction at 32
    hashes), while one ``F.expr`` string is a single JVM parse of the
    identical expression tree. Results are bit-for-bit the same —
    pytest pins equality against the Column forms."""
    return f"cast(conv(substring(md5({expr}), 1, 7), 16, 10) as long)"


def h60_spark_sql(expr: str) -> str:
    """Spark SQL text equivalent of :func:`h60` (see
    :func:`h28_spark_sql` for why these exist)."""
    return f"cast(conv(substring(md5({expr}), 1, 15), 16, 10) as long)"


def minhash_value_spark_sql(base_expr: str, i: int) -> str:
    """i-th universal hash ``(a_i * h + b_i) mod p`` of the 28-bit
    base hash ``base_expr``, as Spark SQL text."""
    return (
        f"(({MINHASH_A[i]}L * {base_expr} + {MINHASH_B[i]}L)"
        f" % {MINHASH_PRIME}L)"
    )


def log_add_exp(a: Column, b: Column) -> Column:
    """Numerically-stable log(e^a + e^b) — parity helper for the
    reference's sumLogProbs (RunPageRankBasic.java:570-582)."""
    hi, lo = F.greatest(a, b), F.least(a, b)
    return hi + F.log1p(F.exp(lo - hi))
