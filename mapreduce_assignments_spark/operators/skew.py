"""Skew-mitigation utilities.

AQE's skew-join splitting handles most hot keys at runtime, but it
only applies to sort-merge joins and only splits the PROBE side. When
a key is so hot that one task would still take the stage hostage — or
when the join must be shuffled-hash — the classic fix is salting:

- the big (skewed) side gets a deterministic salt in [0, salt),
- the small side is replicated once per salt value,
- the join key becomes (key, salt), spreading each hot key over
  ``salt`` tasks.

Cost: small side inflates ×salt — use only when the small side is
modest and broadcast is infeasible (e.g. it exceeds driver/executor
broadcast budget). For the supported join types (inner / left /
left_semi / left_anti) results are exactly equal to the unsalted join;
right/full joins are rejected because the replicated small side would
emit every unmatched small row once per salt value.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

__all__ = ["salted_join", "key_skew_report"]


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str | list[str],
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Equi-join with hot-key salting. ``big`` is the skewed side;
    ``small`` is replicated ``salt`` times. Deterministic: the salt is
    a hash of the big side's whole row (xxhash64), not rand().

    Returns exactly the columns a plain ``big.join(small, on, how)``
    would. ``how`` is restricted to join types that preserve the big
    side only — an outer-preserved small side would surface each
    unmatched small row ``salt`` times."""
    if salt < 1:
        raise ValueError("salt must be >= 1")
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "left_anti", "leftanti", "semi", "anti"}
    if how not in allowed:
        raise ValueError(
            f"salted_join supports only big-side-preserving joins "
            f"{sorted(allowed)}; got {how!r}"
        )
    keys = [on] if isinstance(on, str) else list(on)
    big_s = big.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(salt))
    )
    salts = big.sparkSession.range(salt).select(F.col("id").cast("int").alias("__salt"))
    small_s = small.crossJoin(F.broadcast(salts))
    joined = big_s.join(small_s, [*keys, "__salt"], how)
    return joined.drop("__salt")


def key_skew_report(df: DataFrame, key: str) -> DataFrame:
    """One-row skew diagnosis of a join/grouping key — the
    before-you-shuffle report that tells you whether
    :func:`salted_join` (or AQE skew splitting) is worth reaching for:
    ``(n_keys, total_rows, max_cnt, top_share, gini)`` with
    ``top_share`` the hottest key's row fraction and ``gini`` the
    exact Gini coefficient of the per-key row distribution
    (0 = perfectly even, →1 = one key owns everything).

    The Gini is computed from the COUNT-OF-COUNTS histogram, not a
    global sort: keys with equal counts are rank-interchangeable, so
    the classic ``Σ rank·cnt`` reduces to one term per DISTINCT count
    value (a run of ``k`` keys at count ``v`` starting at rank ``s``
    contributes ``v·(2s+k-1)·k/2``). The ranked-window therefore runs
    over a frame bounded by |distinct count values| — tiny — instead
    of |keys|; at 100 TB this is the difference between a global sort
    of every key and a single extra hash aggregation. All sufficient
    statistics are integer-exact (the closed form keeps the /2 and ×2
    cancelled); only the final ratios are doubles, term-for-term the
    oracle's expression. Intermediate products are BIGINT — beyond
    ~10^9 keys × 10^9 rows move the final products to DOUBLE.
    """
    from pyspark.sql.window import Window

    counts = (
        df.where(F.col(key).isNotNull())
        .groupBy(key)
        .agg(F.count("*").alias("cnt"))
    )
    hist = counts.groupBy("cnt").agg(F.count("*").alias("k"))
    w = (
        # bounded-input: one row per distinct count value
        Window.orderBy("cnt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = hist.select(
        "cnt",
        "k",
        (F.coalesce(F.sum("k").over(w), F.lit(0)) + 1).alias("s"),
    )
    stats = ranked.agg(
        F.sum("k").alias("n"),
        F.sum(F.col("cnt") * F.col("k")).alias("total"),
        F.sum(
            F.col("cnt") * (2 * F.col("s") + F.col("k") - 1) * F.col("k")
        ).alias("weighted"),
        F.max("cnt").alias("max_cnt"),
    )
    return stats.select(
        F.col("n").alias("n_keys"),
        F.col("total").alias("total_rows"),
        "max_cnt",
        F.round(F.col("max_cnt") / F.col("total"), 6).alias("top_share"),
        F.round(
            F.col("weighted") / (F.col("n") * F.col("total"))
            - (F.col("n") + 1) / F.col("n"),
            6,
        ).alias("gini"),
    )
