"""Key-skew diagnostics: the hot keys a join or aggregate would hit."""

from __future__ import annotations

from ..operators import skew
from ..sources.tables import load_table

ORACLE: dict[str, str] = {}


def q_key_skew_report(spark, sf_dir):
    """Skew diagnosis of orders.o_custkey — the should-I-salt report,
    with an exact Gini from the count-of-counts histogram (no global
    key sort)."""
    return skew.key_skew_report(load_table(spark, sf_dir, "orders"), "o_custkey")


ORACLE["key_skew_report"] = """
WITH counts AS (
  SELECT o_custkey, count(*) AS cnt FROM orders
  WHERE o_custkey IS NOT NULL GROUP BY o_custkey
),
hist AS (SELECT cnt, count(*) AS k FROM counts GROUP BY cnt),
ranked AS (
  SELECT cnt, k,
         COALESCE(CAST(sum(k) OVER (ORDER BY cnt
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS BIGINT), 0) + 1 AS s
  FROM hist
),
s AS (
  SELECT CAST(sum(k) AS BIGINT) AS n,
         CAST(sum(cnt * k) AS BIGINT) AS total,
         CAST(sum(cnt * (2 * s + k - 1) * k) AS BIGINT) AS weighted,
         max(cnt) AS max_cnt
  FROM ranked
)
SELECT n AS n_keys, total AS total_rows, max_cnt,
       round(max_cnt / total, 6) AS top_share,
       round(weighted / (n * total) - (n + 1) / n, 6) AS gini
FROM s
"""
