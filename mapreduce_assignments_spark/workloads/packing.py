"""Sequence packing of tokenized documents into fixed-length rows."""

from __future__ import annotations

import pyspark.sql.functions as F

from ..functions.hashing import h60_sql
from ..operators import packing, text
from ._shared import _TOK, _docs

ORACLE: dict[str, str] = {}


def q_packing_efficiency(spark, sf_dir):
    """Shard fill-rate report for the sequence packer: per bucket,
    how many shards the stream chunked into and how full they are —
    the fragmentation dashboard a packing budget is tuned against."""
    packed = packing.pack_sequences(
        _docs(spark, sf_dir).select(
            "doc_id", F.size(text.tokens_array("text")).alias("ws_tokens")
        ),
        token_col="ws_tokens",
        budget=512,
        n_buckets=8,
    )
    # the bucket's stream is CONTIGUOUS (concatenate-and-chunk), so it
    # spans ceil(total/budget) physical shards and only the last one
    # is partial — counting start-shards instead would overshoot past
    # 1.0 whenever a document spills across a boundary
    shards = F.floor((F.sum("ws_tokens") + 511) / 512).cast("long")
    return packed.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("ws_tokens").alias("total_tokens"),
        shards.alias("n_shards"),
        F.round(
            F.sum("ws_tokens") / (F.floor((F.sum("ws_tokens") + 511) / 512) * 512),
            6,
        ).alias("utilization"),
    )


ORACLE["packing_efficiency"] = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_TOK}) AS BIGINT) AS ws_tokens,
         {h60_sql("CAST(doc_id AS VARCHAR)")} AS h
  FROM documents
),
b AS (SELECT *, CAST(h % 8 AS INTEGER) AS bucket FROM t),
c AS (
  SELECT doc_id, ws_tokens, bucket,
         CAST(sum(ws_tokens) OVER (PARTITION BY bucket ORDER BY h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           - ws_tokens AS start
  FROM b
)
SELECT bucket, count(*) AS n_docs,
       CAST(sum(ws_tokens) AS BIGINT) AS total_tokens,
       CAST((sum(ws_tokens) + 511) // 512 AS BIGINT) AS n_shards,
       round(CAST(sum(ws_tokens) AS BIGINT)
             / (((sum(ws_tokens) + 511) // 512) * 512), 6) AS utilization
FROM c GROUP BY bucket
"""


def q_pack_sequences(spark, sf_dir):
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.size(text.tokens_array("text")).alias("ws_tokens")
    )
    return packing.pack_sequences(
        docs, token_col="ws_tokens", budget=512, n_buckets=8
    )


# sequence packing: hash-bucketed concatenate-and-chunk; the oracle
# replays the exclusive prefix sum over the same (hash, id) order.
ORACLE["pack_sequences"] = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_TOK}) AS BIGINT) AS ws_tokens,
         {h60_sql("CAST(doc_id AS VARCHAR)")} AS h
  FROM documents
),
b AS (SELECT *, CAST(h % 8 AS INTEGER) AS bucket FROM t),
c AS (
  SELECT doc_id, ws_tokens, bucket,
         CAST(sum(ws_tokens) OVER (PARTITION BY bucket ORDER BY h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           - ws_tokens AS start
  FROM b
)
SELECT doc_id, ws_tokens, bucket,
       CAST(bucket AS BIGINT) * 4294967296 + start // 512 AS shard_id,
       start - (start // 512) * 512 AS offset
FROM c
"""
