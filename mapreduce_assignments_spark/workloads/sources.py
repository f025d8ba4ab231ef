"""Source round-trips: JSONL, CSV, ORC, schema evolution,
manifests and compaction."""

from __future__ import annotations

import pyspark.sql.functions as F

from ..sources.tables import load_table
from ._shared import _docs, _events, _scratch_dir, _stage_once

ORACLE: dict[str, str] = {}


def _staged_docs_jsonl_dir(spark, sf_dir: str) -> str:
    """Stage the documents table as JSONL with planted malformed lines
    (invalid JSON and a valid object with no id)."""

    def write(stage):
        (
            load_table(spark, sf_dir, "documents")
            .repartition(2)
            .write.mode("overwrite")
            .json(stage)
        )
        with open(f"{stage}/part-malformed.json", "w") as fh:
            fh.write("{this is not json\n")
            fh.write('{"text": "valid json, but no doc_id"}\n')

    return _stage_once("jsonl", sf_dir, write)


def q_jsonl_roundtrip(spark, sf_dir):
    """Documents → JSONL → schema-enforced read with DROPMALFORMED:
    full row parity with the original table proves the serialization
    round-trips exactly (unicode escapes, nulls) and the malformed
    plants are dropped."""
    from ..sources.text_corpus import read_documents_jsonl

    docs = read_documents_jsonl(spark, _staged_docs_jsonl_dir(spark, sf_dir))
    return docs.select("doc_id", "text", "lang", "source", "n_chars")


ORACLE["jsonl_roundtrip"] = """
SELECT doc_id, text, lang, source, n_chars FROM documents
"""


def _staged_docs_csv_dir(spark, sf_dir: str) -> str:
    """Stage the documents table as headerless RFC-4180 CSV with
    planted malformed lines (unparseable doc_id; a row with no id)."""

    def write(stage):
        (
            load_table(spark, sf_dir, "documents")
            .repartition(2)
            .write.mode("overwrite")
            .option("quote", '"')
            .option("escape", '"')
            .csv(stage)
        )
        with open(f"{stage}/part-malformed.csv", "w") as fh:
            fh.write("notanumber,\"broken id row\",en,web,13\n")
            fh.write(",\"valid types, but no doc_id\",en,web,25\n")

    return _stage_once("csv", sf_dir, write)


def q_csv_roundtrip(spark, sf_dir):
    """Documents → headerless CSV → schema-enforced read with
    DROPMALFORMED: full row parity with the original table proves the
    Spark-writer quoting convention round-trips and the malformed
    plants are dropped (same contract as jsonl_roundtrip)."""
    from ..sources.text_corpus import read_documents_csv

    docs = read_documents_csv(spark, _staged_docs_csv_dir(spark, sf_dir))
    return docs.select("doc_id", "text", "lang", "source", "n_chars")


# the staging (Spark-side write + malformed plants) is invisible to
# the oracle by design: the reader's contract is that the roundtrip
# reproduces the source table exactly and drops the garbage.
ORACLE["csv_roundtrip"] = """
SELECT doc_id, text, lang, source, n_chars FROM documents
"""


def _staged_docs_orc_dir(spark, sf_dir: str) -> str:
    """Stage the documents table as zstd ORC."""
    return _stage_once(
        "orc",
        sf_dir,
        lambda d: load_table(spark, sf_dir, "documents")
        .repartition(2)
        .write.mode("overwrite")
        .option("compression", "zstd")
        .orc(d),
    )


def q_orc_roundtrip(spark, sf_dir):
    """Documents → zstd ORC → schema-enforced columnar read: full row
    parity with the original table (same oracle as the other
    interchange-format roundtrips); pruning/pushdown reach the ORC
    stripes (plan-asserted in tests)."""
    from ..sources.text_corpus import read_documents_orc

    docs = read_documents_orc(spark, _staged_docs_orc_dir(spark, sf_dir))
    return docs.select("doc_id", "text", "lang", "source", "n_chars")


ORACLE["orc_roundtrip"] = ORACLE["csv_roundtrip"]


def q_schema_evolution(spark, sf_dir):
    """Schema-evolution read: the corpus written in TWO generations —
    an old 3-column layout (even doc_ids) and a widened 5-column one
    (odd doc_ids) — into one directory, read back with
    ``mergeSchema``; columns absent from a generation surface as
    NULLs. The add-a-column-without-rewriting-history contract every
    long-lived 100 TB table depends on (per-file schema negotiation
    at the scan; no rewrite, no backfill)."""

    def write(stage):
        docs = _docs(spark, sf_dir)
        docs.where(F.col("doc_id") % 2 == 0).select(
            "doc_id", "text", "lang"
        ).write.mode("append").parquet(stage)
        docs.where(F.col("doc_id") % 2 == 1).select(
            "doc_id", "text", "lang", "source", "n_chars"
        ).write.mode("append").parquet(stage)

    return (
        spark.read.option("mergeSchema", "true")
        .parquet(_stage_once("evolved", sf_dir, write))
        .select("doc_id", "text", "lang", "source", "n_chars")
    )


ORACLE["schema_evolution"] = """
SELECT doc_id, text, lang,
       CASE WHEN doc_id % 2 = 1 THEN source END AS source,
       CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars
FROM documents
"""


def q_csv_malformed_report(spark, sf_dir):
    """Dead-letter accounting over the SAME planted-malformed CSV
    stage the roundtrip query drops silently: PERMISSIVE read with a
    _corrupt column, one row (n_rows, n_corrupt, n_null_id, n_valid)
    — parse failures vs contract violations vs clean rows."""
    from ..sources.text_corpus import read_documents_csv_permissive

    raw = read_documents_csv_permissive(spark, _staged_docs_csv_dir(spark, sf_dir))
    corrupt = F.col("_corrupt").isNotNull()
    null_id = F.col("_corrupt").isNull() & F.col("doc_id").isNull()
    return raw.agg(
        F.count("*").alias("n_rows"),
        F.sum(corrupt.cast("int")).cast("long").alias("n_corrupt"),
        F.sum(null_id.cast("int")).cast("long").alias("n_null_id"),
        F.sum((~corrupt & F.col("doc_id").isNotNull()).cast("int"))
        .cast("long")
        .alias("n_valid"),
    )


# the stage plants exactly 2 extra lines: one type-corrupt, one
# parse-clean but id-less — so the report is derivable from the
# canonical table
ORACLE["csv_malformed_report"] = """
SELECT CAST(count(*) + 2 AS BIGINT) AS n_rows,
       CAST(1 AS BIGINT) AS n_corrupt,
       CAST(1 AS BIGINT) AS n_null_id,
       CAST(count(*) AS BIGINT) AS n_valid
FROM documents
"""


def q_manifest_ingest(spark, sf_dir):
    """Exactly-once file ingestion via a persisted manifest: events
    staged as two file batches that land in the source dir one at a
    time, THREE ingest calls (the third sees no new files and must be
    a no-op) — the accumulated sink then counts per event_type and
    must equal the one-shot aggregation, proving nothing was skipped
    or double-ingested."""
    import os
    import shutil

    from ..sources.tables import manifest_ingest

    def write(stage):
        ev = _events(spark, sf_dir).select("event_id", "event_type")
        half = F.abs(F.xxhash64(F.col("event_id"))) % 2
        for h in (0, 1):
            ev.where(half == h).coalesce(1).write.parquet(f"{stage}/{h}")

    batches = _stage_once("manifest-batches", sf_dir, write)
    root = _scratch_dir("manifest")
    src, state = f"{root}/src", f"{root}/state"
    os.mkdir(src)
    for h in (0, 1):
        for f in os.listdir(f"{batches}/{h}"):
            if f.endswith(".parquet"):
                shutil.copy(f"{batches}/{h}/{f}", src)
        manifest_ingest(spark, src, state)
    # the steady-state call: no new files, so this must be a no-op
    return (
        manifest_ingest(spark, src, state)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )


# three manifest-tracked ingest calls over two file batches must land
# exactly on the one-shot aggregation — no skips, no double-ingest
ORACLE["manifest_ingest"] = """
SELECT event_type, count(*) AS n FROM events GROUP BY 1
"""


def q_compact_small_files(spark, sf_dir):
    """Small-files compaction maintenance: a deliberately fragmented
    events copy (16 part files) rewritten into 2 — the object-store
    hygiene job every table needs. Reports file counts (asserted by
    listing, constants by construction) and row count; the oracle
    pins ROW PARITY against the canonical table plus the staged
    before/after file counts — compaction must never lose or invent
    rows."""
    import os

    frag = _stage_once(
        "compact-frag",
        sf_dir,
        lambda d: _events(spark, sf_dir)
        .select("event_id", "event_type", "value")
        .repartition(16)
        .write.mode("overwrite")
        .parquet(d),
    )
    tight = f"{_scratch_dir('compact')}/tight"
    spark.read.parquet(frag).coalesce(2).write.mode("overwrite").parquet(tight)

    def n_parts(d):
        return len([f for f in os.listdir(d) if f.endswith(".parquet")])

    return (
        spark.read.parquet(tight)
        .agg(F.count("*").alias("n_rows"))
        .select(
            F.lit(n_parts(frag)).cast("int").alias("files_before"),
            F.lit(n_parts(tight)).cast("int").alias("files_after"),
            "n_rows",
        )
    )


# 16 -> 2 files by construction; rows must match the canonical table
ORACLE["compact_small_files"] = """
SELECT CAST(16 AS INTEGER) AS files_before,
       CAST(2 AS INTEGER) AS files_after,
       count(*) AS n_rows
FROM events
"""
