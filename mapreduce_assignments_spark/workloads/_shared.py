"""Helpers more than one query family uses: the shared SQL fragments,
the table loaders and the scratch-dir stager. The split-count and
staging memos live here once per process."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..functions.hashing import MINHASH_A, MINHASH_B
from ..sources.tables import load_table

# whitespace tokens with empties dropped — mirrors text.tokens_array
_TOK = r"list_filter(regexp_split_to_array(text, '\s+'), t -> len(t) > 0)"

_A_SQL = "[" + ",".join(str(a) for a in MINHASH_A) + "]"

_B_SQL = "[" + ",".join(str(b) for b in MINHASH_B) + "]"

# split-count memo for _parallelize: the probe physically plans the
# scan (~0.1-0.2 s of driver latency) and its result is a pure
# function of (table files, session split confs), both fixed for a
# process — so probe each table once, not once per query
# construction (r16; the full bench constructs _docs/_emb-guarded
# frames several hundred times). Metadata only — no row, plan, or
# result is cached; a table directory that gains files mid-process
# would at worst keep the old repartition decision (a perf heuristic,
# never a correctness input).
_SCAN_PARTS: dict[tuple[str, str], int] = {}


def _parallelize(df: DataFrame, _memo_key: tuple[str, str] | None = None) -> DataFrame:
    """Small-input parallelization: the testdata documents/embeddings
    parquet is ONE row group, so Spark's byte-based splitting gives a
    single partition and every CPU-heavy narrow transform (shingling,
    minhash, fingerprints, cosine folds) runs on one core. One cheap
    shuffle of the (tiny) input unlocks all cores. At real scale the
    input has far more splits than cores, the branch never fires, and
    no shuffle is added."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    n_parts = _SCAN_PARTS.get(_memo_key) if _memo_key else None
    if n_parts is None:
        # JVM-side partition count (queryExecution().rdd() — physical
        # planning only, no job, no Python-RDD serializer conversion;
        # the Python df.rdd property would bolt a javaToPython stage
        # onto every query's setup).
        n_parts = df._jdf.rdd().getNumPartitions()
        if _memo_key:
            _SCAN_PARTS[_memo_key] = n_parts
    if n_parts < max(2, target // 2):
        return df.repartition(target)
    return df


def _ptable(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """`load_table` + `_parallelize` with the split-count probe
    memoized per (sf_dir, table)."""
    return _parallelize(load_table(spark, sf_dir, name), _memo_key=(sf_dir, name))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ptable(spark, sf_dir, "documents")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ptable(spark, sf_dir, "embeddings")


def _scratch_dir(prefix: str) -> str:
    """A fresh temp dir, removed at interpreter exit."""
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix=f"mras-{prefix}-")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


_STAGES: dict[tuple[str, str], str] = {}


def _stage_once(kind: str, sf_dir: str, write: Callable[[str], None]) -> str:
    """Run ``write(dir)`` into a scratch dir once per (process, kind,
    sf_dir) and return that dir. For query INPUTS only: a memoized
    result would let warm runs skip the work they are timed for, so
    the operator under test always writes to a fresh ``_scratch_dir``."""
    key = (kind, sf_dir)
    if key not in _STAGES:
        path = _scratch_dir(kind)
        write(path)
        _STAGES[key] = path
    return _STAGES[key]


_DOC_BIN = (
    "CAST(CONCAT('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    " % 1000000"
)
