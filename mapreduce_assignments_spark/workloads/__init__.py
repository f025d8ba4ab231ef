"""Driver-contract workload registry.

Every implemented operator from SURVEY.md §2 (plus the LLM-pipeline
extensions) gets a named query over the driver testdata tables and a
DuckDB oracle query that must match row-for-row, value-for-value.

One module per query family holds that family's record: each
``q_<name>`` builder, its ``ORACLE["<name>"]`` SQL right after it,
and the private helpers only that family uses. Helpers more than one
family needs live in ``_shared``. The family of a query is the name
of its module; this package assembles ``ALL_QUERIES``, ``ORACLE`` and
``FAMILY`` from the modules and checks that every builder has exactly
one oracle in its own module. Adding a query means defining its
builder and its ORACLE entry in the family module.

Parity rules applied throughout (both sides identically):

- every computed column is aliased to the same name in Spark and SQL;
- doubles that pass through non-associative float math are rounded to
  6 places on BOTH sides before comparison/ranking;
- Spark INT columns are CAST to INTEGER on the DuckDB side (DuckDB
  defaults count-ish things to BIGINT/HUGEINT);
- dates are rendered as 'yyyy-MM-dd' strings (no tz/arrow ambiguity);
- all hashing is the portable md5 family from functions.hashing, which
  DuckDB reproduces exactly.

Every registered query has an oracle, the iterative ones (PageRank,
PPR, trained IVF) included: their fixed iteration counts are unrolled
into SQL CTEs.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections import ChainMap
from collections.abc import Callable, Iterable
from types import ModuleType

from pyspark.sql import DataFrame, SparkSession

Query = Callable[[SparkSession, str], DataFrame]


def _registry(
    modules: Iterable[ModuleType],
) -> tuple[dict[str, Query], dict[str, str], dict[str, str]]:
    """(queries, oracles, family) from the family modules: a module's
    queries are its own ``q_<name>`` functions, its oracles the entries
    it wrote into its ``ORACLE`` (a ``ChainMap`` reads other families'
    oracles through its parents and writes only its first map)."""
    queries: dict[str, Query] = {}
    oracles: dict[str, str] = {}
    family: dict[str, str] = {}
    for mod in modules:
        fam = mod.__name__.rpartition(".")[2]
        built = {
            name[2:]: fn
            for name, fn in vars(mod).items()
            if name.startswith("q_") and callable(fn)
            and fn.__module__ == mod.__name__
        }
        own = mod.ORACLE.maps[0] if isinstance(mod.ORACLE, ChainMap) else mod.ORACLE
        assert set(own) == set(built), (
            f"{fam}: a builder and its oracle must share a module: "
            f"{sorted(set(own) ^ set(built))}"
        )
        twice = sorted(set(built) & set(family))
        assert not twice, f"{fam}: queries defined in two families: {twice}"
        queries.update(built)
        oracles.update(own)
        family.update(dict.fromkeys(built, fam))
    return queries, oracles, family


ALL_QUERIES, ORACLE, FAMILY = _registry(
    importlib.import_module(f"{__name__}.{info.name}")
    for info in pkgutil.iter_modules(__path__)
    if not info.name.startswith("_")
)

# The driver's correctness harness checks the FIRST 50 registry
# entries only, and a name that leaves this frozen window is graded
# as a regression. Every other query lands in EXTRA_QUERIES: still
# oracle-checked (tools/check_correctness.py --all), benched and
# tested, just outside the driver's window.
DRIVER_WINDOW: tuple[str, ...] = (
    "dedup_threshold_curve",
    "order_size_correlation",
    "pareto_report",
    "region_nation_share",
    "revenue_lag_features",
    "revenue_rollup",
    "revenue_share",
    "rfm_segments",
    "robust_outliers",
    "rolling_weekly_revenue",
    "seasonal_anomalies",
    "semantic_decontamination",
    "session_paths",
    "session_stats",
    "shipping_priority",
    "slo_burn_rate",
    "target_encoding",
    "temperature_mix",
    "temporal_split",
    "transition_latency",
    "user_entropy",
    "user_purge_report",
    "winsorize_values",
    "yoy_growth",
    "balance_classes",
    "bpe_merges_local",
    "bpe_token_counts",
    "centroid_confusion",
    "cluster_canonical",
    "compact_small_files",
    "containment_pairs",
    "contamination_flags",
    "corpus_card",
    "corpus_mix",
    "countmin_words",
    "csv_malformed_report",
    "dedup_savings",
    "dsir_weights",
    "dup_span_report",
    "eval_substring_hits",
    "filter_funnel_examples",
    "hard_negatives",
    "hash_collision_report",
    "idf_drift",
    "index_shard_balance",
    "ivf_index_probe",
    "key_skew_report",
    "label_centroids",
    "label_spread",
    "language_id_accuracy",
)
QUERIES: dict[str, Query] = {name: ALL_QUERIES[name] for name in DRIVER_WINDOW}
EXTRA_QUERIES: dict[str, Query] = {
    name: fn for name, fn in ALL_QUERIES.items() if name not in QUERIES
}

assert len(QUERIES) == 50, f"driver check window is 50, got {len(QUERIES)}"
assert len(DRIVER_WINDOW) == len(set(DRIVER_WINDOW)), "duplicate window name"
