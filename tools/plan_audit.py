#!/usr/bin/env python
"""Physical-plan health audit across the registered queries.

For every query in ``workloads.ALL_QUERIES``, prints one line with the
plan's scale-relevant facts:

- join strategies (broadcast vs sort-merge vs shuffled-hash),
- exchange (shuffle) count,
- whether parquet filters were pushed down (when the query filters),
- whether any Python evaluation appears in the plan (hot-path UDF
  smell — only the two sanctioned Pandas stages may show it),
- WholeStageCodegen span count,
- UNPARTITIONED Window nodes (single-partition sort of the whole
  input — a scale-killer unless the frame is provably bounded;
  every occurrence must be justified in GLOBAL_WINDOW_OK or the
  audit fails).

Usage: python tools/plan_audit.py [--sf 0.001] [--only name]
"""

from __future__ import annotations

import argparse
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from mapreduce_assignments_spark import workloads  # noqa: E402
from mapreduce_assignments_spark.session import get_spark  # noqa: E402

# queries allowed to show Python evaluation in their plan (Arrow UDF
# stages by design)
# the sanctioned Arrow-batched pipelines — most touch pixels, which is
# exactly what the Pandas-UDF path is for
PYTHON_OK = {
    "image_stats", "png_decode_stats", "jpeg_decode_stats", "phash_duplicates", "frame_sample", "resize_images",
    "mjpeg_frame_stats", "mp4_frame_text",
    # real-container STAGING is an Arrow encode stage (the sniff /
    # header-parse itself stays JVM-side)
    "media_sniff", "aspect_ratio_histogram",
    # in-partition BPE trainer: the whole point is ONE mapInPandas
    # over the (memory-sized) word-count vocabulary instead of
    # O(n_merges) sequential Spark jobs
    "bpe_merges_local",
    # r16: quadratic within-cell cosine scoring runs as a per-cell
    # numpy kernel (similarity._cell_pair_sims, guide §4.2) — one
    # Arrow group map over the cell-capped member frame instead of a
    # self-join with an interpreted fold per pair; bit-identical by
    # IEEE operation sequence, measured 2.1x at sf0.1
    "embedding_near_dupes", "semantic_dedup", "mutual_knn_pairs",
}


# Queries whose plans legitimately contain an UNPARTITIONED Window
# node — each one a frame whose input is bounded by construction, so
# the single-partition sort never sees data-sized input at any scale.
# Keyed by query name; the value is the auditable justification
# (round-11 VERDICT item 6: this table replaces the hand audit).
# A new unpartitioned window in any query NOT listed here fails the
# audit (exit 1) — bound the input or partition the window.
GLOBAL_WINDOW_OK: dict[str, str] = {
    # limit-prefixed rank windows: orderBy().limit(k) plans
    # TakeOrderedAndProject, so the single-partition window sees <= k
    # rows by construction (graph.py top_k_nodes idiom)
    "pagerank": "row_number over a limit(25)-bounded frame",
    "hits": "row_number over a limit(25)-bounded frame",
    "harmonic_centrality": "row_number over a limit(k)-bounded frame",
    "vocab_coverage": "cumulative sums over a limit(max_k)-bounded frame",
    "rrf_fusion": "rank windows over the scorers' k=20-limited outputs",
    # dimension-cardinality frames: the window input is an aggregate
    # whose row count is a dimension, not the data
    "key_skew_report": "cumulative Gini over the count-of-counts "
    "histogram (rows = distinct multiplicities)",
    "temperature_mix": "share-of-total over per-source rollup "
    "(rows = #sources)",
    "unimax_allocation": "water-fill rank/cumsum over the per-source "
    "rollup (rows = #sources)",
    "heaps_law_fit": "cumulative sums over the 10-row bucket scaffold",
    "region_nation_share": "share-of-total over region x nation rollup "
    "(rows <= 25 nations)",
    "revenue_share": "share-of-total over the nation rollup (25 rows)",
    # calendar-cardinality frames: the window input is a time-bucket
    # rollup (days/hours), bounded by the calendar not the data
    "revenue_lag_features": "lag features over the daily rollup",
    "ewma_hourly": "EWMA recursion over the hourly rollup",
    "slo_burn_rate": "sliding error rate over the hourly rollup",
    "rolling_weekly_revenue": "7-day range frame over the daily rollup",
    # statistic-inherent global rank over an aggregated (vocab-sized,
    # not corpus-sized) input; the operator docstring records the
    # range-partitioned prefix-offset fallback for extreme vocabularies
    "zipf_fit": "regression over the full ranked vocabulary is the "
    "Zipf statistic itself; input is the post-aggregation counts table",
}


def count_global_windows(plan: str) -> int:
    """Window nodes with an EMPTY partition spec.

    A physical ``Window`` line prints its top-level bracket groups as
    ``[funcs], [partitionSpec], [orderSpec]``; the partition group is
    omitted when empty, leaving ``[funcs], [orderSpec]`` (or just
    ``[funcs]`` for an unordered global frame). A 2-group line whose
    second group holds sort directions (ASC/DESC) is therefore a
    global window; a 2-group line without them is partition-only.
    ``WindowGroupLimit`` (top-k pushdown) is not a Window node.
    """
    n = 0
    for line in plan.splitlines():
        m = re.search(r"(?:^|\s)Window (\[.*)$", line)
        if not m:
            continue
        rest, groups, depth, start = m.group(1), [], 0, None
        for i, ch in enumerate(rest):
            if ch == "[":
                if depth == 0:
                    start = i
                depth += 1
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append(rest[start + 1 : i])
        if len(groups) <= 1:
            n += 1
        elif len(groups) == 2 and re.search(
            r"\b(ASC|DESC) NULLS", groups[1]
        ):
            n += 1
    return n


def audit(name: str, plan: str) -> dict:
    return {
        "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "shj": len(re.findall(r"ShuffledHashJoin", plan)),
        "exchange": len(re.findall(r"Exchange (hash|range|single)", plan)),
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "python": bool(re.search(r"ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas", plan)),
        # codegen'd operators carry a "*(n)" stage prefix in toString()
        "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "global_windows": count_global_windows(plan),
        # shared-subtree materialization (round-12 VERDICT item 5):
        # a subtree feeding two consumers either shows ReusedExchange /
        # ReusedSubquery / InMemoryTableScan here, or was cut by a
        # localCheckpoint (Scan ExistingRDD) — otherwise it runs TWICE.
        "reused_exchange": len(re.findall(r"ReusedExchange", plan)),
        "reused_subquery": len(re.findall(r"ReusedSubquery", plan)),
        "inmemory": len(re.findall(r"InMemoryTableScan", plan)),
        "rdd_scan": len(re.findall(r"Scan ExistingRDD", plan)),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="0.001")
    ap.add_argument("--only", default=None)
    args = ap.parse_args()
    sf_dir = f"/root/testdata/sf{args.sf}"
    spark = get_spark("plan-audit")
    names = args.only.split(",") if args.only else list(workloads.ALL_QUERIES)
    bad = []
    for name in names:
        try:
            df = workloads.ALL_QUERIES[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ERROR {type(e).__name__}: {e}"[:200])
            bad.append(name)
            continue
        a = audit(name, plan)
        flags = []
        if a["python"] and name not in PYTHON_OK:
            flags.append("UNSANCTIONED-PYTHON")
        if a["global_windows"] and name not in GLOBAL_WINDOW_OK:
            flags.append("UNBOUNDED-GLOBAL-WINDOW")
        if flags:  # once per query, however many checks it fails
            bad.append(name)
        reuse = (
            f" reuse=ex:{a['reused_exchange']},sub:{a['reused_subquery']},"
            f"mem:{a['inmemory']},ckpt:{a['rdd_scan']}"
            if (
                a["reused_exchange"] or a["reused_subquery"]
                or a["inmemory"] or a["rdd_scan"]
            )
            else ""
        )
        print(
            f"{name}: bhj={a['bhj']} smj={a['smj']} shj={a['shj']} "
            f"exchanges={a['exchange']} pushed_filters={a['pushed']} "
            f"codegen_spans={a['codegen']}" + reuse
            + (" python-stage" if a["python"] else "")
            + (
                f" global_windows={a['global_windows']}(ok: "
                f"{GLOBAL_WINDOW_OK[name]})"
                if a["global_windows"] and name in GLOBAL_WINDOW_OK
                else ""
            )
            + (" " + ",".join(flags) if flags else "")
        )
    print(f"\n{len(names) - len(bad)}/{len(names)} clean")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
