"""Plan-shape regression guards: the scale-critical physical-plan
properties that reviews keep checking by hand, asserted so they can't
silently regress. Bounds are deliberately loose (AQE may legitimately
vary strategies with data size)."""

from __future__ import annotations

import re

import pytest

from mapreduce_assignments_spark.operators.dedup import minhash_lsh_candidates
from mapreduce_assignments_spark.operators.text import cooccurrence, pmi, word_count
from mapreduce_assignments_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _exchanges(plan: str) -> int:
    return len(re.findall(r"Exchange (hash|range|single)", plan))


@pytest.fixture(scope="module")
def docs_table(spark):
    return load_table(spark, SF_DIR, "documents")


def test_word_count_single_shuffle(docs_table):
    assert _exchanges(_plan(word_count(docs_table))) == 1


def test_cooccurrence_single_shuffle_no_join(docs_table):
    plan = _plan(cooccurrence(docs_table, window=2))
    assert _exchanges(plan) == 1
    assert "Join" not in plan  # neighborhood scan is a narrow transform


def test_pmi_no_forced_broadcast_no_python(docs_table):
    plan = _plan(pmi(docs_table, min_cooccurrence=2))
    # two marginal joins + final agg; must stay <= 4 shuffles
    assert _exchanges(plan) <= 4
    assert "Python" not in plan


def test_lsh_banded_join_not_cartesian(docs_table):
    plan = _plan(minhash_lsh_candidates(docs_table, n=3, bands=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_no_python_in_text_pipeline(docs_table):
    for df in (word_count(docs_table), cooccurrence(docs_table)):
        assert "Python" not in _plan(df)


def test_forecast_revenue_pushes_filters_and_prunes_columns(spark):
    """TPC-H Q6 shape: all range predicates must reach the parquet
    scan as PushedFilters and the ReadSchema must carry only the four
    referenced columns — the 100 TB contract is that row groups
    outside the ship year never decompress."""
    from mapreduce_assignments_spark.operators.relational import forecast_revenue

    plan = _plan(forecast_revenue(load_table(spark, SF_DIR, "lineitem")))
    assert "GreaterThanOrEqual(l_shipda" in plan  # range pushed to scan
    assert "ReadSchema: struct<l_quantity:double,l_extendedprice:double," \
           "l_discount:double,l_shipdate" in plan  # 4 of 11 columns read
    assert _exchanges(plan) <= 1  # single scalar aggregate


def test_vocab_coverage_single_corpus_scan(docs_table):
    """round-6 VERDICT item 2: the per-k aggregate union re-executed
    the full tokenize+groupBy len(ks)+1 times. The rewrite
    localCheckpoints the term-count table (one corpus scan) and folds
    every k into ONE conditional-sum aggregate, so the final plan
    holds no parquet scan of the corpus and at most two exchanges
    (single-partition window + the total-tokens aggregate)."""
    from mapreduce_assignments_spark.operators.text_quality import vocab_coverage

    plan = _plan(vocab_coverage(docs_table, ks=(10, 100)))
    assert _exchanges(plan) <= 2
    assert "Scan parquet" not in plan  # corpus scanned once, at checkpoint time
    assert plan.count("HashAggregate") <= 4  # covered(1 agg) + total(1 agg), 2 phases each


def test_rrf_fusion_shares_tf_subplan(spark):
    """round-6 VERDICT item 3: bm25_scores and query_likelihood_scores
    each re-derived the (docid, term, tf) table from the corpus — 15
    exchanges, two tokenization passes. The fusion query now feeds
    both scorers one checkpointed tf table; the fused plan must carry
    no parquet scan and at most 8 exchanges."""
    from mapreduce_assignments_spark import workloads

    plan = _plan(workloads.index_retrieval.q_rrf_fusion(spark, SF_DIR))
    assert _exchanges(plan) <= 8
    assert "Scan parquet" not in plan  # corpus read once, at checkpoint time


def test_triangle_count_checkpoints_edge_derivation(spark):
    """round-5 VERDICT item 3: without localCheckpoint on ``edges``
    and the oriented set ``e``, the adjacency explode re-derives ~5x
    and the final plan carried 26 exchanges; checkpointed, the whole
    count is a handful of scan-side exchanges over the materialized
    edge sets. Bound is loose (AQE varies) but far below the
    regression's 26."""
    from mapreduce_assignments_spark.operators.graph import triangle_count

    df = spark.createDataFrame(
        [(1, [2, 3]), (2, [3]), (3, [4]), (4, [])],
        "id int, adj array<int>",
    )
    tri = triangle_count(df)
    assert _exchanges(_plan(tri)) <= 8
    [row] = tri.collect()
    assert row["n_triangles"] == 1


def test_customer_graph_broadcasts_bottom_keys(spark):
    """The graph builder must join the per-nation bottom-k key array
    back onto members (broadcast), NOT explode the full member list —
    the round-7 sf1 check measured the explode shape at ~3.6 GB of
    array copies (pagerank 48.5s vs 13.4s). Guard both properties: a
    broadcast join is present and no explode generator remains."""
    from mapreduce_assignments_spark.workloads.graph import (
        _customer_graph, _kcore_graph,
    )

    for builder in (_customer_graph, _kcore_graph):
        plan = _plan(builder(spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, builder.__name__
        assert "Generate explode" not in plan, builder.__name__


def test_record_linkage_fastss_no_quadratic_block_join(spark, monkeypatch):
    """record_linkage's candidate join must key on the deletion
    variant (plus block), never on the block alone — a block-only
    equi-join is quadratic in SF because nation cardinality is fixed.
    The deletion-variant explode appears exactly twice (both join
    sides); the id-array expansion's generators are not counted.

    The round-14 projection barriers (lazy localCheckpoints that keep
    the DP off the join condition and off the expansion's output
    rows) hide the candidate subtree behind a LogicalRDD leaf in the
    final plan — neutralize them here so the shape stays asserted."""
    # pyspark 4: the live class is the classic subclass, which
    # overrides the base ABC's method — patch the subclass
    from pyspark.sql.classic.dataframe import DataFrame

    from mapreduce_assignments_spark import workloads

    monkeypatch.setattr(
        DataFrame, "localCheckpoint", lambda self, eager=True: self
    )
    plan = _plan(workloads.ALL_QUERIES["record_linkage"](spark, SF_DIR))
    assert plan.count("Generate explode(array_distinct(") == 2
    assert "levenshtein" in plan  # bounded-DP verifier still in place


def test_dup_span_report_no_cartesian_no_python(docs_table):
    from mapreduce_assignments_spark.operators.dedup import dup_span_report

    plan = _plan(dup_span_report(docs_table, window=5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan


def test_dsir_bucket_lookup_is_broadcast(spark, docs_table):
    """The whole point of DSIR's fixed feature space: the per-bucket
    log-ratio table (<= n_buckets rows) must reach the per-doc counts
    as a broadcast, never a shuffled join."""
    import pyspark.sql.functions as F

    from mapreduce_assignments_spark.operators.sampling import dsir_weights

    plan = _plan(
        dsir_weights(
            docs_table, docs_table.where(F.col("source") == "src0"),
            n_buckets=128,
        )
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Python" not in plan


def test_record_linkage_barriers_present_in_real_plan(spark):
    """r14-ADVICE guard: the round-14 record_linkage perf wins depend
    on two lazy localCheckpoint barriers (the banded-DP verify sits
    ABOVE the candidate exchange; the expansion consumes verified
    pairs instead of re-running the DP per output row). The fastss
    shape tests monkeypatch localCheckpoint away to see through the
    barriers — so they alone would not catch a refactor that silently
    DROPS them. This asserts the real (unpatched) plan is rooted on a
    checkpoint leaf (a barrier-less refactor exposes the raw join tree
    and the count drops to 0). How many leaves are VISIBLE depends on
    session conf — the topmost barrier hides subtrees, and join
    planning under the fixture's 4 shuffle partitions differs from the
    engine default — so this guards presence, not an exact count."""
    from mapreduce_assignments_spark import workloads

    plan = _plan(workloads.ALL_QUERIES["record_linkage"](spark, SF_DIR))
    assert plan.count("Scan ExistingRDD") >= 1


def test_record_linkage_class_path_no_cartesian(spark, monkeypatch):
    """The plan stays equi-join shaped — no cartesian/BNLJ fallback —
    on unique names and on a replicated (repeated-name) input.
    Barriers neutralized as in the fastss shape test above, so the
    assertion covers the real join subtree, not a LogicalRDD leaf."""
    import pyspark.sql.functions as F
    from pyspark.sql.classic.dataframe import DataFrame

    from mapreduce_assignments_spark.operators.dedup import record_linkage_pairs

    monkeypatch.setattr(
        DataFrame, "localCheckpoint", lambda self, eager=True: self
    )
    cust = load_table(spark, SF_DIR, "customer")
    replicated = cust.unionByName(
        cust.withColumn("c_custkey", F.col("c_custkey") + 10_000_000)
    )
    for label, df in (("unique", cust), ("replicated", replicated)):
        plan = _plan(
            record_linkage_pairs(
                df, "c_custkey", "c_name", ["c_nationkey"], max_distance=2
            )
        )
        assert "CartesianProduct" not in plan, label
        assert "BroadcastNestedLoopJoin" not in plan, label
        assert "Python" not in plan, label


def test_global_window_detector_and_bounded_topk_plans(spark):
    """Round-11 VERDICT item 6: the unpartitioned-window claim is now
    auditable — tools/plan_audit.py counts Window nodes with an empty
    partition spec and fails on any query not justified in
    GLOBAL_WINDOW_OK. Pin the detector's plan-text parsing and the
    limit-first top-k idiom the fix rounds standardized on."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from plan_audit import GLOBAL_WINDOW_OK, count_global_windows

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    df = spark.range(100).select("id", (F.col("id") % 3).alias("k"))
    # global (unpartitioned) rank: detected
    g = df.select(F.row_number().over(Window.orderBy("id")).alias("rn"))
    assert count_global_windows(_plan(g)) == 1
    # partitioned rank: NOT flagged
    p = df.select(
        F.row_number().over(Window.partitionBy("k").orderBy("id")).alias("rn")
    )
    assert count_global_windows(_plan(p)) == 0
    # global unordered frame (share-of-total): detected
    s = df.select((F.col("id") / F.sum("id").over(Window.partitionBy())).alias("w"))
    assert count_global_windows(_plan(s)) == 1
    # the limit-first idiom keeps the window but bounds its input:
    # limit(k) must appear upstream of the Window in the plan
    from mapreduce_assignments_spark.operators.graph import top_k_nodes

    ranks = df.select("id", F.col("id").cast("double").alias("pr"))
    plan = _plan(top_k_nodes(ranks, k=5))
    assert count_global_windows(plan) == 1  # the window is there...
    assert "TakeOrderedAndProject" in plan  # ...fed by a k-row top-k
    # every allowlist entry names a real registered query
    from mapreduce_assignments_spark import workloads

    assert set(GLOBAL_WINDOW_OK) <= set(workloads.ALL_QUERIES)
