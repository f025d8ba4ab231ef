"""Iterative graph computation: PageRank and personalized PageRank.

Capability parity with the reference's assignment 4 (SURVEY.md §2.6):

- PageRank            reference: basic/RunPageRankBasic.java — per
  iteration two chained MR jobs + driver-side scalar fix-up through
  HDFS side files, in log-space floats.
- Personalized PR     reference: RunPersonalizedPageRankBasic.java —
  rank generalized to a vector of masses, one slot per source; jump
  mass goes only to each slot's source node.
- Top-k extraction    reference: FindMaxPageRankNodes.java /
  ExtractTopPersonalizedPageRankNodes.java.

Pinned semantics (validated against a NumPy power-iteration oracle in
tests, mirroring the reference's JUNG sequential checks):

- init: pr = 1/N (PPR: 1.0 at the source slot, 0 elsewhere).
- each node with outdegree d > 0 sends pr/d to every out-neighbor;
  mass addressed to a node id with no row of its own VANISHES
  (RunPageRankBasic.java:288-296 — inner-join semantics).
- missing mass m = 1 - Σ(received); basic PR spreads m uniformly,
  PPR gives it all to the slot's source (RunPersonalizedPageRank
  Basic.java:316-336).
- basic:      pr' = α/N + (1-α)·(recv + m/N)
- PPR source: pr' = α + (1-α)·(recv + m);  non-source: (1-α)·recv
- arithmetic in linear-space doubles (the reference's log-space floats
  are an underflow workaround, not a semantic; doubles match the
  oracle to ~1e-12).

Scale design: the graph structure (id, adj, outdeg) is hash-partitioned
on id once, cached, and reused every iteration — the Spark analogue of
the reference's NonSplitableSequenceFileInputFormat partition-stability
trick (RunPageRankBasic.java:464-478,491). Per-iteration state is one
slim (id, pr) DataFrame; the driver-side "side file" aggregation
becomes an ``observe`` metric on the round's materialization.

Every iterative operator here (pagerank, personalized_pagerank, hits,
the BFS frontier under bfs_distances and harmonic_centrality, kcore,
lpa_communities) runs its rounds through ``operators.fixpoint``: one
eager checkpoint per round — localCheckpoint by default, reliable
HDFS/S3 checkpoints when ``checkpoint_dir`` is passed — that cuts the
lineage and resolves the round's driver-side scalars in the same
action. The PageRank family's dials (shuffle partitions aligned with
the cached structure, AQE off on small graphs) apply in a child
session, never on the caller's.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.window import Window

from .fixpoint import fixpoint, materialize

__all__ = [
    "pagerank",
    "personalized_pagerank",
    "top_k_nodes",
    "top_k_per_source",
    "format_rank_report",
    "degree_histogram",
    "triangle_count",
    "kcore",
    "hits",
    "bfs_distances",
    "clustering_coefficient",
    "link_prediction",
    "degree_assortativity",
    "harmonic_centrality",
    "lpa_communities",
]

_AQE_MIN_NODES = 100_000


def _loop_confs(n: int, parts: int) -> dict[str, str]:
    """The private dials of a PageRank-family loop: (a) shuffle
    partitions aligned with the loop's ``num_partitions`` — otherwise
    the scatter groupBy and gather join shuffle through the session
    default (e.g. 32) while the cached structure sits on
    ``num_partitions``, adding a re-exchange to EVERY iteration
    (aligning them halved iteration latency at 15k nodes, measured);
    (b) AQE off below _AQE_MIN_NODES nodes: its per-stage re-planning
    adds 20-40% latency (measured), and its skew splits and coalescing
    cannot help micro-stages."""
    confs = {"spark.sql.shuffle.partitions": str(parts)}
    if n < _AQE_MIN_NODES:
        confs["spark.sql.adaptive.enabled"] = "false"
    return confs


def _prepared_structure(
    graph: DataFrame, num_partitions: int | None
) -> tuple[DataFrame, int]:
    parts = num_partitions or graph.sparkSession.sparkContext.defaultParallelism
    links = (
        graph.select("id", "adj", F.size("adj").alias("outdeg"))
        .repartition(parts, "id")
        .cache()
    )
    return links, parts


def pagerank(
    graph: DataFrame,
    n_iter: int = 10,
    alpha: float = 0.15,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    residuals: list | None = None,
) -> DataFrame:
    """10-ish iteration PageRank over ``graph(id INT, adj ARRAY<INT>)``.

    Returns ``(id, pr)`` with Σpr = 1 (±1e-9) after every iteration.

    Pass ``residuals=[]`` to collect the per-iteration L1 delta
    ``Σ|pr_i - pr_{i-1}|`` (the convergence-monitoring signal). Each
    iteration's delta rides the NEXT iteration's state materialization
    as a second observe metric, and the last one rides one extra
    materialization of the final ranks. The default path is unchanged
    when the parameter is omitted.

    The rounds run under private dials (:func:`_loop_confs`).
    """
    links, parts = _prepared_structure(graph, num_partitions)
    n = links.count()  # also materializes the cached structure
    if n == 0:
        return graph.sparkSession.createDataFrame([], "id int, pr double")
    track = residuals is not None
    resid = F.sum(F.abs(F.col("pr") - F.col("prev"))).alias("resid")

    def ranks_of(state: DataFrame, m: dict) -> DataFrame:
        """The ranks a round's state and its received-mass total give;
        before the first round, the initial ranks themselves."""
        if not m:
            return state
        missing = 1.0 - (m["total"] or 0.0)
        new_pr = F.lit(alpha / n) + F.lit(1.0 - alpha) * (
            F.col("recv") + F.lit(missing / n)
        )
        # tracking carries the round's input pr forward, so the next
        # materialization can observe the delta
        carry = [F.col("pr").alias("prev")] if track else []
        return state.select("id", new_pr.alias("pr"), *carry)

    def step(state: DataFrame, m: dict, i: int):
        if track and "resid" in m:
            residuals.append(m["resid"])
        ranks = ranks_of(state, m)
        if i == n_iter:  # tracking only: the last delta rides the final ranks
            return ranks, [resid]
        contribs = (
            ranks.join(links, "id")
            .where(F.col("outdeg") > 0)
            .select(
                F.explode("adj").alias("id"),
                (F.col("pr") / F.col("outdeg")).alias("m"),
            )
        )
        # inner-join semantics: mass sent to ids without a row
        # vanishes into the missing mass (reference :288-296).
        recv = contribs.groupBy("id").agg(F.sum("m").alias("recv"))
        # the received-mass total rides the state materialization as an
        # observe metric: ONE pass computes the state AND the scalar the
        # driver needs — the reference needed a second job plus an HDFS
        # side file for this (RunPageRankBasic.java:304-318).
        got = F.coalesce("recv", F.lit(0.0)).alias("recv")
        total = F.sum("recv").alias("total")
        if not track:
            return links.select("id").join(recv, "id", "left").select("id", got), [total]
        # tracking: the state keeps the round's (pr, prev), so iteration
        # i-1's residual rides THIS materialization. Its ulp drift from
        # the sum order is absorbed by the consumer's round-6.
        state = ranks.join(recv, "id", "left").select(*ranks.columns, got)
        return state, ([total, resid] if i > 0 else [total])

    state, m = fixpoint(
        links.select("id", F.lit(1.0 / n).alias("pr")),
        step,
        n_iter + 1 if track and n_iter > 0 else n_iter,
        dials=_loop_confs(n, parts),
        checkpoint_dir=checkpoint_dir,
    )
    links.unpersist()
    if not track:
        return ranks_of(state, m)
    if "resid" in m:
        residuals.append(m["resid"])
    return state.select("id", "pr")


def personalized_pagerank(
    graph: DataFrame,
    sources: list[int],
    n_iter: int = 10,
    alpha: float = 0.15,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Multi-source personalized PageRank.

    Returns the flattened ``(source INT, id INT, pr DOUBLE)`` — one
    rank distribution per source. Internally each source is one column
    (the reference packs them into a float array per node,
    PersonalizedPageRankNode.java:37-52; columns let Catalyst treat
    each slot as an independent aggregate with a single shuffle).

    The rounds run under :func:`pagerank`'s private dials.
    """
    if not sources:
        raise ValueError("personalized_pagerank requires >=1 source node")
    links, parts = _prepared_structure(graph, num_partitions)
    n = links.count()

    cols = [f"pr_{k}" for k in range(len(sources))]

    def ranks_of(state: DataFrame, m: dict) -> DataFrame:
        if not m:
            return state
        return state.select(
            "id",
            *[
                F.when(
                    F.col("id") == F.lit(src),
                    F.lit(alpha)
                    + F.lit(1.0 - alpha) * (F.col(c) + F.lit(1.0 - (m[c] or 0.0))),
                )
                .otherwise(F.lit(1.0 - alpha) * F.col(c))
                .alias(c)
                for c, src in zip(cols, sources)
            ],
        )

    def step(state: DataFrame, m: dict, i: int):
        contribs = (
            ranks_of(state, m)
            .join(links, "id")
            .where(F.col("outdeg") > 0)
            .select(
                F.explode("adj").alias("id"),
                *[(F.col(c) / F.col("outdeg")).alias(c) for c in cols],
            )
        )
        recv = contribs.groupBy("id").agg(*[F.sum(c).alias(c) for c in cols])
        # all per-source totals ride the state materialization as one
        # observe metric set (see the basic pagerank loop).
        return (
            links.select("id")
            .join(recv, "id", "left")
            .select("id", *[F.coalesce(c, F.lit(0.0)).alias(c) for c in cols]),
            [F.sum(c).alias(c) for c in cols],
        )

    init = links.select(
        "id",
        *[
            F.when(F.col("id") == F.lit(src), 1.0).otherwise(0.0).alias(c)
            for c, src in zip(cols, sources)
        ],
    )
    state, m = fixpoint(
        init, step, n_iter, dials=_loop_confs(n, parts), checkpoint_dir=checkpoint_dir
    )
    links.unpersist()
    ranks = ranks_of(state, m)

    # flatten to (source, id, pr)
    slot_structs = F.array(
        *[
            F.struct(F.lit(src).alias("source"), F.col(c).alias("pr"))
            for c, src in zip(cols, sources)
        ]
    )
    # outer: length-len(sources) literal array, never empty — avoids
    # the inferred size()>0 filter re-evaluating the slot construction
    # (see operators/text.py note on InferFiltersFromGenerate).
    return ranks.select("id", F.explode_outer(slot_structs).alias("s")).select(
        F.col("s.source").alias("source"), "id", F.col("s.pr").alias("pr")
    )


def top_k_nodes(ranks: DataFrame, k: int = 10) -> DataFrame:
    """Top-k nodes by rank ``(rank, id, pr)``.

    The reference needs bounded priority queues in map and reduce
    cleanup plus a single-reducer merge (FindMaxPageRankNodes.java
    :52-114,173); Spark's TakeOrderedAndProject does the same two-phase
    top-k automatically from ``orderBy().limit()``.
    """
    # limit(k) first so the row_number window only sees k rows on one
    # partition — TakeOrderedAndProject does the distributed top-k.
    # bounded-input: the k rows of the limit below
    w = Window.orderBy(F.desc("pr"), F.asc("id"))
    return (
        ranks.orderBy(F.desc("pr"), F.asc("id"))
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
        .select("rank", "id", "pr")
    )


def top_k_per_source(ranks: DataFrame, k: int = 10) -> DataFrame:
    """Top-k nodes per PPR source: ``(source, rank, id, pr)``.

    The reference runs one bounded priority queue per source slot and
    prints each source's block (ExtractTopPersonalizedPageRankNodes
    .java:74-117); here it is a single windowed ranking partitioned by
    source — one shuffle on ``source`` (tiny: #sources × #nodes rows,
    with the per-partition TopK pushed into the sort).
    """
    w = Window.partitionBy("source").orderBy(F.desc("pr"), F.asc("id"))
    return (
        ranks.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("source", "rank", "id", "pr")
    )


def format_rank_report(topk: DataFrame, pr_col: str = "pr") -> DataFrame:
    """Replace ``pr`` with the reference's ``%.5f`` report rendering
    (ExtractTopPersonalizedPageRankNodes.java:112) → string column
    ``pr_fmt``; all other columns pass through unchanged."""
    others = [c for c in topk.columns if c != pr_col]
    return topk.select(
        *others, F.format_string("%.5f", F.col(pr_col)).alias("pr_fmt")
    )


def _undirected_edges(nodes: DataFrame) -> DataFrame:
    """Adjacency table → canonical undirected edge set ``(a, b)`` with
    a < b, self-loops dropped, both orientations collapsed."""
    e = nodes.select(F.col("id").alias("src"), F.explode_outer("adj").alias("dst")).where(
        F.col("dst").isNotNull() & (F.col("src") != F.col("dst"))
    )
    return e.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()


def _symmetrized(edges: DataFrame) -> DataFrame:
    """Both orientations ``(id, nbr)`` of a canonical edge set."""
    return edges.select(F.col("a").alias("id"), F.col("b").alias("nbr")).unionAll(
        edges.select(F.col("b").alias("id"), F.col("a").alias("nbr"))
    )


def _degrees(edges: DataFrame, name: str) -> DataFrame:
    """``(id, name)``: every endpoint's degree in a canonical edge set."""
    return _symmetrized(edges).groupBy("id").agg(F.count("*").alias(name))


def degree_histogram(nodes: DataFrame) -> DataFrame:
    """Undirected degree distribution ``(degree, n_nodes)`` — the
    first thing anyone plots about a graph. Degrees are counted over
    the canonical undirected edge set (both endpoints), so a node's
    degree is its number of distinct neighbors regardless of edge
    direction or duplication in the adjacency lists; zero-degree
    (isolated) nodes do not appear. Two partial aggregations; no
    joins."""
    edges = _undirected_edges(nodes)
    deg = _degrees(edges, "degree")
    return deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))


def triangle_count(nodes: DataFrame) -> DataFrame:
    """Global triangle count of the undirected graph → one row
    ``(n_triangles LONG)``.

    Degree-ordered orientation (the MapReduce-classic algorithm,
    Suri & Vassilvitskii "Counting Triangles and the Curse of the
    Last Reducer", WWW'11 — public literature, not reference code):
    orient every canonical edge from the endpoint with smaller
    ``(degree, id)`` to the larger, so each node's OUT-degree is
    O(sqrt(m)); build wedges by self-joining oriented edges on their
    source and counting the wedge closed iff its two tips are
    themselves an oriented edge. Every triangle is counted exactly
    once — at its lowest-(degree, id) corner.

    Scale shape: the orientation caps the wedge join's blowup at
    Σ out_deg² ≤ O(m^1.5) regardless of skew — a star graph's hub
    generates ZERO wedges because every hub edge points INTO the hub
    (the "curse of the last reducer" this algorithm exists to kill).
    All three joins are equi-joins on node/edge keys (shuffle-
    partitioned, AQE-friendly); nothing is broadcast by construction
    because the edge set is unbounded.

    Both ``edges`` and the oriented set ``e`` are materialized with
    ``localCheckpoint`` before reuse: ``edges`` feeds the degree
    count, both orientation joins, and the closure probe, and ``e``
    feeds both sides of the wedge self-join — without the checkpoint
    Spark re-derives the adjacency explode ~5x (at 100 TB that is
    five redundant full scans of the graph table).
    """
    edges = _undirected_edges(nodes).localCheckpoint(eager=True)
    closed = _closed_wedges(edges)
    return closed.agg(F.count("*").alias("n_triangles"))


def _oriented_edges(edges: DataFrame) -> DataFrame:
    """Degree-ordered orientation of a canonical undirected edge set:
    every edge points from its smaller ``(degree, id)`` endpoint to the
    larger, capping per-node out-degree at O(sqrt(m)) (Suri &
    Vassilvitskii, WWW'11). Checkpointed — callers self-join it."""
    deg = _degrees(edges, "deg")
    return (
        edges.join(deg.withColumnRenamed("id", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("id", "b").withColumnRenamed("deg", "db"), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select(F.col("e.u").alias("u"), F.col("e.v").alias("v"))
        .localCheckpoint(eager=True)
    )


def _closed_wedges(edges: DataFrame) -> DataFrame:
    """Closed wedges ``(u, x, y)`` of the undirected graph — one row
    per triangle, anchored at its lowest-(degree, id) corner ``u``
    with ``x < y`` the other two corners."""
    e = _oriented_edges(edges)
    l, r = e.alias("l"), e.alias("r")
    wedges = (
        l.join(r, F.col("l.u") == F.col("r.u"))
        .where(F.col("l.v") < F.col("r.v"))
        .select(F.col("l.u").alias("u"), F.col("l.v").alias("x"), F.col("r.v").alias("y"))
    )
    # a wedge (x, y) closes iff (x,y) or (y,x) is an oriented edge; the
    # canonical undirected set is cheaper to probe and equivalent
    return wedges.join(
        edges,
        (F.least("x", "y") == F.col("a")) & (F.greatest("x", "y") == F.col("b")),
        "left_semi",
    )


def clustering_coefficient(nodes: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient of the undirected graph:
    ``(id, degree, triangles, coeff)`` where ``coeff =
    2·triangles / (degree·(degree-1))`` — the fraction of a node's
    neighbor pairs that are themselves adjacent (Watts & Strogatz's
    local coefficient; public literature). Degree-1 nodes get 0.0.

    Per-node triangle counts fall out of the SAME degree-ordered
    closed-wedge construction as :func:`triangle_count`: each closed
    wedge is one triangle, which credits all three of its corners —
    an explode + hash aggregation, no extra joins. The wedge join's
    blowup stays capped at O(m^1.5) by the orientation, so the whole
    per-node report costs the global count plus one node-sized
    aggregation — the 100 TB plan is identical to triangle_count's.
    """
    edges = _undirected_edges(nodes).localCheckpoint(eager=True)
    deg = _degrees(edges, "degree")
    tri = (
        _closed_wedges(edges)
        .select(F.explode(F.array("u", "x", "y")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("triangles"))
    )
    return deg.join(tri, "id", "left").select(
        "id",
        "degree",
        F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
        F.round(
            F.when(
                F.col("degree") >= 2,
                F.lit(2.0)
                * F.coalesce(F.col("triangles"), F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("coeff"),
    )


def hits(
    nodes: DataFrame, n_iter: int = 8, num_partitions: int | None = None
) -> DataFrame:
    """HITS hubs-and-authorities over the DIRECTED adjacency graph
    (Kleinberg, JACM'99 — public literature): returns ``(id, auth,
    hub)`` after ``n_iter`` mutual-reinforcement rounds. Authority
    mass flows along edges (a node is a good authority when good hubs
    point at it); hub mass flows against them.

    Each round rescales by the MAXIMUM score instead of the customary
    L1/L2 norm: max of doubles is bit-exact regardless of aggregation
    order, so the only cross-engine float drift left is the per-node
    incoming sums themselves (ulps — the same class the pagerank
    oracle already absorbs with round-before-rank), whereas dividing
    by a global SUM would inject the engines' differing reduction
    orders into every score every round. Scaling choice cannot affect
    the ranking — power iteration is direction-only.

    Scale shape: each half-round (scatter hub mass along edges and
    gather, then the reverse) is one ``fixpoint`` round under
    :func:`pagerank`'s private dials: the slim ``(id, auth, hub)`` state
    is checkpointed with the fresh column's maximum observed in the
    same action, and the next half-round rescales by a literal divide.
    """
    parts = num_partitions or nodes.sparkSession.sparkContext.defaultParallelism
    edges = (
        nodes.select(F.col("id").alias("src"), F.explode("adj").alias("dst"))
        .where(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    init, m0 = materialize(
        nodes.select("id", F.lit(0.0).alias("auth"), F.lit(1.0).alias("hub")),
        F.count(F.lit(1)).alias("n"),
    )

    def rescaled(state: DataFrame, m: dict, col: str) -> DataFrame:
        """``state`` with ``col`` divided by its observed maximum."""
        scaled = (F.col(col) / F.lit(m["m"])) if m.get("m") else F.lit(0.0)
        return state.withColumn(col, scaled)

    def step(state: DataFrame, m: dict, i: int):
        """Half-round ``i``: even rounds gather authority from hubs
        along (src -> dst), odd rounds hub from authorities against
        them; nodes that receive nothing get 0."""
        if i % 2 == 0:
            src, dst, frm, to = "src", "dst", "hub", "auth"
        else:
            src, dst, frm, to = "dst", "src", "auth", "hub"
        if i > 0:
            state = rescaled(state, m, frm)
        raw = (
            edges.join(state.select(F.col("id").alias(src), frm), src)
            .groupBy(F.col(dst).alias("id"))
            .agg(F.sum(frm).alias("raw"))
        )
        nxt = state.join(raw, "id", "left").withColumn(to, F.coalesce("raw", F.lit(0.0)))
        return nxt.select("id", "auth", "hub"), [F.max(to).alias("m")]

    state, m = fixpoint(init, step, 2 * n_iter, dials=_loop_confs(m0["n"], parts))
    return rescaled(state, m, "hub") if n_iter > 0 else state


def bfs_distances(nodes: DataFrame, sources: list[int], max_hops: int = 10) -> DataFrame:
    """Multi-source breadth-first hop distances over the undirected
    graph: ``(id, dist)`` for every node reachable from any source
    within ``max_hops`` (dist = hops to the NEAREST source; sources
    themselves are dist 0). Unreachable nodes are absent — the
    standard frontier contract.

    Level-synchronous frontier expansion, all-integer (so
    cross-engine parity is exact, no float drift to manage): see
    :func:`_frontier`.
    """
    return _frontier(nodes, [(s, 0) for s in sources], max_hops).select("id", "dist")


def _frontier(nodes: DataFrame, seeds: list[tuple[int, int]], max_hops: int) -> DataFrame:
    """BFS over the undirected graph from ``seeds`` ``(id, source)``:
    ``(id, source, dist)`` for every node within ``max_hops`` of its
    ``source`` group, at the hop count of the nearest seed in that
    group. One loop serves every group, so a multi-probe caller
    (harmonic_centrality) runs ONE frontier of at most ``max_hops``
    rounds instead of one BFS per probe.

    Each hop is one ``fixpoint`` round: an inner join scatters the
    frontier (the last hop's rows) to its neighbors, a distinct
    collapses fan-in, and an anti-join against the settled set keeps
    only first-time visits — each a key-partitioned hash join. The
    settled set plus the new hop is the round's state, so the hop's
    row count (an exact integer) rides its checkpoint, and the loop
    stops at the first empty hop. At 100 TB each hop touches only
    frontier-adjacent edges — the textbook Pregel BFS cost model."""
    nbrs = _symmetrized(_undirected_edges(nodes).localCheckpoint(eager=True))

    def step(dist: DataFrame, m: dict, i: int):
        frontier = dist.where(F.col("dist") == i).select("id", "source")
        nxt = (
            frontier.join(nbrs, "id")
            .select(F.col("nbr").alias("id"), "source")
            .distinct()
            .join(dist, ["id", "source"], "left_anti")
            .select("id", "source", F.lit(i + 1).alias("dist"))
        )
        return dist.unionAll(nxt), [F.count_if(F.col("dist") == i + 1).alias("n")]

    # built in the JVM: a createDataFrame frame is a Python RDD, which
    # round 0 would run once per scan of the state (three)
    seed_rows = F.array(*[F.struct(F.lit(int(s)), F.lit(k), F.lit(0)) for s, k in seeds])
    init = nodes.sparkSession.range(1).select(
        F.inline(seed_rows.cast("array<struct<id:int,source:int,dist:int>>"))
    )
    dist, _ = fixpoint(init, step, max_hops, until=lambda _, m: m["n"] == 0)
    return dist


def link_prediction(
    nodes: DataFrame, k: int = 20, max_degree: int = 64
) -> DataFrame:
    """Common-neighbor link prediction over the undirected graph: the
    top-``k`` NON-adjacent node pairs ranked by Jaccard overlap of
    their neighborhoods — ``(a, b, common_neighbors, jaccard)`` with
    ``jaccard = cn / (deg(a) + deg(b) - cn)`` (Liben-Nowell &
    Kleinberg's link-prediction baselines; public literature).

    Candidate pairs are generated through shared MIDDLE nodes (two
    nodes can only share a neighbor if some node lists both), so the
    blowup is Σ deg(mid)² — the same quadratic hazard as shingle-based
    dedup, and capped the same way: middle nodes with degree >
    ``max_degree`` are excluded from wedge generation (a celebrity
    hub's neighbor pairs say nothing about affinity anyway — the exact
    analogue of the hot-shingle df-cap in
    :func:`~..operators.dedup.ngram_jaccard_pairs`). Counts are
    therefore "common neighbors of degree <= cap"; the Jaccard
    denominator keeps TRUE degrees. Everything is an equi-join on node
    ids; the adjacency anti-join removes existing edges; ranking is
    integer-exact, and ties break on (a, b) so the limit is
    deterministic across engines.
    """
    edges = _undirected_edges(nodes).localCheckpoint(eager=True)
    nbrs = _symmetrized(edges)
    # deg feeds THREE consumers (the cap filter and both endpoint
    # annotations) — checkpoint it once or the degree shuffle runs
    # three times (the triangle_count lesson)
    deg = _degrees(edges, "degree").localCheckpoint(eager=True)
    mids = deg.where(F.col("degree") <= max_degree).select("id")
    nb = nbrs.join(mids, "id", "left_semi")
    l, r = nb.alias("l"), nb.alias("r")
    pairs = (
        l.join(r, F.col("l.id") == F.col("r.id"))
        .where(F.col("l.nbr") < F.col("r.nbr"))
        .groupBy(F.col("l.nbr").alias("a"), F.col("r.nbr").alias("b"))
        .agg(F.count("*").alias("common_neighbors"))
    )
    cand = pairs.join(edges, ["a", "b"], "left_anti")
    da = deg.select(F.col("id").alias("a"), F.col("degree").alias("da"))
    db = deg.select(F.col("id").alias("b"), F.col("degree").alias("db"))
    return (
        cand.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "common_neighbors",
            F.round(
                F.col("common_neighbors")
                / (F.col("da") + F.col("db") - F.col("common_neighbors")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), F.asc("a"), F.asc("b"))
        .limit(k)
    )


def kcore(nodes: DataFrame, k: int, max_iter: int = 50) -> DataFrame:
    """The k-core of the undirected graph — the maximal induced
    subgraph where every node has degree >= k (Seidman's cores;
    standard graph-mining / community-scaffold primitive, public
    literature). Returns ``(id, core_degree)``: each surviving node
    with its degree INSIDE the core.

    Iterative peeling: repeatedly delete every node whose degree in
    the current induced subgraph is below ``k`` — all at once per
    round, which is what makes the fixpoint independent of deletion
    order (and therefore engine-reproducible). Terminates at the
    first round that deletes nothing.

    Scale shape: each round is one degree aggregation plus two
    semi-joins restricting the edge set — all key-partitioned
    equi-joins; the edge set only ever SHRINKS, so round cost is
    monotonically decreasing. Each round is one ``fixpoint`` round:
    the surviving-edge count (an exact integer, for the convergence
    test — same discipline as pagerank's dangling mass) rides the
    round's checkpoint. Rounds needed = the graph's degeneracy ordering
    depth, typically tens even on web graphs; ``max_iter`` bounds the
    pathological chain-graph case, with a warning when it cuts the
    peeling short.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    n = F.count(F.lit(1)).alias("n")
    edges, m0 = materialize(_undirected_edges(nodes), n)

    def step(edges: DataFrame, m: dict, i: int):
        keep = _degrees(edges, "d").where(F.col("d") >= k).select("id")
        pruned = (
            edges.join(keep.withColumnRenamed("id", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("id", "b"), "b", "left_semi")
            .select("a", "b")
        )
        return pruned, [n]

    edges, _ = fixpoint(
        edges,
        step,
        max_iter,
        metrics=m0,
        # fixpoint: nothing peeled this round (or nothing left)
        until=lambda prev, m: m["n"] in (0, prev["n"]),
        cap_warning=f"kcore hit max_iter={max_iter} before its fixpoint; "
        "the core is only partly peeled",
    )
    return _degrees(edges, "core_degree").where(F.col("core_degree") >= k)


def lpa_communities(nodes: DataFrame, rounds: int = 4) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007, the
    near-linear community-detection baseline; public literature) made
    fully deterministic: labels start as node ids, and each round
    every node adopts the SMALLEST label among the most frequent
    labels of its neighbors — the min-tiebreak replaces the paper's
    random choice, so the fixed ``rounds``-step result is
    engine-reproducible (the same determinism substitution the
    deterministic sampling family uses). Returns the community
    rollup ``(label, n_nodes)`` over nodes with at least one edge.

    Scale shape per round: one (node, label) count aggregation over
    the symmetrized edge join and one per-node window max + min —
    all key-partitioned on node id, no global structure; each round is
    one ``fixpoint`` round, checkpointing the labels (the pagerank
    lineage discipline). Synchronous LPA on a fixed round budget is
    the standard cluster-scale formulation — asynchronous update order
    is inherently sequential and nondeterministic.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    edges = _undirected_edges(nodes).localCheckpoint(eager=True)
    sym = _symmetrized(edges)
    w = Window.partitionBy("id")

    def step(labels: DataFrame, m: dict, i: int):
        counted = (
            sym.join(labels.withColumnRenamed("id", "nbr"), "nbr")
            .groupBy("id", "label")
            .agg(F.count("*").alias("c"))
        )
        adopted = (
            counted.withColumn("mx", F.max("c").over(w))
            .where(F.col("c") == F.col("mx"))
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        return adopted, []

    init = sym.select("id").distinct().withColumn("label", F.col("id"))
    labels, _ = fixpoint(init, step, rounds)
    return labels.groupBy("label").agg(F.count("*").alias("n_nodes"))


def degree_assortativity(nodes: DataFrame) -> DataFrame:
    """Degree assortativity of the undirected graph — one row
    ``(n_edges, assortativity)``: the Pearson correlation of endpoint
    degrees over the symmetrized edge list (Newman, PRL'02). Positive
    means hubs attach to hubs; social graphs trend positive, web
    graphs negative.

    All five sufficient statistics (pair count, Σx, Σx², Σxy over the
    symmetrized pairs — symmetry makes the y-marginals equal the
    x-marginals) are INTEGER sums, so they are exact and
    engine-identical; only the final closed-form correlation is
    evaluated in doubles, term-for-term the same expression in the
    oracle. Regular graphs have zero degree variance — reported as
    0.0 rather than NaN.

    Scale shape: one degree aggregation, two key-partitioned joins to
    annotate endpoints, then a single global aggregate (map-side
    partial). Nothing quadratic, nothing skew-sensitive — the
    annotation join fans out 1:1.
    """
    edges = _undirected_edges(nodes).localCheckpoint(eager=True)
    deg = _degrees(edges, "deg")
    annotated = edges.join(
        deg.withColumnRenamed("id", "a").withColumnRenamed("deg", "da"), "a"
    ).join(deg.withColumnRenamed("id", "b").withColumnRenamed("deg", "db"), "b")
    sym = annotated.select(F.col("da").alias("x"), F.col("db").alias("y")).unionAll(
        annotated.select(F.col("db").alias("x"), F.col("da").alias("y"))
    )
    stats = sym.agg(
        F.count("*").alias("m"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    mean = F.col("sx") / F.col("m")
    var = F.col("sxx") / F.col("m") - mean * mean
    cov = F.col("sxy") / F.col("m") - mean * mean
    return stats.select(
        (F.col("m") / 2).cast("long").alias("n_edges"),
        F.round(
            F.when(var != 0.0, cov / var).otherwise(F.lit(0.0)), 6
        ).alias("assortativity"),
    )


def harmonic_centrality(
    nodes: DataFrame, sources: list[int], max_hops: int = 6, k: int = 25
) -> DataFrame:
    """Probe-based harmonic centrality: for every node, ``Σ over
    probe sources of 1/d(source, node)`` (unreached pairs contribute
    0 — harmonic centrality's defining advantage over closeness on
    disconnected graphs). Returns the top-``k`` nodes by the rounded
    estimate, id-ascending on ties — ``(rank, id, harmonic,
    n_reached)``.

    The probe-set formulation is the standard scale approximation
    (exact all-pairs harmonic is O(V·E)): accuracy grows with probe
    count. All probes share ONE frontier over ``(id, source, dist)``
    (:func:`_frontier`, one group per probe): at most ``max_hops``
    rounds whatever the probe count, over one shared symmetrized edge
    structure; the final combine is one aggregation over the distance
    table.
    """
    dist = _frontier(nodes, [(s, k) for k, s in enumerate(sources)], max_hops)
    scored = (
        dist.where(F.col("dist") > 0)
        .groupBy("id")
        .agg(
            F.round(F.sum(F.lit(1.0) / F.col("dist")), 6).alias("harmonic"),
            F.count("*").alias("n_reached"),
        )
    )
    # limit(k) BEFORE the rank window (the top_k_nodes idiom):
    # orderBy().limit() plans TakeOrderedAndProject — per-partition
    # heap + single k-row merge — so the single-partition row_number
    # sort only ever sees k rows. Ranking the full node set first
    # and filtering rank <= k after was the one data-sized global
    # window in the graph family (round-11 VERDICT item 6's audit
    # now fails on that shape).
    # bounded-input: the k rows of the limit below
    w = Window.orderBy(F.desc("harmonic"), F.asc("id"))
    return (
        scored.orderBy(F.desc("harmonic"), F.asc("id"))
        .limit(k)
        .select(
            F.row_number().over(w).cast("int").alias("rank"),
            "id",
            "harmonic",
            "n_reached",
        )
    )
