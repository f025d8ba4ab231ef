"""PageRank, PPR and the other graph queries over the customer
graph (the reference's assignment 4), with their unrolled oracles."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql.window import Window

from ..operators import dedup, graph
from ..sources.tables import load_table

ORACLE: dict[str, str] = {}


def _nation_bottom_keys(cust, n: int):
    """Per-nation array of the ``n`` lowest c_custkeys — the only keys
    any member's adjacency can reference. A windowed rank keeps the
    per-group state O(1) during the scan and the collected array at
    most ``n`` long, so the frame stays broadcast-sized no matter how
    many members a nation has (the old collect_list-of-ALL-members +
    explode carried the full member array once PER MEMBER: ~3.6 GB of
    array copies at sf1, the dominant cost of every graph query)."""
    from pyspark.sql import Window

    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    return (
        cust.select("c_nationkey", "c_custkey")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= n)
        .groupBy("c_nationkey")
        .agg(F.sort_array(F.collect_list("c_custkey")).alias("ms"))
    )


def _customer_graph(spark, sf_dir):
    """Deterministic graph over the customer table: each customer links
    to (up to) the 10 lowest-keyed OTHER customers of its nation.
    Adjacencies only ever reference a nation's 11 lowest keys, so the
    builder broadcast-joins that tiny per-nation array back onto the
    members instead of exploding the full member list."""
    cust = load_table(spark, sf_dir, "customer")
    bottom = _nation_bottom_keys(cust, 11)
    return cust.join(F.broadcast(bottom), "c_nationkey").select(
        F.col("c_custkey").cast("int").alias("id"),
        F.expr(
            "slice(filter(ms, m -> m != c_custkey), 1, 10)"
        ).cast("array<int>").alias("adj"),
    )


# iterative graph oracles: the 8-iteration power method, unrolled
# One CTE pair per iteration over the _customer_graph derivation. The
# per-step SQL mirrors operators.graph's update rule term-for-term —
# same literal placement and operation order — so the doubles agree to
# a few ulps and round(...,6) is engine-stable; ranking happens on the
# ROUNDED value (see q_pagerank) because each nation's 10 lowest-keyed
# members are mathematically tied. Reference semantics:
# RunPageRankBasic.java:337-348, RunPersonalizedPageRankBasic.java:316-336.
_GRAPH_CTES = """
nodes AS (
  SELECT CAST(unnest(ms) AS INTEGER) AS id, ms
  FROM (SELECT list_sort(list(c_custkey)) AS ms FROM customer GROUP BY c_nationkey)
),
g AS (
  SELECT id,
         list_transform(list_filter(ms, m -> m != id)[1:10],
                        m -> CAST(m AS INTEGER)) AS adj
  FROM nodes
),
nn AS (SELECT count(*) AS n FROM g),
edges AS (SELECT id AS src, len(adj) AS outdeg, unnest(adj) AS dst FROM g)
"""


def _pagerank_convergence_oracle_sql(n_iter: int = 8) -> str:
    """Per-iteration L1 residuals from the SAME unrolled update as the
    pagerank oracle — every pr{i} is MATERIALIZED because each is now
    referenced three times (next round + two deltas); inlining would
    re-expand the prefix exponentially (the kcore lesson)."""
    steps = [
        "pr0 AS MATERIALIZED (SELECT id, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS pr FROM g)"
    ]
    for i in range(1, n_iter + 1):
        steps.append(f"""
s{i} AS (
  SELECT g.id, coalesce(r.recv, CAST(0.0 AS DOUBLE)) AS recv
  FROM g LEFT JOIN (
    SELECT e.dst AS id, sum(p.pr / e.outdeg) AS recv
    FROM pr{i - 1} p JOIN edges e ON e.src = p.id
    GROUP BY e.dst) r ON r.id = g.id
),
t{i} AS (SELECT sum(recv) AS total FROM s{i}),
pr{i} AS MATERIALIZED (
  SELECT id, CAST(0.15 AS DOUBLE) / nn.n
           + CAST(0.85 AS DOUBLE)
             * (recv + (CAST(1.0 AS DOUBLE) - t.total) / nn.n) AS pr
  FROM s{i}, t{i} t, nn
)""")
    deltas = "\nUNION ALL\n".join(
        f"""SELECT {i} AS iter,
       round((SELECT sum(abs(a.pr - b.pr))
              FROM pr{i} a JOIN pr{i - 1} b ON b.id = a.id), 6) AS l1_delta"""
        for i in range(1, n_iter + 1)
    )
    return f"""
WITH {_GRAPH_CTES},
{",".join(steps)}
{deltas}
"""


def q_pagerank_convergence(spark, sf_dir):
    """Per-iteration L1 residual of the pagerank power iteration —
    the convergence-monitoring diagnostic; the oracle recomputes every
    delta from its unrolled per-iteration CTEs."""
    rs: list = []
    graph.pagerank(
        _customer_graph(spark, sf_dir), n_iter=8, num_partitions=8, residuals=rs
    )
    return spark.createDataFrame(
        [(i + 1, round(d, 6)) for i, d in enumerate(rs)], "iter int, l1_delta double"
    )


ORACLE["pagerank_convergence"] = _pagerank_convergence_oracle_sql()

# canonical undirected edge set over the same customer graph; degree
# and triangle oracles re-derive orientation exactly like the operator
_UNDIRECTED_CTES = f"""
{_GRAPH_CTES},
ue AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE dst IS NOT NULL AND src != dst
),
udeg AS (
  SELECT id, count(*) AS d
  FROM (SELECT a AS id FROM ue UNION ALL SELECT b AS id FROM ue)
  GROUP BY id
)
"""


def q_degree_assortativity(spark, sf_dir):
    """Degree-degree Pearson correlation of the customer graph —
    integer sufficient statistics, closed-form correlation replicated
    term-for-term in the oracle."""
    return graph.degree_assortativity(_customer_graph(spark, sf_dir))


ORACLE["degree_assortativity"] = f"""
WITH {_UNDIRECTED_CTES},
ann AS (
  SELECT da.d AS x, db.d AS y
  FROM ue JOIN udeg da ON da.id = ue.a JOIN udeg db ON db.id = ue.b
),
sym AS (SELECT x, y FROM ann UNION ALL SELECT y AS x, x AS y FROM ann),
s AS (
  SELECT count(*) AS m,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM sym
)
SELECT CAST(m / 2 AS BIGINT) AS n_edges,
       round(CASE WHEN (sxx / m - (sx / m) * (sx / m)) != 0.0
                  THEN (sxy / m - (sx / m) * (sx / m))
                       / (sxx / m - (sx / m) * (sx / m))
                  ELSE 0.0 END, 6) AS assortativity
FROM s
"""


def _kcore_graph(spark, sf_dir):
    """Variable-degree deterministic graph over the customer table:
    each customer links to its nation's ``id % 12`` lowest-keyed OTHER
    customers — heterogeneous degrees, so k-core peeling actually
    cascades (the uniform _customer_graph would peel all-or-nothing).
    Same broadcast-bottom-keys shape as _customer_graph (max degree 11
    → only the 12 lowest keys per nation matter)."""
    cust = load_table(spark, sf_dir, "customer")
    bottom = _nation_bottom_keys(cust, 12)
    return cust.join(F.broadcast(bottom), "c_nationkey").select(
        F.col("c_custkey").cast("int").alias("id"),
        F.expr(
            "slice(filter(ms, m -> m != c_custkey), 1, CAST(c_custkey % 12 AS INT))"
        ).cast("array<int>").alias("adj"),
    )


def _kcore_oracle_sql(k: int = 6, rounds: int = 16) -> str:
    """Unrolled simultaneous-peeling oracle over the variable-degree
    customer graph (id % 12 lowest-keyed same-nation others): each
    round recomputes induced degrees and keeps nodes with d >= k;
    rounds past the fixpoint are identities, so over-unrolling is
    harmless (same trick as the unrolled pagerank oracle)."""
    parts = [
        """vnodes AS (
  SELECT CAST(unnest(ms) AS INTEGER) AS id, ms
  FROM (SELECT list_sort(list(c_custkey)) AS ms FROM customer GROUP BY c_nationkey)
),
vg AS (
  SELECT id,
         list_transform(list_filter(ms, m -> m != id)[1:CAST(id % 12 AS BIGINT)],
                        m -> CAST(m AS INTEGER)) AS adj
  FROM vnodes
),
vedges AS (SELECT id AS src, unnest(adj) AS dst FROM vg),
e0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM vedges WHERE dst IS NOT NULL AND src != dst
)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""d{i} AS (
  SELECT id, count(*) AS d
  FROM (SELECT a AS id FROM e{i - 1} UNION ALL SELECT b FROM e{i - 1})
  GROUP BY id
),
k{i} AS (SELECT id FROM d{i} WHERE d >= {k}),
e{i} AS MATERIALIZED (
  -- MATERIALIZED: each round is referenced 3x by the next; inlined
  -- CTEs would re-expand the whole prefix exponentially (DuckDB ran
  -- out of file handles re-scanning the parquet 3^16 times)
  SELECT e.a, e.b FROM e{i - 1} e
  JOIN k{i} x ON x.id = e.a JOIN k{i} y ON y.id = e.b
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST(id AS INTEGER) AS id, count(*) AS core_degree
FROM (SELECT a AS id FROM e{rounds} UNION ALL SELECT b AS id FROM e{rounds})
GROUP BY id HAVING count(*) >= {k}"""
    )


def q_kcore(spark, sf_dir):
    """k-core (k=6) of the variable-degree customer graph via
    iterative simultaneous peeling; the oracle unrolls 16 peeling
    rounds in SQL (no-op rounds past the fixpoint are identities)."""
    return graph.kcore(_kcore_graph(spark, sf_dir), k=6)


ORACLE["kcore"] = _kcore_oracle_sql(6, 16)


def _pagerank_oracle_sql(n_iter: int = 8, k: int = 25) -> str:
    # s{i} is read twice (by t{i} and pr{i}); inlined, each round would
    # double the work below it (2^8 at 8 rounds, over a minute at
    # sf0.001). MATERIALIZED evaluates every round once.
    steps = [
        "pr0 AS (SELECT id, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS pr FROM g)"
    ]
    for i in range(1, n_iter + 1):
        steps.append(f"""
s{i} AS MATERIALIZED (
  SELECT g.id, coalesce(r.recv, CAST(0.0 AS DOUBLE)) AS recv
  FROM g LEFT JOIN (
    SELECT e.dst AS id, sum(p.pr / e.outdeg) AS recv
    FROM pr{i - 1} p JOIN edges e ON e.src = p.id
    GROUP BY e.dst) r ON r.id = g.id
),
t{i} AS (SELECT sum(recv) AS total FROM s{i}),
pr{i} AS MATERIALIZED (
  SELECT id, CAST(0.15 AS DOUBLE) / nn.n
           + CAST(0.85 AS DOUBLE)
             * (recv + (CAST(1.0 AS DOUBLE) - t.total) / nn.n) AS pr
  FROM s{i}, t{i} t, nn
)""")
    return f"""
WITH {_GRAPH_CTES},
{",".join(steps)}
SELECT CAST(row_number() OVER (ORDER BY pr DESC, id ASC) AS INTEGER) AS rank, id, pr
FROM (SELECT id, round(pr, 6) AS pr FROM pr{n_iter})
QUALIFY rank <= {k}
"""


def q_pagerank(spark, sf_dir):
    # partition count sized to the graph (thousands of nodes), not the
    # core count — iteration latency on a small graph is pure task-
    # scheduling overhead at 32 partitions (3x slower, measured).
    ranks = graph.pagerank(_customer_graph(spark, sf_dir), n_iter=8, num_partitions=8)
    # round BEFORE ranking: _customer_graph gives each nation's 10
    # lowest-keyed members mathematically identical pr (same in-link
    # structure), so ranking raw doubles would tie-break on float noise
    # that differs per engine; on the rounded value the id-asc
    # tiebreak is deterministic in Spark and DuckDB alike.
    rounded = ranks.select("id", F.round("pr", 6).alias("pr"))
    return graph.top_k_nodes(rounded, k=25)


ORACLE["pagerank"] = _pagerank_oracle_sql()


def q_degree_histogram(spark, sf_dir):
    return graph.degree_histogram(_customer_graph(spark, sf_dir))


ORACLE["degree_histogram"] = f"""
WITH {_UNDIRECTED_CTES}
SELECT d AS degree, count(*) AS n_nodes FROM udeg GROUP BY d
"""


def q_triangle_count(spark, sf_dir):
    return graph.triangle_count(_customer_graph(spark, sf_dir))


ORACLE["triangle_count"] = f"""
WITH {_UNDIRECTED_CTES},
oe AS (
  SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND ue.a < ue.b)
              THEN ue.a ELSE ue.b END AS u,
         CASE WHEN (da.d < db.d) OR (da.d = db.d AND ue.a < ue.b)
              THEN ue.b ELSE ue.a END AS v
  FROM ue JOIN udeg da ON da.id = ue.a JOIN udeg db ON db.id = ue.b
),
w AS (
  SELECT l.v AS x, r.v AS y FROM oe l JOIN oe r ON l.u = r.u WHERE l.v < r.v
)
SELECT count(*) AS n_triangles
FROM w JOIN ue ON ue.a = least(w.x, w.y) AND ue.b = greatest(w.x, w.y)
"""


def q_clustering_coefficient(spark, sf_dir):
    """Per-node local clustering coefficient — the same degree-ordered
    closed-wedge construction as triangle_count, credited to all three
    triangle corners; the oracle replays it corner-for-corner."""
    return graph.clustering_coefficient(_customer_graph(spark, sf_dir))


# Same oriented closed-wedge construction, but each triangle credits
# all three corners; coefficient arithmetic mirrors the operator
# term-for-term (2.0 * tri first, then the integer-product divisor).
ORACLE["clustering_coefficient"] = f"""
WITH {_UNDIRECTED_CTES},
oe AS (
  SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND ue.a < ue.b)
              THEN ue.a ELSE ue.b END AS u,
         CASE WHEN (da.d < db.d) OR (da.d = db.d AND ue.a < ue.b)
              THEN ue.b ELSE ue.a END AS v
  FROM ue JOIN udeg da ON da.id = ue.a JOIN udeg db ON db.id = ue.b
),
w AS (
  SELECT l.u AS u, l.v AS x, r.v AS y
  FROM oe l JOIN oe r ON l.u = r.u WHERE l.v < r.v
),
cw AS (
  SELECT w.u, w.x, w.y
  FROM w JOIN ue ON ue.a = least(w.x, w.y) AND ue.b = greatest(w.x, w.y)
),
tri AS (
  SELECT id, count(*) AS triangles
  FROM (SELECT u AS id FROM cw UNION ALL SELECT x FROM cw UNION ALL SELECT y FROM cw)
  GROUP BY id
)
SELECT CAST(d.id AS INTEGER) AS id, d.d AS degree, coalesce(t.triangles, 0) AS triangles,
       round(CASE WHEN d.d >= 2
                  THEN 2.0 * coalesce(t.triangles, 0) / (d.d * (d.d - 1))
                  ELSE 0.0 END, 6) AS coeff
FROM udeg d LEFT JOIN tri t ON t.id = d.id
"""


def _hits_oracle_sql(n_iter: int = 8, k: int = 25) -> str:
    """Unrolled HITS oracle over the _customer_graph derivation. Each
    half-round rescales by max() — bit-exact across engines regardless
    of aggregation order (the operator's normalization choice exists
    for exactly this reason); ranking happens on the ROUNDED authority
    with an id tiebreak, same as the pagerank oracle. Every per-round
    CTE is MATERIALIZED — the rescale references its input twice, and
    inlined CTEs would re-expand the whole prefix exponentially (the
    kcore lesson)."""
    steps = ["h0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS hub FROM g)"]
    for i in range(1, n_iter + 1):
        steps.append(f"""
ar{i} AS MATERIALIZED (
  SELECT g.id, coalesce(r.raw, CAST(0.0 AS DOUBLE)) AS araw
  FROM g LEFT JOIN (
    SELECT e.dst AS id, sum(h.hub) AS raw
    FROM h{i - 1} h JOIN edges e ON e.src = h.id
    GROUP BY e.dst) r ON r.id = g.id
),
a{i} AS MATERIALIZED (
  SELECT id, CASE WHEN m.m != 0 THEN araw / m.m
                  ELSE CAST(0.0 AS DOUBLE) END AS auth
  FROM ar{i}, (SELECT max(araw) AS m FROM ar{i}) m
),
hr{i} AS MATERIALIZED (
  SELECT g.id, coalesce(r.raw, CAST(0.0 AS DOUBLE)) AS hraw
  FROM g LEFT JOIN (
    SELECT e.src AS id, sum(a.auth) AS raw
    FROM a{i} a JOIN edges e ON e.dst = a.id
    GROUP BY e.src) r ON r.id = g.id
),
h{i} AS MATERIALIZED (
  SELECT id, CASE WHEN m.m != 0 THEN hraw / m.m
                  ELSE CAST(0.0 AS DOUBLE) END AS hub
  FROM hr{i}, (SELECT max(hraw) AS m FROM hr{i}) m
)""")
    return f"""
WITH {_GRAPH_CTES},
{",".join(steps)}
SELECT CAST(row_number() OVER (ORDER BY auth DESC, id ASC) AS INTEGER) AS rank,
       id, auth, hub
FROM (SELECT a.id, round(a.auth, 6) AS auth, round(h.hub, 6) AS hub
      FROM a{n_iter} a JOIN h{n_iter} h ON h.id = a.id)
QUALIFY rank <= {k}
"""


def q_hits(spark, sf_dir):
    """HITS top-25 authorities (with hub scores) after 8 max-rescaled
    mutual-reinforcement rounds; the oracle unrolls the identical
    update in SQL. Rounding happens BEFORE ranking — same exact-tie
    reasoning as q_pagerank (each nation's lowest-keyed members are
    mathematically tied)."""
    # partition count sized to the graph — same reasoning as q_pagerank
    scores = graph.hits(_customer_graph(spark, sf_dir), n_iter=8, num_partitions=8)
    rounded = scores.select(
        "id", F.round("auth", 6).alias("auth"), F.round("hub", 6).alias("hub")
    )
    # limit-first (top_k_nodes idiom): TakeOrderedAndProject bounds
    # the rank window's input to 25 rows — never a full-node sort
    # bounded-input: the 25 rows of the limit below
    w = Window.orderBy(F.desc("auth"), F.asc("id"))
    return (
        rounded.orderBy(F.desc("auth"), F.asc("id"))
        .limit(25)
        .select(
            F.row_number().over(w).cast("int").alias("rank"), "id", "auth", "hub"
        )
    )


ORACLE["hits"] = _hits_oracle_sql()


def _bfs_oracle_sql(rounds: int = 6) -> str:
    """Unrolled level-synchronous BFS from the 2 lowest custkeys over
    the undirected customer graph; rounds past the fixpoint add
    nothing (empty frontiers are identities), so over-unrolling is
    harmless. All-integer — no float parity concerns."""
    parts = [
        """nb AS (SELECT a AS id, b AS nbr FROM ue UNION ALL SELECT b, a FROM ue),
r0 AS MATERIALIZED (
  SELECT CAST(c_custkey AS INTEGER) AS id, 0 AS dist
  FROM customer ORDER BY c_custkey LIMIT 2
),
f0 AS (SELECT id FROM r0)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(f"""
n{i} AS MATERIALIZED (
  SELECT DISTINCT nb.nbr AS id
  FROM nb JOIN f{i - 1} f ON f.id = nb.id
  WHERE nb.nbr NOT IN (SELECT id FROM r{i - 1})
),
r{i} AS MATERIALIZED (
  SELECT * FROM r{i - 1} UNION ALL SELECT id, {i} AS dist FROM n{i}
),
f{i} AS (SELECT id FROM n{i})""")
    return f"""
WITH {_UNDIRECTED_CTES},
{",".join(parts)}
SELECT dist, count(*) AS n_nodes FROM r{rounds} GROUP BY dist
"""


def q_bfs_hops(spark, sf_dir):
    """Hop-distance histogram of a 2-source BFS (same two lowest
    custkeys as personalized_pagerank) — all-integer frontier
    expansion, so parity with the unrolled oracle is exact."""
    g = _customer_graph(spark, sf_dir)
    sources = [r["id"] for r in g.select("id").orderBy("id").limit(2).collect()]
    dist = graph.bfs_distances(g, sources=sources, max_hops=6)
    return dist.groupBy("dist").agg(F.count("*").alias("n_nodes"))


ORACLE["bfs_hops"] = _bfs_oracle_sql()


def q_link_prediction(spark, sf_dir):
    """Top-20 predicted links by neighborhood Jaccard over the
    customer graph, middle-node fan-out capped at degree 64 (the
    hot-shingle df-cap analogue; the oracle applies the same cap)."""
    return graph.link_prediction(_customer_graph(spark, sf_dir), k=20, max_degree=64)


ORACLE["link_prediction"] = f"""
WITH {_UNDIRECTED_CTES},
nb AS (SELECT a AS id, b AS nbr FROM ue UNION ALL SELECT b, a FROM ue),
mids AS (SELECT id FROM udeg WHERE d <= 64),
nb2 AS (SELECT nb.id, nb.nbr FROM nb JOIN mids m ON m.id = nb.id),
pairs AS (
  SELECT l.nbr AS a, r.nbr AS b, count(*) AS common_neighbors
  FROM nb2 l JOIN nb2 r ON l.id = r.id
  WHERE l.nbr < r.nbr
  GROUP BY l.nbr, r.nbr
),
cand AS (
  SELECT p.* FROM pairs p
  WHERE NOT EXISTS (SELECT 1 FROM ue WHERE ue.a = p.a AND ue.b = p.b)
)
SELECT CAST(c.a AS INTEGER) AS a, CAST(c.b AS INTEGER) AS b, c.common_neighbors,
       round(c.common_neighbors / (da.d + db.d - c.common_neighbors), 6) AS jaccard
FROM cand c JOIN udeg da ON da.id = c.a JOIN udeg db ON db.id = c.b
ORDER BY jaccard DESC, c.a ASC, c.b ASC
LIMIT 20
"""


def q_graph_components(spark, sf_dir):
    """Connected components over the customer graph via the SAME
    min-label-propagation loop the dedup pipeline uses
    (dedup.dedup_clusters — one operator, two families). The oracle is
    semantically independent: by construction every nation's members
    form one component (each links to its nation's 10 lowest keys), so
    the expected labeling is derivable with plain GROUP BY — the
    iterative algorithm must land exactly there."""
    g = _customer_graph(spark, sf_dir)
    pairs = g.select(
        F.col("id").alias("doc_a"), F.explode("adj").alias("doc_b")
    )
    return dedup.dedup_clusters(pairs).select(
        F.col("doc_id").alias("node_id"),
        F.col("canonical_id").alias("component_id"),
        F.col("cluster_size").alias("component_size"),
    )


ORACLE["graph_components"] = """
WITH m AS (
  SELECT c_nationkey, CAST(c_custkey AS INTEGER) AS id FROM customer
), s AS (
  SELECT c_nationkey, min(id) AS comp, count(*) AS sz
  FROM m GROUP BY c_nationkey
)
SELECT m.id AS node_id, s.comp AS component_id, s.sz AS component_size
FROM m JOIN s USING (c_nationkey)
WHERE s.sz >= 2
"""


def _ppr_oracle_sql(n_iter: int = 8, k: int = 10) -> str:
    # ps{i}/ppr{i} are MATERIALIZED for the reason given in
    # _pagerank_oracle_sql
    steps = [
        """srcs AS (
  SELECT CAST(c_custkey AS INTEGER) AS source
  FROM customer ORDER BY c_custkey LIMIT 2
),
slots AS (SELECT s.source, g.id FROM g CROSS JOIN srcs s),
ppr0 AS (
  SELECT source, id,
         CASE WHEN id = source THEN CAST(1.0 AS DOUBLE)
              ELSE CAST(0.0 AS DOUBLE) END AS pr
  FROM slots
)"""
    ]
    for i in range(1, n_iter + 1):
        steps.append(f"""
ps{i} AS MATERIALIZED (
  SELECT x.source, x.id, coalesce(r.recv, CAST(0.0 AS DOUBLE)) AS recv
  FROM slots x LEFT JOIN (
    SELECT p.source, e.dst AS id, sum(p.pr / e.outdeg) AS recv
    FROM ppr{i - 1} p JOIN edges e ON e.src = p.id
    GROUP BY p.source, e.dst) r ON r.source = x.source AND r.id = x.id
),
pt{i} AS (SELECT source, sum(recv) AS total FROM ps{i} GROUP BY source),
ppr{i} AS MATERIALIZED (
  SELECT s.source, s.id,
         CASE WHEN s.id = s.source
              THEN CAST(0.15 AS DOUBLE)
                   + CAST(0.85 AS DOUBLE)
                     * (s.recv + (CAST(1.0 AS DOUBLE) - t.total))
              ELSE CAST(0.85 AS DOUBLE) * s.recv END AS pr
  FROM ps{i} s JOIN pt{i} t ON t.source = s.source
)""")
    return f"""
WITH {_GRAPH_CTES},
{",".join(steps)}
SELECT source,
       CAST(row_number() OVER (PARTITION BY source
                               ORDER BY pr DESC, id ASC) AS INTEGER) AS rank,
       id, pr
FROM (SELECT source, id, round(pr, 6) AS pr FROM ppr{n_iter})
QUALIFY rank <= {k}
"""


def q_personalized_pagerank(spark, sf_dir):
    g = _customer_graph(spark, sf_dir)
    sources = [r["id"] for r in g.select("id").orderBy("id").limit(2).collect()]
    ranks = graph.personalized_pagerank(g, sources=sources, n_iter=8, num_partitions=8)
    # round before ranking — same exact-tie reasoning as q_pagerank.
    rounded = ranks.select("source", "id", F.round("pr", 6).alias("pr"))
    return graph.top_k_per_source(rounded, k=10)


ORACLE["personalized_pagerank"] = _ppr_oracle_sql()


def _lpa_oracle_sql(rounds: int = 4) -> str:
    """Unrolled synchronous LPA oracle over the id %-12 customer
    graph: per round, count neighbor labels, keep the max-count ties,
    take the min label. Each round's label table is referenced by the
    next round's join — AS MATERIALIZED per the unrolled-iteration
    rule (kcore lesson)."""
    parts = [
        """vnodes AS (
  SELECT CAST(unnest(ms) AS INTEGER) AS id, ms
  FROM (SELECT list_sort(list(c_custkey)) AS ms FROM customer GROUP BY c_nationkey)
),
vg AS (
  SELECT id,
         list_transform(list_filter(ms, m -> m != id)[1:CAST(id % 12 AS BIGINT)],
                        m -> CAST(m AS INTEGER)) AS adj
  FROM vnodes
),
vedges AS (SELECT id AS src, unnest(adj) AS dst FROM vg),
e0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM vedges WHERE dst IS NOT NULL AND src != dst
),
sym AS MATERIALIZED (
  SELECT a AS v, b AS u FROM e0 UNION ALL SELECT b AS v, a AS u FROM e0
),
l0 AS MATERIALIZED (SELECT DISTINCT v AS id, v AS label FROM sym)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""c{i} AS (
  SELECT s.v, l.label, count(*) AS c
  FROM sym s JOIN l{i - 1} l ON s.u = l.id GROUP BY 1, 2
),
l{i} AS MATERIALIZED (
  SELECT v AS id, min(label) AS label FROM (
    SELECT v, label, c, max(c) OVER (PARTITION BY v) AS mx FROM c{i})
  WHERE c = mx GROUP BY v
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST(label AS INTEGER) AS label, count(*) AS n_nodes FROM l{rounds} GROUP BY 1"""
    )


def q_lpa_communities(spark, sf_dir):
    """Deterministic min-tiebreak LPA over the variable-degree
    customer graph — community rollup after 4 synchronous rounds."""
    return graph.lpa_communities(_kcore_graph(spark, sf_dir), rounds=4)


ORACLE["lpa_communities"] = _lpa_oracle_sql(4)


def q_component_size_histogram(spark, sf_dir):
    """Connected-component size distribution of the customer graph —
    (component_size, n_components). The one-glance fragmentation
    readout over the same labeling graph_components produces."""
    comp = q_graph_components(spark, sf_dir)
    sizes = comp.groupBy("component_id").agg(
        F.count("*").alias("component_size")
    )
    return sizes.groupBy("component_size").agg(
        F.count("*").alias("n_components")
    )


# semantically independent, like graph_components' own oracle: each
# nation's members form exactly one component by construction
ORACLE["component_size_histogram"] = """
WITH sizes AS (
  SELECT count(*) AS component_size FROM customer GROUP BY c_nationkey
)
SELECT component_size, count(*) AS n_components
FROM sizes GROUP BY 1
"""


def _harmonic_oracle_sql(rounds: int = 6, k: int = 25) -> str:
    """Two independent unrolled BFS chains (one per probe source — the
    2 lowest custkeys), combined into the probe-based harmonic
    centrality top-k. Per-round CTEs consumed twice are MATERIALIZED
    (the kcore lesson); per-id sums have ≤ 2 addends so double
    addition is order-free."""
    chains = []
    for p in range(2):
        parts = [f"""s{p}_r0 AS MATERIALIZED (
  SELECT CAST(c_custkey AS INTEGER) AS id, 0 AS dist
  FROM customer ORDER BY c_custkey LIMIT 1 OFFSET {p}
),
s{p}_f0 AS (SELECT id FROM s{p}_r0)"""]
        for i in range(1, rounds + 1):
            parts.append(f"""
s{p}_n{i} AS MATERIALIZED (
  SELECT DISTINCT nb.nbr AS id
  FROM nb JOIN s{p}_f{i - 1} f ON f.id = nb.id
  WHERE nb.nbr NOT IN (SELECT id FROM s{p}_r{i - 1})
),
s{p}_r{i} AS MATERIALIZED (
  SELECT * FROM s{p}_r{i - 1} UNION ALL SELECT id, {i} AS dist FROM s{p}_n{i}
),
s{p}_f{i} AS (SELECT id FROM s{p}_n{i})""")
        chains.append(",".join(parts))
    return f"""
WITH {_UNDIRECTED_CTES},
nb AS (SELECT a AS id, b AS nbr FROM ue UNION ALL SELECT b, a FROM ue),
{chains[0]},
{chains[1]},
all_d AS (
  SELECT id, dist FROM s0_r{rounds}
  UNION ALL SELECT id, dist FROM s1_r{rounds}
),
sc AS (
  SELECT id, round(sum(CAST(1.0 AS DOUBLE) / dist), 6) AS harmonic,
         count(*) AS n_reached
  FROM all_d WHERE dist > 0 GROUP BY id
)
SELECT CAST(rn AS INTEGER) AS rank, CAST(id AS INTEGER) AS id, harmonic, n_reached FROM (
  SELECT *, row_number() OVER (ORDER BY harmonic DESC, id ASC) AS rn FROM sc)
WHERE rn <= {k}
"""


def q_harmonic_centrality(spark, sf_dir):
    """Probe-based harmonic centrality top-25 from the 2 lowest
    custkeys — one BFS per probe, unreached pairs contribute 0."""
    g = _customer_graph(spark, sf_dir)
    sources = [r["id"] for r in g.select("id").orderBy("id").limit(2).collect()]
    return graph.harmonic_centrality(g, sources=sources, max_hops=6, k=25)


ORACLE["harmonic_centrality"] = _harmonic_oracle_sql()
