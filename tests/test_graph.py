from __future__ import annotations

import numpy as np
import pytest

from mapreduce_assignments_spark.operators.graph import (
    pagerank,
    personalized_pagerank,
    top_k_nodes,
)

ALPHA = 0.15


def numpy_pagerank(nodes, edges, n_iter, alpha=ALPHA):
    """Power-iteration oracle with the reference's exact semantics:
    mass to nonexistent nodes vanishes into the missing mass, which is
    spread uniformly."""
    ids = sorted(nodes)
    pos = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    out = {v: [d for d in dsts if d in pos] for v, dsts in edges.items()}
    outdeg = {v: len(edges.get(v, [])) for v in ids}  # includes vanishing edges
    pr = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        recv = np.zeros(n)
        for v in ids:
            if outdeg[v] > 0:
                share = pr[pos[v]] / outdeg[v]
                for d in out.get(v, []):
                    recv[pos[d]] += share
        missing = 1.0 - recv.sum()
        pr = alpha / n + (1 - alpha) * (recv + missing / n)
    return {v: pr[pos[v]] for v in ids}


def numpy_ppr(nodes, edges, source, n_iter, alpha=ALPHA):
    ids = sorted(nodes)
    pos = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    out = {v: [d for d in dsts if d in pos] for v, dsts in edges.items()}
    outdeg = {v: len(edges.get(v, [])) for v in ids}
    pr = np.zeros(n)
    pr[pos[source]] = 1.0
    for _ in range(n_iter):
        recv = np.zeros(n)
        for v in ids:
            if outdeg[v] > 0:
                share = pr[pos[v]] / outdeg[v]
                for d in out.get(v, []):
                    recv[pos[d]] += share
        missing = 1.0 - recv.sum()
        pr = (1 - alpha) * recv
        pr[pos[source]] += alpha + (1 - alpha) * missing
    return {v: pr[pos[v]] for v in ids}


@pytest.fixture(scope="module")
def fixture_graph(spark):
    """Per FIXTURES.md §2: a dangling node (40), an edge to a
    nonexistent node (10 -> 999), two weak components ({10,20,30,40},
    {50,60})."""
    rows = [
        (10, [20, 30, 999]),
        (20, [10, 30]),
        (30, [10]),
        (40, []),  # dangling
        (50, [60]),
        (60, [50]),
    ]
    df = spark.createDataFrame(rows, "id int, adj array<int>")
    nodes = [r[0] for r in rows]
    edges = {r[0]: r[1] for r in rows}
    return df, nodes, edges


def test_pagerank_matches_numpy_oracle(fixture_graph):
    df, nodes, edges = fixture_graph
    got = {r["id"]: r["pr"] for r in pagerank(df, n_iter=10).collect()}
    want = numpy_pagerank(nodes, edges, n_iter=10)
    assert set(got) == set(want)
    for v in nodes:
        assert got[v] == pytest.approx(want[v], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_mass_conserved_each_iteration(fixture_graph):
    df, nodes, edges = fixture_graph
    for it in (1, 3, 7):
        got = {r["id"]: r["pr"] for r in pagerank(df, n_iter=it).collect()}
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_personalized_pagerank_matches_numpy_oracle(fixture_graph):
    df, nodes, edges = fixture_graph
    sources = [10, 50]
    out = personalized_pagerank(df, sources=sources, n_iter=10).collect()
    got = {(r["source"], r["id"]): r["pr"] for r in out}
    for src in sources:
        want = numpy_ppr(nodes, edges, src, n_iter=10)
        for v in nodes:
            assert got[(src, v)] == pytest.approx(want[v], abs=1e-12)
        assert sum(v for (s, _), v in got.items() if s == src) == pytest.approx(1.0, abs=1e-9)


def test_ppr_mass_stays_in_component(fixture_graph):
    df, nodes, edges = fixture_graph
    out = personalized_pagerank(df, sources=[50], n_iter=10).collect()
    comp2 = {50, 60}
    outside = sum(r["pr"] for r in out if r["id"] not in comp2)
    assert outside == pytest.approx(0.0, abs=1e-12)


def test_top_k_nodes(fixture_graph):
    df, nodes, edges = fixture_graph
    ranks = pagerank(df, n_iter=10)
    top = top_k_nodes(ranks, k=3).collect()
    assert [r["rank"] for r in top] == [1, 2, 3]
    assert top[0]["pr"] >= top[1]["pr"] >= top[2]["pr"]
    want = numpy_pagerank(nodes, edges, n_iter=10)
    best = max(want, key=lambda v: (want[v], -v))
    assert top[0]["id"] == best


def test_pagerank_empty_graph(spark):
    df = spark.createDataFrame([], "id int, adj array<int>")
    assert pagerank(df, n_iter=3).count() == 0


def test_top_k_per_source_and_format(fixture_graph):
    from mapreduce_assignments_spark.operators.graph import (
        format_rank_report,
        top_k_per_source,
    )

    df, nodes, edges = fixture_graph
    ranks = personalized_pagerank(df, sources=[10, 50], n_iter=8)
    top = top_k_per_source(ranks, k=3)
    rows = top.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    assert set(by_src) == {10, 50}
    for src in (10, 50):
        want = numpy_ppr(nodes, edges, src, n_iter=8)
        ordered = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        got = sorted(by_src[src], key=lambda r: r["rank"])
        assert [r["id"] for r in got] == [v for v, _ in ordered]
        for r, (_, w) in zip(got, ordered):
            assert r["pr"] == pytest.approx(w, abs=1e-9)
    fmt = format_rank_report(top).collect()
    assert all(len(r["pr_fmt"].split(".")[1]) == 5 for r in fmt)


def test_pagerank_reliable_checkpoint_matches(fixture_graph, tmp_path):
    df, nodes, edges = fixture_graph
    base = {r["id"]: r["pr"] for r in pagerank(df, n_iter=7).collect()}
    ckpt = {
        r["id"]: r["pr"]
        for r in pagerank(df, n_iter=7, checkpoint_dir=str(tmp_path / "ckpt")).collect()
    }
    assert base.keys() == ckpt.keys()
    for k in base:
        assert base[k] == pytest.approx(ckpt[k], abs=1e-12)


# ---------------------------------------------------------------------------
# graph analytics extensions: degree histogram + triangle counting

def test_degree_histogram_hand_checked(spark):
    from mapreduce_assignments_spark.operators.graph import degree_histogram

    # path 1-2-3 plus isolated 4 (adj may duplicate + self-loop; both ignored)
    rows = [(1, [2, 2]), (2, [3]), (3, [3]), (4, [])]
    df = spark.createDataFrame(rows, "id int, adj array<int>")
    got = {r["degree"]: r["n_nodes"] for r in degree_histogram(df).collect()}
    assert got == {1: 2, 2: 1}  # nodes 1,3 have degree 1; node 2 degree 2


def test_triangle_count_matches_bruteforce(spark):
    import itertools
    import random

    from mapreduce_assignments_spark.operators.graph import triangle_count

    rng = random.Random(42)
    n = 40
    edges = {(a, b) for a in range(n) for b in range(a + 1, n) if rng.random() < 0.15}
    adj: dict[int, list[int]] = {i: [] for i in range(n)}
    for a, b in edges:
        adj[a].append(b)  # one orientation only; operator canonicalizes
    expected = sum(
        1
        for x, y, z in itertools.combinations(range(n), 3)
        if (x, y) in edges and (y, z) in edges and (x, z) in edges
    )
    df = spark.createDataFrame(
        [(i, adj[i]) for i in range(n)], "id int, adj array<int>"
    )
    [row] = triangle_count(df).collect()
    assert row["n_triangles"] == expected
    assert expected > 0  # the fixture actually exercises the path


def test_triangle_count_star_is_zero(spark):
    """A pure star has no triangles — and under degree orientation the
    hub generates zero wedges (the 'last reducer' skew killer)."""
    from mapreduce_assignments_spark.operators.graph import triangle_count

    df = spark.createDataFrame(
        [(0, list(range(1, 50)))] + [(i, []) for i in range(1, 50)],
        "id int, adj array<int>",
    )
    [row] = triangle_count(df).collect()
    assert row["n_triangles"] == 0


def test_kcore_hand_computed(spark):
    import pytest

    from mapreduce_assignments_spark.operators.graph import kcore

    # K4 on {1,2,3,4} plus a tail 4-5-6: the 3-core is exactly the K4
    # (5 and 6 peel, which drops 4's degree to 3 — still in)
    adj = {1: [2, 3, 4], 2: [3, 4], 3: [4], 4: [5], 5: [6], 6: []}
    df = spark.createDataFrame(
        [(i, adj[i]) for i in adj], "id int, adj array<int>"
    )
    got = {r["id"]: r["core_degree"] for r in kcore(df, k=3).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # k above the max degree: empty core, empty frame (not an error)
    assert kcore(df, k=10).count() == 0
    with pytest.raises(ValueError):
        kcore(df, k=0)


def test_kcore_peeling_cascades(spark):
    from mapreduce_assignments_spark.operators.graph import kcore

    # chain 1-2-3-4-5: every node eventually peels at k=2 even though
    # interior nodes start at degree 2 (cascade over multiple rounds)
    df = spark.createDataFrame(
        [(1, [2]), (2, [3]), (3, [4]), (4, [5]), (5, [])],
        "id int, adj array<int>",
    )
    assert kcore(df, k=2).count() == 0
    # close the ring: now everything is the 2-core
    ring = spark.createDataFrame(
        [(1, [2]), (2, [3]), (3, [4]), (4, [5]), (5, [1])],
        "id int, adj array<int>",
    )
    got = {r["id"]: r["core_degree"] for r in kcore(ring, k=2).collect()}
    assert got == {i: 2 for i in range(1, 6)}
    # one round peels only the chain's ends: the cut is warned, not silent
    with pytest.warns(UserWarning, match="kcore hit max_iter=1"):
        kcore(df, k=2, max_iter=1)


def test_kcore_matches_python_peeler_on_random_graphs(spark):
    """Cross-implementation property: the Spark peeling loop agrees
    with a direct in-memory peeler on seeded random graphs (several
    densities, several k)."""
    import random

    from mapreduce_assignments_spark.operators.graph import kcore

    def py_kcore(edges, k):
        edges = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
        while True:
            deg = {}
            for a, b in edges:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            keep = {n for n, d in deg.items() if d >= k}
            pruned = {e for e in edges if e[0] in keep and e[1] in keep}
            if pruned == edges:
                break
            edges = pruned
        deg = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        return {n: d for n, d in deg.items() if d >= k}

    for seed, p, k in [(1, 0.08, 3), (2, 0.15, 4), (3, 0.3, 5)]:
        rng = random.Random(seed)
        n = 30
        edges = [
            (a, b)
            for a in range(n)
            for b in range(a + 1, n)
            if rng.random() < p
        ]
        adj = {i: [] for i in range(n)}
        for a, b in edges:
            adj[a].append(b)
        df = spark.createDataFrame(
            [(i, adj[i]) for i in range(n)], "id int, adj array<int>"
        )
        got = {r["id"]: r["core_degree"] for r in kcore(df, k=k).collect()}
        assert got == py_kcore(edges, k), (seed, p, k)


def test_hits_hand_checked(spark):
    """Two pure hubs feeding two pure authorities: after any number of
    rounds the max-rescaled scores are exactly {0, 1}-valued."""
    from mapreduce_assignments_spark.operators.graph import hits

    df = spark.createDataFrame(
        [(1, [3, 4]), (2, [3, 4]), (3, []), (4, [])],
        "id int, adj array<int>",
    )
    got = {r["id"]: (r["auth"], r["hub"]) for r in hits(df, n_iter=3).collect()}
    assert got == {1: (0.0, 1.0), 2: (0.0, 1.0), 3: (1.0, 0.0), 4: (1.0, 0.0)}


def test_hits_matches_numpy_power_iteration(spark):
    """The Spark loop agrees with a dense NumPy replay of the SAME
    max-rescaled update on a seeded random directed graph."""
    import random

    import numpy as np

    from mapreduce_assignments_spark.operators.graph import hits

    rng = random.Random(7)
    n = 30
    adj = {
        i: sorted({rng.randrange(n) for _ in range(rng.randrange(0, 6))} - {i})
        for i in range(n)
    }
    A = np.zeros((n, n))
    for i, outs in adj.items():
        for j in outs:
            A[i, j] = 1.0
    h = np.ones(n)
    for _ in range(8):
        a = A.T @ h
        if a.max() != 0:
            a = a / a.max()
        h = A @ a
        if h.max() != 0:
            h = h / h.max()
    df = spark.createDataFrame(
        [(i, adj[i]) for i in range(n)], "id int, adj array<int>"
    )
    got = {r["id"]: (r["auth"], r["hub"]) for r in hits(df, n_iter=8).collect()}
    for i in range(n):
        assert got[i][0] == pytest.approx(a[i], abs=1e-9)
        assert got[i][1] == pytest.approx(h[i], abs=1e-9)


def test_bfs_distances_hand_checked(spark):
    from mapreduce_assignments_spark.operators.graph import bfs_distances

    # path 1-2-3-4 plus isolated 5 (edges undirected regardless of
    # which endpoint lists them)
    df = spark.createDataFrame(
        [(1, [2]), (2, [3]), (3, [4]), (4, []), (5, [])],
        "id int, adj array<int>",
    )
    got = {r["id"]: r["dist"] for r in bfs_distances(df, sources=[1]).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}  # 5 unreachable -> absent
    # multi-source takes the NEAREST source; max_hops truncates the frontier
    got2 = {r["id"]: r["dist"] for r in bfs_distances(df, sources=[1, 4]).collect()}
    assert got2 == {1: 0, 4: 0, 2: 1, 3: 1}
    capped = {
        r["id"]: r["dist"]
        for r in bfs_distances(df, sources=[1], max_hops=1).collect()
    }
    assert capped == {1: 0, 2: 1}


def test_clustering_coefficient_hand_checked(spark):
    from mapreduce_assignments_spark.operators.graph import clustering_coefficient

    # triangle {1,2,3} with a pendant 4 hanging off 3
    df = spark.createDataFrame(
        [(1, [2, 3]), (2, [3]), (3, [4]), (4, [])],
        "id int, adj array<int>",
    )
    got = {
        r["id"]: (r["degree"], r["triangles"], r["coeff"])
        for r in clustering_coefficient(df).collect()
    }
    assert got[1] == (2, 1, 1.0)
    assert got[2] == (2, 1, 1.0)
    assert got[3] == (3, 1, round(1 / 3, 6))
    assert got[4] == (1, 0, 0.0)


def test_clustering_coefficient_sums_to_three_triangles(spark):
    """Invariant vs triangle_count: every triangle credits exactly 3
    corners, so per-node counts sum to 3x the global count."""
    import random

    from mapreduce_assignments_spark.operators.graph import (
        clustering_coefficient,
        triangle_count,
    )

    rng = random.Random(11)
    n = 40
    adj = {i: [j for j in range(i + 1, n) if rng.random() < 0.2] for i in range(n)}
    df = spark.createDataFrame(
        [(i, adj[i]) for i in range(n)], "id int, adj array<int>"
    )
    [g] = triangle_count(df).collect()
    per_node = clustering_coefficient(df).agg({"triangles": "sum"}).collect()[0][0]
    assert per_node == 3 * g["n_triangles"]
    assert g["n_triangles"] > 0


def test_link_prediction_square(spark):
    from mapreduce_assignments_spark.operators.graph import link_prediction

    # 4-cycle 1-2-3-4-1: the two diagonals are the only predictions,
    # each with both off-diagonal nodes as common neighbors
    df = spark.createDataFrame(
        [(1, [2, 4]), (2, [3]), (3, [4]), (4, [])],
        "id int, adj array<int>",
    )
    rows = link_prediction(df, k=10).collect()
    got = {(r["a"], r["b"]): (r["common_neighbors"], r["jaccard"]) for r in rows}
    assert got == {(1, 3): (2, 1.0), (2, 4): (2, 1.0)}


def test_link_prediction_degree_cap_skips_hub(spark):
    """Middle nodes above the cap generate no candidate pairs — the
    celebrity-hub skew guard (df-cap analogue)."""
    from mapreduce_assignments_spark.operators.graph import link_prediction

    # star: hub 0 connects leaves 1..9; every leaf pair shares ONLY the hub
    df = spark.createDataFrame(
        [(0, list(range(1, 10)))] + [(i, []) for i in range(1, 10)],
        "id int, adj array<int>",
    )
    assert link_prediction(df, k=100, max_degree=5).count() == 0
    full = link_prediction(df, k=100, max_degree=64)
    assert full.count() == 9 * 8 // 2  # all leaf pairs via the hub


def test_degree_assortativity_star_and_ring(spark):
    from mapreduce_assignments_spark.operators.graph import degree_assortativity

    # star K_{1,3}: perfectly disassortative -> exactly -1
    star = spark.createDataFrame(
        [(0, [1, 2, 3]), (1, []), (2, []), (3, [])], "id int, adj array<int>"
    )
    [row] = degree_assortativity(star).collect()
    assert row["n_edges"] == 3
    assert row["assortativity"] == -1.0
    # ring: regular graph, zero degree variance -> guarded to 0.0
    ring = spark.createDataFrame(
        [(1, [2]), (2, [3]), (3, [4]), (4, [1])], "id int, adj array<int>"
    )
    [row] = degree_assortativity(ring).collect()
    assert row["n_edges"] == 4
    assert row["assortativity"] == 0.0


def test_pagerank_residuals_track_convergence(fixture_graph):
    """residuals=[] collects monotone-ish shrinking L1 deltas and does
    NOT change the returned ranks (the default path is untouched)."""
    df, nodes, edges = fixture_graph
    rs: list = []
    with_track = {
        r["id"]: r["pr"] for r in pagerank(df, n_iter=5, residuals=rs).collect()
    }
    plain = {r["id"]: r["pr"] for r in pagerank(df, n_iter=5).collect()}
    # the tracked state joins ranks instead of links.select("id"), so
    # the observe total's float sum order differs -> ulp drift only
    # (the round-6 oracle contract absorbs it; exact equality holds at
    # 6 dp)
    assert set(with_track) == set(plain)
    for k in plain:
        assert with_track[k] == pytest.approx(plain[k], abs=1e-12)
    assert len(rs) == 5
    assert all(d >= 0 for d in rs)
    assert rs[-1] < rs[0]  # power iteration contracts


def test_pagerank_residuals_match_independent_recompute(fixture_graph):
    """The r15 deferred-observe residuals equal an independent
    recomputation of Σ|pr_i − pr_{i−1}| from per-iteration rank
    snapshots at 6 dp (the consumer's rounding contract) — pins that
    riding the NEXT materialization's observe changed only the sum
    order, not the summands."""
    df, nodes, edges = fixture_graph
    rs: list = []
    pagerank(df, n_iter=3, residuals=rs)
    assert len(rs) == 3
    # independent per-iteration snapshots: pr after 0..3 iterations
    n = df.count()
    snaps = [{r["id"]: 1.0 / n for r in df.select("id").collect()}]
    for k in (1, 2, 3):
        snaps.append(
            {r["id"]: r["pr"] for r in pagerank(df, n_iter=k).collect()}
        )
    for i in (1, 2, 3):
        expect = sum(abs(snaps[i][v] - snaps[i - 1][v]) for v in snaps[i])
        assert round(rs[i - 1], 6) == pytest.approx(round(expect, 6), abs=2e-6)


def test_harmonic_centrality_path_graph(spark):
    """Path 1-2-3-4 probed from sources [1, 2]: hand-computable
    harmonic sums and deterministic id tiebreaks."""
    from mapreduce_assignments_spark.operators.graph import harmonic_centrality

    g = spark.createDataFrame(
        [(1, [2]), (2, [1, 3]), (3, [2, 4]), (4, [3])],
        "id int, adj array<int>",
    )
    rows = {r["id"]: r for r in harmonic_centrality(g, sources=[1, 2], k=10).collect()}
    # from 1: d(2)=1 d(3)=2 d(4)=3 ; from 2: d(1)=1 d(3)=1 d(4)=2
    assert rows[3]["harmonic"] == 1.5 and rows[3]["n_reached"] == 2
    assert rows[1]["harmonic"] == 1.0 and rows[1]["n_reached"] == 1
    assert rows[2]["harmonic"] == 1.0
    assert rows[4]["harmonic"] == pytest.approx(1 / 3 + 1 / 2, abs=1e-6)
    # rank: 3 (1.5) first; ties at 1.0 break id-asc (1 before 2)
    assert [rows[i]["rank"] for i in (3, 1, 2)] == [1, 2, 3]


def test_lpa_communities_two_triangles_with_bridge(spark):
    """Hand-computed synchronous min-tiebreak LPA on two triangles
    joined by one bridge edge (3-4): after 4 rounds the triangles
    stabilize as communities labeled by each side's min id reachable
    through the propagation dynamics (worked by hand: label 1 covers
    {1,2,3}, label 3 covers {4,5,6})."""
    from mapreduce_assignments_spark.operators.graph import lpa_communities

    nodes = spark.createDataFrame(
        [
            (1, [2, 3]), (2, [3]), (3, [4]),
            (4, [5, 6]), (5, [6]), (6, []),
        ],
        "id int, adj array<int>",
    )
    out = {r["label"]: r["n_nodes"] for r in lpa_communities(nodes, rounds=4).collect()}
    assert out == {1: 3, 3: 3}
    # determinism: repeated runs agree exactly
    out2 = {r["label"]: r["n_nodes"] for r in lpa_communities(nodes, rounds=4).collect()}
    assert out2 == out
    import pytest

    with pytest.raises(ValueError):
        lpa_communities(nodes, rounds=0)


@pytest.mark.parametrize("name", ["pagerank", "personalized_pagerank"])
def test_unrolled_oracle_evaluates_each_round_once(sf_dir, name):
    """The 8-round unrolled oracles read each round's CTE twice; if
    DuckDB inlines them the chain is recomputed ~2^8 times (over a
    minute at sf0.001) instead of a fraction of a second."""
    import time

    import duckdb

    from mapreduce_assignments_spark import workloads
    from mapreduce_assignments_spark.sources.tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    t0 = time.perf_counter()
    rows = con.execute(workloads.ORACLE[name]).fetchall()
    assert rows
    assert time.perf_counter() - t0 < 10
