"""Round-4 beyond-reference algorithms: HITS, SCC, global clustering,
random walks, closeness centrality.  Goldens are hand-derived or replayed
with an in-test NumPy / pure-Python oracle."""

import numpy as np
import pytest

from duckpgq_extension_spark import algorithms as A


@pytest.fixture(scope="module")
def toy(spark):
    """Cycle 1->2->3->1, bridge 3->4, cycle 4<->5, isolated 6."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4)], "src long, dst long"
    )
    verts = spark.createDataFrame([(i,) for i in range(1, 7)], "vid long")
    return edges, verts


# ---------------------------------------------------------------- SCC


def test_scc_toy(toy):
    edges, verts = toy
    got = {r.vid: r.scc_id for r in A.strongly_connected_component(edges, verts).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def _tarjan_scc(n, edge_list):
    """Iterative Tarjan for the cross-check oracle (pure Python)."""
    adj = {v: [] for v in range(n)}
    for s, d in edge_list:
        adj[s].append(d)
    index = {}
    low = {}
    on_stack = set()
    stack = []
    comp = {}
    counter = [0]
    for root in range(n):
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                elif w in on_stack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                members = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    members.append(w)
                    if w == v:
                        break
                rep = min(members)
                for w in members:
                    comp[w] = rep
            work.pop()
            if work:
                p, _ = work[-1]
                low[p] = min(low[p], low[v])
    return comp


def test_scc_random_graph_vs_tarjan(spark):
    """60-vertex pseudo-random digraph cross-checked against an in-test
    Tarjan implementation (deterministic arithmetic edge generator)."""
    n = 60
    edge_list = sorted(
        {((i * 17 + 5) % n, (i * 31 + j * 13 + 2) % n) for i in range(n) for j in range(3)}
    )
    edge_list = [(s, d) for s, d in edge_list if s != d]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in range(n)], "vid long")
    got = {r.vid: r.scc_id for r in A.strongly_connected_component(edges, verts).collect()}
    assert got == _tarjan_scc(n, edge_list)


def test_scc_empty_graph(spark):
    edges = spark.createDataFrame([], "src long, dst long")
    verts = spark.createDataFrame([(1,), (2,)], "vid long")
    got = {r.vid: r.scc_id for r in A.strongly_connected_component(edges, verts).collect()}
    assert got == {1: 1, 2: 2}


# ---------------------------------------------------------------- HITS


def _hits_numpy(n, edge_list, iters):
    hub = np.ones(n)
    auth = np.zeros(n)
    A_ = np.zeros((n, n))
    for s, d in edge_list:
        A_[s, d] = 1.0
    for _ in range(iters):
        araw = A_.T @ hub
        auth = araw / araw.sum() if araw.sum() > 0 else np.zeros(n)
        hraw = A_ @ auth
        hub = hraw / hraw.sum() if hraw.sum() > 0 else np.zeros(n)
    return hub, auth


def test_hits_numpy_golden(toy):
    edges, verts = toy
    edge_list = [(s - 1, d - 1) for s, d in [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4)]]
    hub, auth = _hits_numpy(6, edge_list, 7)
    got = {r.vid: (r.hub, r.authority) for r in A.hits(edges, verts, max_iter=7).collect()}
    for v in range(1, 7):
        assert got[v][0] == pytest.approx(hub[v - 1], abs=1e-12), f"hub {v}"
        assert got[v][1] == pytest.approx(auth[v - 1], abs=1e-12), f"auth {v}"


def test_hits_edgeless(spark):
    edges = spark.createDataFrame([], "src long, dst long")
    verts = spark.createDataFrame([(1,), (2,)], "vid long")
    got = A.hits(edges, verts, max_iter=3).collect()
    assert {(r.vid, r.hub, r.authority) for r in got} == {(1, 0.0, 0.0), (2, 0.0, 0.0)}


def test_hits_tol_early_exit(toy):
    """tol large enough to stop after one round == 1-iteration scores."""
    edges, verts = toy
    one = {r.vid: (r.hub, r.authority) for r in A.hits(edges, verts, max_iter=1).collect()}
    tol = {
        r.vid: (r.hub, r.authority)
        for r in A.hits(edges, verts, max_iter=50, tol=1e9).collect()
    }
    assert one == tol


# ------------------------------------------------- global clustering


def test_global_clustering_toy(toy):
    edges, verts = toy
    row = A.global_clustering(edges, verts).collect()[0]
    # undirected edges: 1-2 2-3 1-3 3-4 4-5; one triangle {1,2,3};
    # degrees 2,2,3,2,1 -> wedges 1+1+3+1+0 = 6
    assert (row.triangles, row.wedges) == (1, 6)
    assert row.global_clustering == pytest.approx(0.5)


def test_global_clustering_star(spark):
    """Star: hub 0 with 40 spokes — 0 triangles, C(40,2) wedges, gc 0."""
    edges = spark.createDataFrame([(0, i) for i in range(1, 41)], "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in range(41)], "vid long")
    row = A.global_clustering(edges, verts).collect()[0]
    assert (row.triangles, row.wedges, row.global_clustering) == (0, 780, 0.0)


def test_global_clustering_complete4(spark):
    """K4: 4 triangles, 12 wedges, transitivity 1.0."""
    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b], "src long, dst long"
    )
    verts = spark.createDataFrame([(i,) for i in range(4)], "vid long")
    row = A.global_clustering(edges, verts).collect()[0]
    assert (row.triangles, row.wedges, row.global_clustering) == (4, 12, 1.0)


# ---------------------------------------------------------- random walks


def test_random_walks_valid_and_deterministic(toy):
    edges, verts = toy
    seeds = edges.sparkSession.createDataFrame([(1,), (3,), (6,)], "vid long")
    a = sorted(tuple(r) for r in A.random_walks(edges, seeds, 4, salt="s").collect())
    b = sorted(tuple(r) for r in A.random_walks(edges, seeds, 4, salt="s").collect())
    assert a == b
    edge_set = {(s, d) for s, d in [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4)]}
    by_walk = {}
    for wid, step, vid in a:
        by_walk.setdefault(wid, {})[step] = vid
    for wid, steps in by_walk.items():
        assert steps[0] == wid
        for k in range(1, max(steps) + 1):
            assert (steps[k - 1], steps[k]) in edge_set
    # walk from isolated 6 stops immediately
    assert max(by_walk[6]) == 0
    # walks from 1 and 3 never dangle (every visited vertex has out-edges)
    assert max(by_walk[1]) == 4 and max(by_walk[3]) == 4


def test_random_walks_salt_varies(toy):
    edges, _ = toy
    seeds = edges.sparkSession.createDataFrame([(i,) for i in [1, 2, 3, 4, 5]], "vid long")
    a = sorted(tuple(r) for r in A.random_walks(edges, seeds, 6, salt="a").collect())
    b = sorted(tuple(r) for r in A.random_walks(edges, seeds, 6, salt="b").collect())
    assert a != b  # independent draws (overwhelmingly)


def test_random_walks_rejects_bad_length(toy):
    edges, _ = toy
    seeds = edges.sparkSession.createDataFrame([(1,)], "vid long")
    with pytest.raises(ValueError):
        A.random_walks(edges, seeds, 0)


# ------------------------------------------------------------- closeness


def test_closeness_toy(toy):
    edges, _ = toy
    seeds = edges.sparkSession.createDataFrame([(1,), (4,), (6,)], "vid long")
    got = {r.vid: (r.reached, r.closeness) for r in A.closeness_centrality(edges, seeds).collect()}
    # 1 reaches {1,2,3,4,5} dists 0,1,2,3,4 -> 4/10
    assert got[1] == (5, pytest.approx(0.4))
    # 4 reaches {4,5} dists 0,1 -> 1/1
    assert got[4] == (2, pytest.approx(1.0))
    assert got[6] == (1, 0.0)


# ------------------------------------------- PGQSession table functions


def test_session_hits_scc_gc_closeness(pgq, spark):
    """The F1 know graph: 0->1,0->2,0->3,3->0,1->2,1->3,2->3,4->3.
    3->0 closes cycles through every one of 0,1,2 (e.g. 1->3->0->1), so
    {0,1,2,3} is one SCC; 4 only points in.  Wrappers surface natural keys."""
    scc = {r[0]: r[1] for r in pgq.strongly_connected_component("pg", "Person", "Knows").collect()}
    assert scc == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4}
    h = pgq.hits("pg", "Person", "Knows", max_iter=4).collect()
    assert {r[0] for r in h} == {0, 1, 2, 3, 4}
    assert all(r.hub >= 0 and r.authority >= 0 for r in h)
    assert sum(r.authority for r in h) == pytest.approx(1.0)
    gc_row = pgq.global_clustering("pg", "Person", "Knows").collect()[0]
    # undirected edges: 01 02 03 12 13 23 34 -> triangles {012 013 023 123};
    # degrees 3,3,3,4,1 -> wedges 3+3+3+6+0 = 15
    assert (gc_row.triangles, gc_row.wedges) == (4, 15)
    seeds = spark.createDataFrame([(4,)], "id long")
    close = {r[0]: (r.reached, r.closeness) for r in
             pgq.closeness_centrality("pg", "Person", "Knows", seeds).collect()}
    # 4 -> 3 -> 0 -> {1, 2}: dists 0,1,2,3,3 -> reached 5, 4/9
    assert close == {4: (5, pytest.approx(4 / 9))}


# ------------------------------------------------------- LPA communities


def test_label_propagation_two_cliques(spark):
    """Two 4-cliques joined by one bridge resolve to two communities
    labeled by each clique's min vertex."""
    cl1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    cl2 = [(a + 10, b + 10) for a, b in cl1]
    edges = spark.createDataFrame(cl1 + cl2 + [(3, 10)], "src long, dst long")
    verts = spark.createDataFrame(
        [(i,) for i in list(range(4)) + list(range(10, 14))], "vid long"
    )
    got = {r.vid: r.label for r in A.label_propagation(edges, verts, 5).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10, 12: 10, 13: 10}


def test_label_propagation_isolated_keeps_own(spark):
    """Isolated vertices keep their label; a lone edge OSCILLATES under
    synchronous LPA (each endpoint adopts the other's label every round)
    — pinning that documented semantic: after 3 (odd) rounds the labels
    are swapped, after 4 (even) they are back."""
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    verts = spark.createDataFrame([(1,), (2,), (9,)], "vid long")
    odd = {r.vid: r.label for r in A.label_propagation(edges, verts, 3).collect()}
    assert odd == {1: 2, 2: 1, 9: 9}
    even = {r.vid: r.label for r in A.label_propagation(edges, verts, 4).collect()}
    assert even == {1: 1, 2: 2, 9: 9}


# ------------------------------------------------------- assortativity


def test_assortativity_star_negative(spark):
    """A star is maximally disassortative: hub(deg n) only meets leaves
    (deg 1) -> r = -1."""
    edges = spark.createDataFrame([(0, i) for i in range(1, 11)], "src long, dst long")
    r = A.degree_assortativity(edges).collect()[0].assortativity
    assert r == pytest.approx(-1.0)


def test_assortativity_regular_graph_null(spark):
    """Degree-constant graph (cycle): zero variance -> corr undefined."""
    edges = spark.createDataFrame(
        [(i, (i + 1) % 5) for i in range(5)], "src long, dst long"
    )
    r = A.degree_assortativity(edges).collect()[0].assortativity
    assert r is None or (r != r)  # NULL or NaN, both mean undefined


def test_session_lpa_assortativity_walks(pgq, spark):
    lpa = {r[0]: r[1] for r in pgq.label_propagation("pg", "Person", "Knows", max_iter=4).collect()}
    assert set(lpa) == {0, 1, 2, 3, 4}
    r = pgq.degree_assortativity("pg", "Person", "Knows").collect()[0].assortativity
    assert r is not None and -1.0 <= r <= 1.0
    seeds = spark.createDataFrame([(4,)], "id long")
    walks = sorted(
        (r.walk_id, r.step, r.at_id)
        for r in pgq.random_walks("pg", "Person", "Knows", seeds, 3, salt="t").collect()
    )
    # 4's only out-edge is ->3; steps follow real edges, natural keys out
    assert walks[0] == (4, 0, 4) and walks[1] == (4, 1, 3)
    know = {(0, 1), (0, 2), (0, 3), (3, 0), (1, 2), (1, 3), (2, 3), (4, 3)}
    for (w1, s1, v1), (w2, s2, v2) in zip(walks, walks[1:]):
        if w1 == w2 and s2 == s1 + 1:
            assert (v1, v2) in know


# ----------------------------------------------------------------- katz


def test_katz_numpy_golden(toy):
    edges, verts = toy
    el = [(s - 1, d - 1) for s, d in [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4)]]
    M = np.zeros((6, 6))
    for s, d in el:
        M[s, d] = 1.0
    x = np.ones(6)
    for _ in range(4):
        x = 1.0 + 0.1 * (M.T @ x)
    got = {r.vid: r.katz for r in
           A.katz_centrality(edges, verts, alpha=0.1, beta=1.0, max_iter=4).collect()}
    for v in range(1, 7):
        assert got[v] == pytest.approx(x[v - 1], abs=1e-12), v


# -------------------------------------------------------- link prediction


def test_link_prediction_square(spark):
    """4-cycle 1-2-3-4-1: the two diagonals (1,3) and (2,4) each share
    both cycle corners; every adjacent pair is filtered out."""
    import math

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "src long, dst long"
    )
    got = {(r.u, r.v): r for r in A.link_prediction(edges).collect()}
    assert set(got) == {(1, 3), (2, 4)}
    r = got[(1, 3)]
    assert r.common_neighbors == 2
    assert r.adamic_adar == pytest.approx(2 / math.log(2))
    assert r.jaccard == pytest.approx(1.0)  # identical neighborhoods


def test_link_prediction_center_cap(spark):
    """A high-degree hub center is skipped as a wedge generator under the
    cap, removing the pair it would have suggested."""
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 8)] + [(20, 1), (21, 1), (20, 2), (21, 2)],
        "src long, dst long",
    )
    uncapped = {(r.u, r.v) for r in A.link_prediction(edges).collect()}
    capped = {(r.u, r.v) for r in A.link_prediction(edges, max_center_degree=3).collect()}
    assert (1, 2) in uncapped and (1, 2) in capped  # via small centers 20/21
    assert (3, 4) in uncapped and (3, 4) not in capped  # only via hub 0


def test_session_katz_link_prediction(pgq):
    k = {r[0]: r.katz for r in pgq.katz_centrality("pg", "Person", "Knows", max_iter=3).collect()}
    assert set(k) == {0, 1, 2, 3, 4} and all(v >= 1.0 for v in k.values())
    # 3 has in-edges from 0,1,2,4 -> highest damped in-walk count
    assert max(k, key=k.get) == 3
    lp = pgq.link_prediction("pg", "Person", "Knows").collect()
    # natural keys on both pair sides; scores well-formed
    for r in lp:
        assert r.u_id < r.v_id and r.common_neighbors >= 1 and 0 < r.jaccard <= 1


def test_sql_algorithm_table_functions(pgq):
    """Reference surface: SELECT id, pagerank FROM pagerank(pg, v, e)
    (pagerank.test:24) — and the result table is referenceable by the
    function name like DuckDB's aliasless derived tables."""
    api = {r[0]: r[1] for r in pgq.pagerank("pg", "Person", "Knows").collect()}
    via_sql = {r[0]: r[1] for r in
               pgq.sql("SELECT id, pagerank FROM pagerank(pg, Person, Knows)").collect()}
    assert via_sql == api
    named = pgq.sql(
        "SELECT pagerank.id FROM pagerank(pg, Person, Knows) WHERE pagerank.pagerank > 0"
    ).collect()
    assert {r[0] for r in named} == set(api)
    wcc = {r[0]: r[1] for r in
           pgq.sql("SELECT * FROM weakly_connected_component(pg, Person, Knows) ORDER BY id").collect()}
    assert set(wcc) == {0, 1, 2, 3, 4}
    scc = {r[0]: r[1] for r in
           pgq.sql("SELECT * FROM strongly_connected_component(pg, Person, Knows)").collect()}
    assert scc == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4}
    # scalar mention of the name must NOT rewrite (not table position)
    lit = pgq.sql("SELECT 'pagerank(pg, a, b)' AS s").collect()
    assert lit[0].s == "pagerank(pg, a, b)"


# ----------------------------------------- neighbor_agg / ego_network


def test_neighbor_agg_directions(spark):
    edges = spark.createDataFrame([(1, 2), (1, 3), (3, 1)], "src long, dst long")
    feats = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "vid long, value double"
    )
    out_ = {r.vid: (r.nbr_mean, r.nbr_count) for r in
            A.neighbor_agg(edges, feats, ["mean", "count"], "out").collect()}
    assert out_[1] == (25.0, 2) and out_[3] == (10.0, 1)
    in_ = {r.vid: r.nbr_mean for r in
           A.neighbor_agg(edges, feats, ["mean"], "in").collect()}
    assert in_[2] == 10.0 and in_[1] == 30.0
    both = {r.vid: r.nbr_count for r in
            A.neighbor_agg(edges, feats, ["count"], "both").collect()}
    assert both == {1: 2, 2: 1, 3: 1}  # 1-3 counted once undirected
    with pytest.raises(ValueError):
        A.neighbor_agg(edges, feats, ["median"])


def test_ego_network_radius(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (9, 1)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "vid long")
    r1 = sorted(tuple(r) for r in A.ego_network(edges, seeds, 1).collect())
    assert r1 == [(1, 2)]  # ball {1,2}; 9->1 excluded (9 outside ball)
    r2 = sorted(tuple(r) for r in A.ego_network(edges, seeds, 2).collect())
    assert r2 == [(1, 2), (2, 3)]
    r0 = A.ego_network(edges, seeds, 0).collect()
    assert r0 == []


def test_scc_descending_chain_all_singletons(spark):
    """Descending-id chain 60->59->...->1 — the worst case of plain
    multi-pivot coloring (every round would peel exactly one root); the
    trim step resolves the whole chain as trivial SCCs up front."""
    edges = spark.createDataFrame(
        [(i, i - 1) for i in range(60, 1, -1)], "src long, dst long"
    )
    verts = spark.createDataFrame([(i,) for i in range(1, 61)], "vid long")
    got = {r.vid: r.scc_id for r in A.strongly_connected_component(edges, verts).collect()}
    assert got == {i: i for i in range(1, 61)}


def test_session_temporal_nbr_ego(pgq, spark):
    """Natural-key wrappers for temporal reachability, neighbor_agg and
    ego_network on the F1 graph (know edges carry createDate 10-17)."""
    seeds = spark.createDataFrame([(0,)], "id long")
    tr = {(r.seed_id, r.at_id): r.arrival for r in
          pgq.temporal_reachability("pg", "Person", "Knows", seeds, "createDate").collect()}
    # 0 departs at >=0: 0->1@10, 0->2@11, 0->3@12; then 1->3@15 (>=10) but
    # 12 via direct is earlier; 1->2@14 later than direct 11; 3->0@13
    # returns but 0 already at 0
    assert tr[(0, 0)] == 0 and tr[(0, 1)] == 10 and tr[(0, 2)] == 11 and tr[(0, 3)] == 12
    na = {r[0]: r.nbr_count for r in
          pgq.neighbor_agg("pg", "Person", "Knows", "id", ["count"], "out").collect()}
    assert na[0] == 3 and na[4] == 1
    ego = {tuple(r) for r in
           pgq.ego_network("pg", "Person", "Knows", seeds, 1).collect()}
    # ball {0,1,2,3}: all know-edges among them (4->3 excluded)
    assert ego == {(0, 1), (0, 2), (0, 3), (3, 0), (1, 2), (1, 3), (2, 3)}
    with pgq_raises():
        pgq.temporal_reachability("pg", "Person", "Knows", seeds, "nope")


from contextlib import contextmanager


@contextmanager
def pgq_raises():
    from duckpgq_extension_spark.errors import PGQBinderError

    try:
        yield
        raise AssertionError("expected PGQBinderError")
    except PGQBinderError:
        pass


def test_sql_algorithm_call_in_literal_and_comment_untouched(pgq):
    r = pgq.sql("SELECT 'from pagerank(pg, a, b)' AS s -- pagerank(pg, x, y)\n").collect()
    assert r[0].s == "from pagerank(pg, a, b)"
    r2 = pgq.sql("SELECT /* pagerank(pg, a, b) */ 1 AS one").collect()
    assert r2[0].one == 1


def test_sql_algorithm_call_select_position_not_rewritten(pgq):
    """A same-named call in SELECT position must NOT dispatch — it should
    reach Spark unresolved and raise Spark's own analysis error, not run
    a graph algorithm."""
    import pytest as _pt

    from pyspark.errors.exceptions.captured import AnalysisException

    with _pt.raises(AnalysisException):
        pgq.sql("SELECT a, hits(x, y, z) FROM (SELECT 1 a, 2 x, 3 y, 4 z)").collect()


def test_eccentricity_toy(toy):
    edges, _ = toy
    seeds = edges.sparkSession.createDataFrame([(1,), (4,), (6,)], "vid long")
    got = {r.vid: (r.eccentricity, r.reached) for r in
           A.eccentricity(edges, seeds).collect()}
    # 1 reaches 2@1 3@2 4@3 5@4; 4 reaches 5@1; 6 reaches nothing
    assert got[1] == (4, 5) and got[4] == (1, 2) and got[6] == (0, 1)


def test_shortest_path_counts_diamond(spark):
    """1->2->4, 1->3->4 and 4->5: two geodesics reach 4, both continue
    to 5; direct 1->4 edge would change nothing (longer paths don't
    count)."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 4), (1, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "vid long")
    got = {(r.src, r.dst): (r.dist, r.sigma) for r in
           A.shortest_path_counts(edges, seeds).collect()}
    assert got[(1, 1)] == (0, 1)
    assert got[(1, 2)] == (1, 1) and got[(1, 3)] == (1, 1)
    assert got[(1, 4)] == (2, 2)
    assert got[(1, 5)] == (3, 2)


def _brandes_python(n, edge_list, sources):
    """Reference Brandes (directed, unnormalized) for the cross-check."""
    from collections import deque

    adj = {}
    for s, d in edge_list:
        adj.setdefault(s, []).append(d)
    bc = {v: 0.0 for v in range(n)}
    for s in sources:
        stack, preds = [], {v: [] for v in range(n)}
        sigma = {v: 0.0 for v in range(n)}
        dist = {v: -1 for v in range(n)}
        sigma[s], dist[s] = 1.0, 0
        q = deque([s])
        while q:
            v = q.popleft()
            stack.append(v)
            for w in adj.get(v, []):
                if dist[w] < 0:
                    dist[w] = dist[v] + 1
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
                    preds[w].append(v)
        delta = {v: 0.0 for v in range(n)}
        while stack:
            w = stack.pop()
            for v in preds[w]:
                delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
            if w != s:
                bc[w] += delta[w]
    return bc


def test_betweenness_vs_python_brandes(spark):
    n = 30
    edge_list = sorted(
        {((i * 11 + 3) % n, (i * 17 + j * 7 + 1) % n) for i in range(50) for j in range(2)}
    )
    edge_list = [(s, d) for s, d in edge_list if s != d]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    sources = [0, 5, 10, 15]
    seeds = spark.createDataFrame([(s,) for s in sources], "vid long")
    got = {r.vid: r.betweenness for r in
           A.betweenness_centrality(edges, seeds).collect()}
    want = _brandes_python(n, edge_list, sources)
    for v, bc in want.items():
        if bc > 0 or v in got:
            assert got.get(v, 0.0) == pytest.approx(bc, abs=1e-9), v


def test_betweenness_path_graph(spark):
    """Path 1->2->3->4 from seed 1: middle vertices carry 2 and 1
    dependencies respectively."""
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "vid long")
    got = {r.vid: r.betweenness for r in
           A.betweenness_centrality(edges, seeds).collect()}
    assert got[2] == pytest.approx(2.0) and got[3] == pytest.approx(1.0)
    assert got[4] == pytest.approx(0.0)


def test_harmonic_toy(toy):
    edges, _ = toy
    seeds = edges.sparkSession.createDataFrame([(1,), (6,)], "vid long")
    got = {r.vid: (r.harmonic, r.reached) for r in
           A.harmonic_centrality(edges, seeds).collect()}
    # 1: dists 1,2,3,4 -> 1 + 1/2 + 1/3 + 1/4
    assert got[1][0] == pytest.approx(1 + 0.5 + 1 / 3 + 0.25) and got[1][1] == 5
    assert got[6] == (0.0, 1)


def test_k_truss_peeling(spark):
    """K4 plus a pendant triangle sharing one vertex: the 4-truss keeps
    exactly the K4 (each K4 edge sits in 2 triangles; the pendant
    triangle's edges have support 1 and peel)."""
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    extra = [(3, 10), (3, 11), (10, 11)]
    edges = spark.createDataFrame(k4 + extra, "src long, dst long")
    got = sorted(tuple(r) for r in A.k_truss(edges, 4).collect())
    assert got == sorted(k4)
    # 3-truss (support >= 1) keeps both cliques' edges
    got3 = sorted(tuple(r) for r in A.k_truss(edges, 3).collect())
    assert got3 == sorted(k4 + extra)
    # 5-truss of K4 is empty (needs support 3)
    assert A.k_truss(edges, 5).count() == 0
    with pytest.raises(ValueError):
        A.k_truss(edges, 1)


def test_k_truss_cascade(spark):
    """Peeling cascades: a triangle chained to a K4 by one shared edge
    survives round 1 (support 1) but its closing vertex depends on the
    shared edge's survival — 4-truss drops the chained triangle."""
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    chained = [(2, 20), (3, 20)]  # triangle (2,3,20) shares edge (2,3)
    edges = spark.createDataFrame(k4 + chained, "src long, dst long")
    got = sorted(tuple(r) for r in A.k_truss(edges, 4).collect())
    assert got == sorted(k4)


def test_session_seeded_wrappers(pgq, spark):
    """harmonic/eccentricity/betweenness/k_truss wrappers surface natural
    keys on the F1 graph (0->1,0->2,0->3,3->0,1->2,1->3,2->3,4->3)."""
    seeds = spark.createDataFrame([(4,)], "id long")
    h = {r[0]: (r.harmonic, r.reached) for r in
         pgq.harmonic_centrality("pg", "Person", "Knows", seeds).collect()}
    # 4: dists to 3@1, 0@2, 1@3, 2@3 -> 1 + 1/2 + 1/3 + 1/3
    assert h[4][0] == pytest.approx(1 + 0.5 + 1 / 3 + 1 / 3) and h[4][1] == 5
    ecc = {r[0]: r.eccentricity for r in
           pgq.eccentricity("pg", "Person", "Knows", seeds).collect()}
    assert ecc[4] == 3
    bc = {r[0]: r.betweenness for r in
          pgq.betweenness_centrality("pg", "Person", "Knows", seeds).collect()}
    # from 4: 3@1, 0@2, 1@3, 2@3 (all sigma 1); leaves 1,2 have delta 0,
    # delta(0) = 2, delta(3) = 1 + delta(0) = 3
    assert bc[3] == pytest.approx(3.0) and bc[0] == pytest.approx(2.0)
    # k_truss: undirected F1 graph has triangles among {0,1,2,3};
    # edge 4-3 has support 0 and peels at k=3
    tr = sorted(tuple(r) for r in pgq.k_truss("pg", "Person", "Knows", 3).collect())
    assert (4, 3) not in tr and (3, 4) not in tr and len(tr) > 0


def test_sql_eigenvector_and_modularity_table_functions(pgq):
    """Round-7c dispatch additions: eigenvector_centrality and
    modularity resolve as SQL table functions like pagerank."""
    ev = {r[0]: r[1] for r in pgq.sql(
        "SELECT id, eigenvector FROM eigenvector_centrality(pg, Person, Knows)"
    ).collect()}
    api = {r[0]: r[1] for r in
           pgq.eigenvector_centrality("pg", "Person", "Knows").collect()}
    assert ev == api and len(ev) > 0
    q = pgq.sql(
        "SELECT SUM(contribution) AS q FROM modularity(pg, Person, Knows)"
    ).collect()
    assert q[0]["q"] is not None


# ------------------------------------------------- composed reports (r8)


def test_distance_report_matches_standalone_kernels(toy, spark):
    edges, _ = toy
    seeds = spark.createDataFrame([(1,), (4,), (6,)], "vid long")
    rep = {r.vid: r for r in A.distance_report(edges, seeds).collect()}
    clo = {r.vid: r for r in A.closeness_centrality(edges, seeds).collect()}
    har = {r.vid: r for r in A.harmonic_centrality(edges, seeds).collect()}
    ecc = {r.vid: r for r in A.eccentricity(edges, seeds).collect()}
    assert set(rep) == set(clo) == set(har) == set(ecc)
    for vid, r in rep.items():
        assert r.reached == clo[vid].reached
        assert r.closeness == clo[vid].closeness
        assert r.harmonic == har[vid].harmonic
        assert r.eccentricity == ecc[vid].eccentricity


def test_k_truss_k3_single_peel_fixpoint(spark):
    # triangle {1,2,3} + pendant chain 3-4-5: k=3 keeps exactly the
    # triangle, and (the fast-path claim) the one-peel result IS the
    # fixpoint — re-peeling the survivors changes nothing
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    got = sorted((r.src, r.dst) for r in A.k_truss(edges, k=3).collect())
    assert got == [(1, 2), (1, 3), (2, 3)]
    again = sorted(
        (r.src, r.dst)
        for r in A.k_truss(
            spark.createDataFrame(got, "src long, dst long"), k=3
        ).collect()
    )
    assert again == got


def test_modularity_refine_moves_mislabeled_bridge(spark):
    # two triangles {1,2,3} and {4,5,6} joined by the bridge 3-4; vertex
    # 4 starts mislabeled into the LEFT community.  Hand-derived scores
    # (2m=14): moving 4 from com-1 to com-5 scores 14*(2-1)+3*(10-3-4)
    # = 23 > 0 (moves); 5 scores 14*0+2*(4-2-10) < 0 (stays); all
    # same-community vertices have no foreign candidates (stay).
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 1), (5, 5), (6, 5)],
        "vid long, label long",
    )
    got = {r.vid: r.label for r in A.modularity_refine(edges, labels).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 5, 5: 5, 6: 5}
    # the pass is a strict modularity improvement here
    import pyspark.sql.functions as F
    def q(lab_rows):
        lab = spark.createDataFrame(list(lab_rows.items()), "vid long, label long")
        return A.modularity(edges, lab).agg(F.sum("contribution")).first()[0]
    before = q({1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5})
    after = q(got)
    assert after > before
    # a correct assignment is a fixpoint (every move scores <= 0)
    again = {r.vid: r.label for r in A.modularity_refine(
        edges, spark.createDataFrame(list(got.items()), "vid long, label long")
    ).collect()}
    assert again == got


def test_contract_and_conductance_two_triangles(spark):
    # triangles {1,2,3} / {4,5,6} + bridge 3-4, communities 1 and 5:
    # contraction -> self-edges weight 3 each + one cross edge; both
    # communities have volume 7 (2m=14) and one boundary edge each.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 5), (5, 5), (6, 5)],
        "vid long, label long",
    )
    cg = {(r.src, r.dst): r.weight
          for r in A.contract_communities(edges, labels).collect()}
    assert cg == {(1, 1): 3, (5, 5): 3, (1, 5): 1}
    cond = {r.community: (r.cut_edges, r.volume, r.conductance)
            for r in A.community_conductance(edges, labels).collect()}
    assert cond == {1: (1, 7, round(1 / 7, 6)), 5: (1, 7, round(1 / 7, 6))}


def test_conductance_whole_graph_community_is_null(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    labels = spark.createDataFrame(
        [(1, 9), (2, 9), (3, 9)], "vid long, label long"
    )
    rows = A.community_conductance(edges, labels).collect()
    assert len(rows) == 1 and rows[0].conductance is None
    assert rows[0].cut_edges == 0 and rows[0].volume == 4


def test_sql_dispatch_louvain_family(pgq):
    # round-8 table functions: local-move refinement, community graph,
    # conductance — all dispatch from FROM position like pagerank
    ref = {r.vid: r.label for r in
           pgq.sql("SELECT * FROM modularity_refine(pg, Person, Knows)").collect()}
    api = {r.vid: r.label for r in
           pgq.modularity_refine("pg", "Person", "Knows").collect()}
    assert ref == api and len(ref) > 0
    cg = pgq.sql("SELECT * FROM contract_communities(pg, Person, Knows)").collect()
    assert all(r.src <= r.dst and r.weight >= 1 for r in cg)
    cond = pgq.sql(
        "SELECT * FROM community_conductance(pg, Person, Knows)"
    ).collect()
    assert len(cond) > 0
    assert all(
        r.cut_edges is not None and r.cut_edges >= 0 and r.volume > 0 for r in cond
    )


def test_modularity_refine_multipass_converges_triangle(spark):
    # singleton seed on a triangle: pass 1 collapses to {1:2, 2:1, 3:1}
    # (each vertex moves to its smallest positive-gain neighbor), pass 2
    # reaches the whole-triangle community {all: 1}, further passes are
    # no-ops — multi-pass with early exit must land on the fixpoint
    edges = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src long, dst long")
    singles = spark.createDataFrame([(i, i) for i in (1, 2, 3)], "vid long, label long")
    one = {r.vid: r.label for r in A.modularity_refine(edges, singles, passes=1).collect()}
    assert one == {1: 2, 2: 1, 3: 1}
    multi = {r.vid: r.label for r in A.modularity_refine(edges, singles, passes=5).collect()}
    assert multi == {1: 1, 2: 1, 3: 1}
    with __import__("pytest").raises(ValueError):
        A.modularity_refine(edges, singles, passes=0)


def test_betweenness_sampled_estimator(spark):
    """r11 (VERDICT r10 item 6): above the sample threshold the default
    route is the source-sampled estimator — a deterministic hash-stride
    subsample rescaled by n/k; it must equal the exact kernel run over
    exactly that subsample times the scale, and sample_sources=None must
    force the exact route."""
    from pyspark.sql import functions as F

    n = 40
    edge_list = sorted(
        {((i * 13 + 5) % n, (i * 19 + j * 3 + 2) % n) for i in range(80) for j in range(2)}
    )
    edge_list = [(s, d) for s, d in edge_list if s != d]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    seeds = spark.createDataFrame([(v,) for v in range(n)], "vid long")
    k_target = 8
    stride = -(-n // k_target)
    sub = [
        r[0]
        for r in spark.createDataFrame([(v,) for v in range(n)], "src long")
        .where(F.expr(f"pmod(xxhash64(src), {stride}) = 0"))
        .collect()
    ]
    assert 0 < len(sub) < n
    sampled = {
        r.vid: r.betweenness
        for r in A.betweenness_centrality(
            edges, seeds, sample_sources=k_target
        ).collect()
    }
    exact_over_sub = {
        r.vid: r.betweenness
        for r in A.betweenness_centrality(
            edges, spark.createDataFrame([(v,) for v in sub], "vid long"),
            sample_sources=None,
        ).collect()
    }
    scale = n / len(sub)
    for v, bc in exact_over_sub.items():
        assert sampled.get(v, 0.0) == pytest.approx(bc * scale, rel=1e-9), v
    # exact flag on the full seed set ignores the threshold entirely
    exact_full = {
        r.vid: r.betweenness
        for r in A.betweenness_centrality(
            edges, seeds, sample_sources=None
        ).collect()
    }
    assert len(exact_full) >= len(sampled)


# ------------------------------------------------------------ fixpoint


def test_unconverged_tolerance_warns(toy):
    """A tolerance-driven kernel that spends its whole round budget says
    so; fixed-budget calls (tol=0) and converged calls stay silent."""
    import warnings

    edges, verts = toy
    for kernel, call in [
        ("pagerank", lambda **kw: A.pagerank(edges, verts, **kw)),
        ("hits", lambda **kw: A.hits(edges, verts, **kw)),
    ]:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            call(tol=1e-15, max_iter=2)
        ours = [w for w in caught if issubclass(w.category, RuntimeWarning)]
        assert len(ours) == 1, [str(w.message) for w in caught]
        msg = str(ours[0].message)
        assert kernel in msg and "2 rounds" in msg and "last delta" in msg
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            call(tol=0, max_iter=2)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        A.pagerank(edges, verts)  # converges well inside max_iter=100


def test_fixpoint_checkpoint_cadence(toy, monkeypatch):
    """One checkpoint job per round (every other round plus the last for
    the fixed-budget linear kernels), plus each kernel's setup frames;
    the adjacency cache is cleared first so the count is the cold one."""
    from duckpgq_extension_spark.operators import paths as pathops

    edges, verts = toy
    calls = []
    real = pathops.materialize

    def counting(df, eager=True):
        calls.append(1)
        return real(df, eager)

    monkeypatch.setattr(pathops, "materialize", counting)
    runs = {
        "pagerank": lambda: A.pagerank(edges, verts, tol=0, max_iter=4),
        "label_propagation": lambda: A.label_propagation(edges, verts, max_iter=5),
        "katz": lambda: A.katz_centrality(edges, verts),
        "eigenvector": lambda: A.eigenvector_centrality(edges, verts),
        "k_core": lambda: A.k_core(edges, verts, 2),
    }
    got = {}
    for name, run in runs.items():
        pathops.clear_prep_cache()
        calls.clear()
        run().collect()
        got[name] = len(calls)
    assert got == {
        # vertex frame + dangling probe + 4 rounds
        "pagerank": 6,
        # vertex frame + adjacency (built, then re-checkpointed) + seed
        # labels + rounds 2, 4, 5
        "label_propagation": 7,
        # vertex frame + seed vector + rounds 2, 4, 5
        "katz": 5,
        # vertex frame + seed vector + rounds 2, 4, 6, 8, 10
        "eigenvector": 7,
        # adjacency (built, then re-checkpointed) + vertex frame + 3 peels
        # (vertex 5, then 4, then the stable round)
        "k_core": 6,
    }
