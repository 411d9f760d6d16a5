"""Invariant tests for graph operators on a crafted graph with known
structure (SURVEY §5.3: cliques + singletons + a star hub)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdatafraude_ml_graphx_spark.graph import (
    connected_components,
    degrees,
    pagerank,
    symmetrize,
)


@pytest.fixture(scope="module")
def crafted(spark):
    # Components: clique {1,2,3}, path {10,11,12,13}, singleton edge {20,21},
    # star hub 30 with leaves 31..35.
    edges = [
        (1, 2), (1, 3), (2, 3),
        (10, 11), (11, 12), (12, 13),
        (20, 21),
        (30, 31), (30, 32), (30, 33), (30, 34), (30, 35),
    ]
    return spark.createDataFrame(edges, "src long, dst long")


def test_degrees(crafted):
    d = {r["id"]: r["degree"] for r in degrees(crafted).collect()}
    assert d[30] == 5  # star hub
    assert d[1] == d[2] == d[3] == 2  # clique
    assert d[31] == 1
    assert d[11] == 2 and d[10] == 1


def test_connected_components(crafted):
    cc = connected_components(crafted).collect()
    comp = {r["id"]: r["component"] for r in cc}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == comp[12] == comp[13] == 10
    assert comp[20] == comp[21] == 20
    assert all(comp[v] == 30 for v in (30, 31, 32, 33, 34, 35))
    assert len({comp[v] for v in comp}) == 4


def test_connected_components_string_ids(spark):
    # The reference's own graph casts vertex ids to STRING
    # (/root/reference/notebooks/4_graphx.ipynb:334-336). A label sum over
    # strings is NULL, so a naive sum-based convergence test exits after one
    # round; this path graph needs >=3 propagation rounds, so a premature
    # exit yields wrong labels. Components: path {u10..u13}, pair {u20,u21}.
    edges = [
        ("u10", "u11"), ("u11", "u12"), ("u12", "u13"),
        ("u20", "u21"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    comp = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert comp["u10"] == comp["u11"] == comp["u12"] == comp["u13"] == "u10"
    assert comp["u20"] == comp["u21"] == "u20"


def test_connected_components_isolated_vertices(spark, crafted):
    verts = spark.createDataFrame([(99,), (1,)], "id long")
    comp = {
        r["id"]: r["component"]
        for r in connected_components(crafted, vertices=verts).collect()
    }
    assert comp[99] == 99  # isolated singleton
    assert comp[1] == 1


def test_pagerank_ordering(crafted):
    # Uniform weights normalized per-src over the symmetrized edges.
    e = symmetrize(crafted.withColumn("weight", F.lit(1.0)))
    tot = e.groupBy("src").agg(F.sum("weight").alias("t"))
    e = e.join(tot, "src").select(
        "src", "dst", (F.col("weight") / F.col("t")).alias("weight")
    )
    pr = {r["id"]: r["pagerank"] for r in pagerank(e, max_iter=5).collect()}
    n = len(pr)
    assert n == 15
    # Teleport floor: every score >= alpha/n.
    assert all(v >= 0.15 / n - 1e-12 for v in pr.values())
    # The star hub dominates its leaves and everything else.
    assert pr[30] == max(pr.values())
    assert all(pr[30] > pr[v] for v in (31, 32, 33, 34, 35))
    # Symmetric roles within the clique get identical scores.
    assert abs(pr[1] - pr[2]) < 1e-15 and abs(pr[2] - pr[3]) < 1e-15


def test_property_graph_facade(spark, crafted):
    from bigdatafraude_ml_graphx_spark.graph import PropertyGraph

    g = PropertyGraph(None, crafted.withColumn("weight", F.lit(1.0)))
    assert {r["id"]: r["degree"] for r in g.degrees.collect()}[30] == 5
    comp = {r["id"]: r["component"] for r in g.connected_components().collect()}
    assert comp[31] == 30
    pr = {r["id"]: r["pagerank"] for r in g.page_rank(max_iter=3).collect()}
    assert pr[30] == max(pr.values())
    pr_u = {r["id"]: r["pagerank"] for r in g.page_rank(max_iter=3, weighted=False).collect()}
    assert pr_u[30] == max(pr_u.values())


def _bfs_reference(edge_list, landmarks):
    """Undirected hop distances {(vertex, landmark): d} by plain BFS."""
    from collections import deque

    adj = {}
    for a, b in edge_list:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expect = {}
    for lm in landmarks:
        seen = {lm: 0}
        dq = deque([lm])
        while dq:
            u = dq.popleft()
            for v in adj[u]:
                if v not in seen:
                    seen[v] = seen[u] + 1
                    dq.append(v)
        for v, d in seen.items():
            expect[(v, lm)] = d
    return expect


def test_shortest_paths_matches_python_bfs(spark):
    """Hop distances equal a pure-Python BFS on a hand-checkable graph with
    a cycle, a chain, and an unreachable island."""
    from bigdatafraude_ml_graphx_spark.graph.bfs import shortest_paths

    edge_list = [(1, 2), (2, 3), (3, 4), (4, 1), (4, 5), (5, 6), (7, 8)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    landmarks = spark.createDataFrame([(1,), (7,)], "id long")
    got = {
        (r.id, r.landmark): r.distance
        for r in shortest_paths(edges, landmarks).collect()
    }
    assert got == _bfs_reference(edge_list, (1, 7))
    assert (6, 1) in got and got[(6, 1)] == 3  # 1→4 (cycle edge) →5→6
    assert (6, 7) not in got  # island stays unreachable


def test_shortest_paths_raises_when_diameter_exceeds_budget(spark):
    """A path graph with hop diameter > max_iterations must fail loudly
    (truncated distances would silently diverge from an exact-closure
    oracle), and on_nonconverged='return' opts into bounded-hop output."""
    import pytest as _pytest

    from bigdatafraude_ml_graphx_spark.graph.bfs import shortest_paths

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], ["src", "dst"]
    )
    landmarks = spark.createDataFrame([(0,)], ["id"])
    with _pytest.raises(RuntimeError, match="did not stabilize"):
        shortest_paths(edges, landmarks, max_iterations=3)
    partial = shortest_paths(
        edges, landmarks, max_iterations=3, on_nonconverged="return"
    )
    got = {r.id: r.distance for r in partial.collect()}
    assert got[0] == 0 and max(got.values()) <= 3
    full = shortest_paths(edges, landmarks, max_iterations=12)
    assert {r.id: r.distance for r in full.collect()} == {
        i: i for i in range(9)
    }


def test_label_propagation_separates_disjoint_cliques(spark):
    """Min-tie synchronous LPA: two disjoint triangles each converge to
    the min vertex id; communities never mix across components."""
    from bigdatafraude_ml_graphx_spark.graph.lpa import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)],
        ["src", "dst"],
    )
    got = {r.id: r.label for r in label_propagation(edges, 4).collect()}
    assert set(got) == {1, 2, 3, 10, 11, 12}
    assert {got[1], got[2], got[3]} == {1}
    assert {got[10], got[11], got[12]} == {10}


def test_label_propagation_matches_reference_rounds(spark):
    """One round on a star matches the hand-computed synchronous update
    (every leaf adopts the hub's label; the hub adopts the min leaf)."""
    from bigdatafraude_ml_graphx_spark.graph.lpa import label_propagation

    star = spark.createDataFrame(
        [(5, 1), (5, 2), (5, 3)], ["src", "dst"]
    )
    got = {r.id: r.label for r in label_propagation(star, 1).collect()}
    assert got == {5: 1, 1: 5, 2: 5, 3: 5}


def _scc_reference(edges):
    """Iterative Tarjan on plain Python — test oracle."""
    from collections import defaultdict

    adj = defaultdict(list)
    verts = set()
    for s, d in edges:
        adj[s].append(d)
        verts.add(s)
        verts.add(d)
    index = {}
    low = {}
    on_stack = set()
    stack = []
    comp = {}
    counter = [0]

    def strongconnect(root):
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
                m = min(members)
                for w in members:
                    comp[w] = m
            work.pop()
            if work:
                u, _ = work[-1]
                low[u] = min(low[u], low[v])

    for v in sorted(verts):
        if v not in index:
            strongconnect(v)
    return comp


def test_scc_matches_tarjan_on_random_digraphs(spark):
    import random

    from bigdatafraude_ml_graphx_spark.graph.scc import (
        strongly_connected_components,
    )

    rng = random.Random(99)
    for trial in range(3):
        n = 40
        edges = list({
            (rng.randint(0, n - 1), rng.randint(0, n - 1))
            for _ in range(90)
        })
        edges = [(s, d) for s, d in edges if s != d]
        ref = _scc_reference(edges)
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {r.id: r.scc for r in strongly_connected_components(df).collect()}
        assert got == ref, f"trial {trial}"


@pytest.mark.parametrize("vid", [int, "v{}".format], ids=["long", "string"])
def test_scc_known_shapes(spark, vid):
    from bigdatafraude_ml_graphx_spark.graph.scc import (
        strongly_connected_components,
    )

    # two cycles bridged by a DAG edge + a tail
    edges = spark.createDataFrame(
        [(vid(a), vid(b)) for a, b in
         [(1, 2), (2, 3), (3, 1), (4, 5), (5, 4), (3, 4), (5, 6), (7, 1)]],
        ["src", "dst"],
    )
    got = sorted((r.id, r.scc) for r in strongly_connected_components(edges).collect())
    assert got == [
        (vid(a), vid(b))
        for a, b in [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6), (7, 7)]
    ]


def test_connected_components_raise_when_rounds_run_out(spark):
    """A 13-vertex chain needs 12 label-changing rounds: a budget of 5
    must raise instead of returning partly propagated labels, and a budget
    of exactly 12 succeeds (the confirming round is free)."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="connected_components: .* budget of 5 "):
        connected_components(edges, max_iter=5)
    comp = {r.id: r.component for r in connected_components(edges, max_iter=12).collect()}
    assert comp == {i: 0 for i in range(13)}


def test_connected_components_star_raises_when_rounds_run_out(spark):
    from bigdatafraude_ml_graphx_spark.graph.components import (
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long"
    )
    with pytest.raises(
        RuntimeError, match="connected_components_star: .* budget of 1 "
    ):
        connected_components_star(edges, max_iter=1)
    comp = {r.id: r.component for r in connected_components_star(edges).collect()}
    assert comp == {i: 0 for i in range(13)}


def test_shortest_paths_budget_equal_to_diameter_succeeds(spark):
    """A budget of exactly the hop diameter must return complete
    distances, not a spurious truncation error — the confirmation round
    is free (code-review regression, round 5)."""
    from bigdatafraude_ml_graphx_spark.graph.bfs import shortest_paths

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], ["src", "dst"]
    )
    landmarks = spark.createDataFrame([(0,)], ["id"])
    full = shortest_paths(edges, landmarks, max_iterations=8)
    assert {r.id: r.distance for r in full.collect()} == {
        i: i for i in range(9)
    }


def test_per_vertex_triangles_match_bruteforce(spark):
    import itertools
    import random

    from bigdatafraude_ml_graphx_spark.graph.triangles import (
        per_vertex_triangle_counts,
    )

    rng = random.Random(5)
    edges = sorted({
        tuple(sorted((rng.randint(0, 14), rng.randint(0, 14))))
        for _ in range(40)
    })
    edges = [e for e in edges if e[0] != e[1]]
    eset = set(edges)
    expect = {}
    for a, b, c in itertools.combinations(range(15), 3):
        if (a, b) in eset and (b, c) in eset and (a, c) in eset:
            for v in (a, b, c):
                expect[v] = expect.get(v, 0) + 1
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.id: r.n_triangles for r in per_vertex_triangle_counts(df).collect()}
    assert got == expect


@pytest.mark.parametrize("vid", [int, "v{}".format], ids=["long", "string"])
def test_kcore_peels_to_maximal_subgraph(spark, vid):
    from bigdatafraude_ml_graphx_spark.graph.degrees import k_core

    # triangle + tail: 2-core = triangle; chain peels entirely
    edges = spark.createDataFrame(
        [(vid(a), vid(b)) for a, b in
         [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)]],
        ["src", "dst"],
    )
    got = {(r.id, r.core_degree) for r in k_core(edges, 2).collect()}
    assert got == {(vid(1), 2), (vid(2), 2), (vid(3), 2)}
    # 4-clique survives its own 3-core; pendant vertex peels
    e2 = spark.createDataFrame(
        [(vid(a), vid(b)) for a, b in
         [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]],
        ["src", "dst"],
    )
    assert k_core(e2, 3).count() == 4
    assert k_core(e2, 5).count() == 0


def test_personalized_pagerank_concentrates_on_sources(spark):
    """PPR invariants on a crafted chain: total mass <= 1 (dangling decay),
    a source holds at least its alpha * 1/|S| teleport share, and vertices
    unreachable from any source score exactly 0."""
    from bigdatafraude_ml_graphx_spark.graph.pagerank import (
        personalized_pagerank,
    )

    # 1 -> 2 -> 3, isolated pair 4 -> 5; source = {1}
    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (4, 5, 1.0)], "src long, dst long, weight double"
    )
    s = spark.createDataFrame([(1,)], "id long")
    pr = {
        r["id"]: r["pagerank"]
        for r in personalized_pagerank(e, s, max_iter=5).collect()
    }
    assert set(pr) == {1, 2, 3, 4, 5}
    assert abs(pr[1] - 0.15) < 1e-12  # source keeps exactly its teleport
    assert pr[2] > pr[3] > 0  # mass decays along the chain
    assert pr[4] == 0.0 and pr[5] == 0.0  # unreachable from the seed
    assert sum(pr.values()) <= 1.0 + 1e-9


def test_k_truss_peels_bridges_keeps_clique(spark):
    """4-clique + a pendant path: the 3-truss keeps exactly the clique's
    6 edges (each closing 2 triangles); the 4-truss also keeps the clique
    (support 2 >= k-2); the 5-truss is empty. The pendant/bridge edges
    peel away in every case — including the CASCADE: edge (4,5) is in no
    triangle, and removing it cannot resurrect anything."""
    from bigdatafraude_ml_graphx_spark.graph.truss import k_truss

    clique = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    edges = spark.createDataFrame(
        clique + [(3, 4), (4, 5)], "src long, dst long"
    )
    t3 = {(r.src, r.dst): r.support for r in k_truss(edges, 3).collect()}
    assert set(t3) == set(clique)
    assert all(s == 2 for s in t3.values())
    t4 = {(r.src, r.dst) for r in k_truss(edges, 4).collect()}
    assert t4 == set(clique)
    assert k_truss(edges, 5).count() == 0


def test_k_truss_cascading_peel(spark):
    """Two triangles sharing edge (1,2), plus vertex 9 hanging off both
    triangle tips: after the hangers peel, supports are recomputed on the
    SURVIVING graph (the iterative part)."""
    from bigdatafraude_ml_graphx_spark.graph.truss import k_truss

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (1, 4), (2, 4), (3, 9), (4, 9)],
        "src long, dst long",
    )
    t3 = {(r.src, r.dst) for r in k_truss(edges, 3).collect()}
    assert t3 == {(1, 2), (1, 3), (2, 3), (1, 4), (2, 4)}


def test_normalize_weights_shares_sum_to_one(spark):
    """Each source's shares sum to 1: the share is a double division over
    the exact decimal total, not a decimal division rounded to 6 digits
    (three unit edges would get 0.333333 each and sum to 0.999999)."""
    from bigdatafraude_ml_graphx_spark.graph import normalize_weights

    e = spark.createDataFrame(
        [(1, 2, 1), (1, 3, 1), (1, 4, 1), (2, 1, 3), (2, 3, 4), (5, 1, 7)],
        "src long, dst long, weight long",
    )
    totals = {}
    for r in normalize_weights(e).collect():
        totals[r["src"]] = totals.get(r["src"], 0.0) + r["weight"]
    assert set(totals) == {1, 2, 5}
    assert all(abs(t - 1.0) <= 1e-15 for t in totals.values()), totals


# ---------------------------------------------------------------------------
# Edge layout (_iteration_edges): PageRank, PPR, CC and BFS iterate over the
# checkpointed edges as they are; LPA keys them on src
# ---------------------------------------------------------------------------

# A 200-vertex clique with a 10-edge pendant chain off vertex 199, in ONE
# partition: |E| = 39,820 symmetrized edges over |V| = 210 — dense enough
# that a round's map-side combine shrinks the edges ~190-fold.
_CLIQUE = 200
_DENSE_EDGES = [
    (i, j) for i in range(_CLIQUE) for j in range(i + 1, _CLIQUE)
] + [(v, v + 1) for v in range(_CLIQUE - 1, _CLIQUE + 9)]


@pytest.fixture(scope="module")
def dense(spark):
    return spark.createDataFrame(_DENSE_EDGES, "src long, dst long").coalesce(1)


def _plan(df) -> str:
    return df._jdf.queryExecution().toString()


def _is_keyed(df) -> bool:
    return "InMemoryRelation" in _plan(df)


@pytest.fixture
def edge_layouts(monkeypatch):
    """Records, per ``_iteration_edges`` call, whether the edges were
    re-keyed (callers look the helper up at call time)."""
    import importlib

    # (``graph.pagerank`` the attribute is the function, not the module)
    pr_mod = importlib.import_module("bigdatafraude_ml_graphx_spark.graph.fixpoint")
    real = pr_mod._iteration_edges
    keyed: list[bool] = []

    def spy(df, *args, **kwargs):
        out = real(df, *args, **kwargs)
        keyed.append(_is_keyed(out))
        return out

    monkeypatch.setattr(pr_mod, "_iteration_edges", spy)
    return keyed


def _sym_weighted(edge_list):
    """Symmetrized edges with per-source shares 1/out-degree, as doubles."""
    sym = [(a, b) for a, b in edge_list] + [(b, a) for a, b in edge_list]
    deg = {}
    for a, _ in sym:
        deg[a] = deg.get(a, 0) + 1
    return [(a, b, 1.0 / deg[a]) for a, b in sym]


def _pagerank_reference(weighted, teleport=None, alpha=0.15, max_iter=5,
                        scale=1e14):
    """Power iteration with the engine's arithmetic: each product quantized
    to an int64 at ``scale``, exact integer sums, restart mass α/n (or α·t
    for a teleport set)."""
    import math

    verts = {v for a, b, _ in weighted for v in (a, b)}
    n = len(verts)
    if teleport is None:
        pr = {v: 1.0 / n for v in verts}
        restart = {v: alpha / n for v in verts}
    else:
        tele = {v: (1.0 / len(teleport) if v in teleport else 0.0) for v in verts}
        pr = dict(tele)
        restart = {v: alpha * tele[v] for v in verts}
    for _ in range(max_iter):
        q = {}
        for a, b, w in weighted:
            q[b] = q.get(b, 0) + math.floor(pr[a] * w * scale + 0.5)
        pr = {
            v: (1.0 - alpha) * (float(q[v]) / scale if v in q else 0.0) + restart[v]
            for v in verts
        }
    return pr


def _lpa_reference(edge_list, rounds):
    """Synchronous LPA, ties to the smallest label."""
    from collections import Counter

    nbrs = {}
    for a, b in edge_list:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    labels = {v: v for v in nbrs}
    for _ in range(rounds):
        counts = {v: Counter(labels[u] for u in ns) for v, ns in nbrs.items()}
        labels = {v: min(c, key=lambda lb: (-c[lb], lb)) for v, c in counts.items()}
    return labels


def _run_all_operators(spark, edges, edge_list):
    """PageRank, PPR, CC, BFS and LPA on ``edges`` against the pure-Python
    references."""
    from tests.test_graph_property import _union_find

    from bigdatafraude_ml_graphx_spark.graph.bfs import shortest_paths
    from bigdatafraude_ml_graphx_spark.graph.lpa import label_propagation
    from bigdatafraude_ml_graphx_spark.graph.pagerank import (
        personalized_pagerank,
    )

    verts = sorted({v for e in edge_list for v in e})
    weighted = _sym_weighted(edge_list)
    w_df = spark.createDataFrame(weighted, "src long, dst long, weight double")
    # Same partition count as ``edges``: every operator iterates the same P.
    w_df = w_df.coalesce(edges.rdd.getNumPartitions())
    seeds = verts[:2]
    seed_df = spark.createDataFrame([(v,) for v in seeds], "id long")

    pr = {r["id"]: r["pagerank"] for r in pagerank(w_df).collect()}
    assert pr == _pagerank_reference(weighted)
    ppr = {r["id"]: r["pagerank"]
           for r in personalized_pagerank(w_df, seed_df).collect()}
    assert ppr == _pagerank_reference(weighted, teleport=set(seeds))
    cc = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert cc == _union_find(edge_list, verts)
    sp = {(r.id, r.landmark): r.distance
          for r in shortest_paths(edges, seed_df).collect()}
    assert sp == _bfs_reference(edge_list, seeds)
    lpa = {r.id: r.label for r in label_propagation(edges, 3).collect()}
    assert lpa == _lpa_reference(edge_list, 3)


@pytest.mark.parametrize("graph", ["dense", "crafted"])
def test_operators_edge_layout_matches_references(
    spark, graph, request, edge_layouts
):
    """On a dense graph and on the small sparse one, PageRank, PPR, CC and
    BFS iterate over the unkeyed checkpoint, LPA over src-keyed edges, and
    every operator equals its pure-Python reference."""
    edges = request.getfixturevalue(graph)
    edge_list = (
        _DENSE_EDGES if graph == "dense"
        else [(r.src, r.dst) for r in edges.collect()]
    )
    _run_all_operators(spark, edges, edge_list)
    assert edge_layouts == [False, False, False, False, True]


def test_iteration_edges_layout_plans(spark, dense):
    """The unkeyed layout holds no Exchange and no cached copy over the
    edges; the keyed one is a repartition on the key, persisted."""
    from bigdatafraude_ml_graphx_spark.graph.fixpoint import _iteration_edges

    flat = _iteration_edges(symmetrize(dense))
    plan = _plan(flat)
    assert "Exchange" not in plan and "InMemoryRelation" not in plan
    assert flat.count() == 2 * len(_DENSE_EDGES)

    keyed = _iteration_edges(symmetrize(dense), key="src")
    plan = _plan(keyed)
    assert "InMemoryRelation" in plan and "Exchange" in plan
    assert keyed.count() == 2 * len(_DENSE_EDGES)
    keyed.unpersist()


# ---------------------------------------------------------------------------
# Jobs per round: each round's checkpoint is saved by the round's own job
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("broadcast", [True, False], ids=["broadcast", "shuffle"])
def test_one_job_per_round(spark, monkeypatch, broadcast):
    """Each round of CC, BFS and PageRank runs one job: the action that
    materializes, and so saves, the round's checkpoint. A state broadcast
    into the edge join adds its build job (CC, BFS); PageRank's build IS
    its round's job, so with the broadcast threshold at 0 its rounds need
    eager checkpoints, or they all run inside the last round's job.

    Counted as the difference in jobs between two calls whose inputs are
    two rounds apart. AQE is off while counting: it submits every exchange
    as a job of its own, which would hide the per-round actions."""
    import uuid

    from bigdatafraude_ml_graphx_spark.graph import fixpoint as fx
    from bigdatafraude_ml_graphx_spark.graph.bfs import shortest_paths

    if not broadcast:
        monkeypatch.setattr(fx, "_BROADCAST_ROWS", 0)
    sc = spark.sparkContext

    def jobs(call, rounds) -> int:
        group = f"jobs-per-round-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            call(rounds)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def per_round(call) -> float:
        return (jobs(call, 5) - jobs(call, 3)) / 2

    def chain(n):
        return spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "src long, dst long"
        )

    landmark = spark.createDataFrame([(0,)], "id long")
    weighted = spark.createDataFrame(
        _sym_weighted([(i, i + 1) for i in range(6)]),
        "src long, dst long, weight double",
    )
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        cc = per_round(lambda n: connected_components(chain(n)))
        bfs = per_round(lambda n: shortest_paths(chain(n), landmark))
        pr = per_round(lambda n: pagerank(weighted, max_iter=n))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    state_broadcast = 1 if broadcast else 0
    assert (cc, bfs, pr) == (1 + state_broadcast, 1 + state_broadcast, 1)
