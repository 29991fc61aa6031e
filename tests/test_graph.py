"""Golden-graph tests for the native graph algorithms (FIXTURES.md §3):
6 vertices, a dangling vertex (no out-edges), two triangles, a duplicate
edge, and a self-loop, with expected values computed by an independent
pure-Python evaluator of the same declared semantics."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from flight_delays_progetto_big_data_2024_spark.graph.algorithms import (
    degrees,
    pagerank,
    triangle_count,
    undirected_edges,
)
from tests.graph_paths import PATHS, graph_path, is_local_relation

# directed multigraph: A→B duplicated, D self-loop, F dangling
EDGES = [
    ("A", "B"),
    ("A", "B"),  # duplicate edge
    ("B", "C"),
    ("C", "A"),
    ("A", "C"),
    ("D", "D"),  # self-loop
    ("B", "D"),
    ("D", "E"),
    ("E", "B"),
    ("E", "F"),  # F has no out-edges (dangling)
]


@pytest.fixture(scope="module")
def edge_df(spark):
    return spark.createDataFrame(EDGES, ["src", "dst"])


def py_pagerank(edges, iters=10, reset=0.15, dedup=True):
    """Independent evaluator of the declared semantics: rank=1 init,
    rank = reset + (1-reset)·Σ rank_u/outdeg_u, dangling mass dropped.
    With dedup=False, parallel edges are separate contribution channels
    (each counts in out-degree and contributes once) — pagerank()'s
    documented multigraph behavior."""
    edges = sorted(set(edges)) if dedup else sorted(edges)
    verts = sorted({x for e in edges for x in e})
    outdeg = Counter(u for u, _ in edges)
    rank = {v: 1.0 for v in verts}
    for _ in range(iters):
        mass = {v: 0.0 for v in verts}
        for u, v in edges:
            mass[v] += rank[u] / outdeg[u]
        rank = {v: reset + (1 - reset) * mass[v] for v in verts}
    return rank


def test_degrees_count_parallel_edges(edge_df):
    got = {r["id"]: (r["in_degree"], r["out_degree"]) for r in degrees(edge_df).collect()}
    # A→B twice: B in-degree includes both; self-loop counts both ways
    assert got["B"] == (3, 2)  # A,A,E in; C,D out
    assert got["A"] == (1, 3)
    assert got["D"] == (2, 2)  # B,D(self) in; D(self),E out
    assert got["F"] == (1, 0)  # dangling: no out-edges


def _ranks(path, edges, **kw):
    """pagerank on ``path`` as {id: rank}, after checking the path
    really ran."""
    with graph_path(path):
        ranks = pagerank(edges, **kw)
        assert is_local_relation(ranks) == (path == "local"), path
        return {r["id"]: r["pagerank"] for r in ranks.collect()}


def test_pagerank_matches_independent_evaluator(edge_df):
    distinct = edge_df.distinct()
    want = py_pagerank(EDGES)
    for path in PATHS:
        got = _ranks(path, distinct)
        assert set(got) == set(want), path
        for v in want:
            assert got[v] == pytest.approx(want[v], abs=1e-9), (path, v)


def test_pagerank_parallel_edges_are_contribution_channels(edge_df):
    # the fixture's duplicate A->B edge fed AS-IS: out-degree counts it
    # and B receives A's mass twice over (documented multigraph rule)
    want = py_pagerank(EDGES, dedup=False)
    for path in PATHS:
        got = _ranks(path, edge_df)
        for v in want:
            assert got[v] == pytest.approx(want[v], abs=1e-9), (path, v)
    assert want["B"] > py_pagerank(EDGES)["B"]  # the duplicate matters


def test_pagerank_local_fastpath_matches_distributed(edge_df):
    """The driver-local loop and the distributed loop agree with each
    other and with the independent evaluator, unweighted and weighted
    (both paths split rank by weight share identically)."""
    distinct = edge_df.distinct()
    got = _ranks("local", distinct)
    dist = _ranks("distributed", distinct)
    want = py_pagerank(EDGES)
    assert set(got) == set(dist) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9), v
        assert got[v] == pytest.approx(dist[v], abs=1e-9), v
    spark = edge_df.sparkSession
    wdf = spark.createDataFrame(
        [("A", "B", 3.0), ("A", "C", 1.0), ("B", "C", 2.0), ("C", "A", 1.0)],
        ["src", "dst", "w"],
    )
    wl = _ranks("local", wdf, weight_col="w")
    wd = _ranks("distributed", wdf, weight_col="w")
    assert set(wl) == set(wd)
    for v in wd:
        assert wl[v] == pytest.approx(wd[v], abs=1e-9), v


def test_small_graph_takes_local_path_without_flag(edge_df):
    """No caller flag: the golden graph is under the size ceiling, so
    both operators return the 1-partition local relation the driver
    computed, not the distributed plan."""
    for result in (pagerank(edge_df.distinct()), triangle_count(edge_df)):
        assert result.rdd.getNumPartitions() == 1
        assert is_local_relation(result), result.columns


def test_pagerank_local_fastpath_guard_falls_back(edge_df, monkeypatch):
    """A graph over the vertex ceiling (but under the edge cap) must run
    the distributed loop — the fast-path may never become the scale
    path. Simulated by shrinking the ceiling below the golden graph's
    vertex count."""
    from flight_delays_progetto_big_data_2024_spark.graph import algorithms

    monkeypatch.setattr(algorithms, "LOCAL_ITER_MAX_VERTICES", 2)
    ranks = algorithms.pagerank(edge_df.distinct())
    assert not is_local_relation(ranks)
    got = {r["id"]: r["pagerank"] for r in ranks.collect()}
    want = py_pagerank(EDGES)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9), v


def test_pagerank_vertices_argument(spark):
    """``vertices`` is GraphFrames' GraphFrame(v, e): the isolated
    vertex Z holds the reset probability, and X→C contributes nothing
    because X is not a vertex (nor does X appear in the output). Ranks
    hand-computed for 2 iterations, out-degree A=2, B=1:
    it1 A=0.15+0.85·1=1.0, B=C=0.15+0.85·0.5=0.575;
    it2 A=0.15+0.85·0.575=0.63875, B=C=0.15+0.85·(1.0/2)=0.575."""
    edges = spark.createDataFrame(
        [("A", "B"), ("A", "C"), ("B", "A"), ("X", "C")], "src string, dst string"
    )
    verts = spark.createDataFrame([("A",), ("B",), ("C",), ("Z",)], "id string")
    want = {"A": 0.63875, "B": 0.575, "C": 0.575, "Z": 0.15}
    for path in PATHS:
        got = _ranks(path, edges, vertices=verts, max_iter=2)
        assert set(got) == set(want), path
        for v in want:
            assert got[v] == pytest.approx(want[v], abs=1e-12), (path, v)


def test_undirected_canonicalization(edge_df):
    und = {(r["u"], r["v"]) for r in undirected_edges(edge_df).collect()}
    # duplicates + reverse duplicates collapsed, self-loop dropped
    assert und == {("A", "B"), ("B", "C"), ("A", "C"), ("B", "D"), ("D", "E"), ("B", "E"), ("E", "F")}


def test_triangle_count_golden(edge_df):
    for path in PATHS:
        with graph_path(path):
            counts = triangle_count(edge_df)
            assert is_local_relation(counts) == (path == "local"), path
            got = {r["id"]: r["triangle_count"] for r in counts.collect()}
        # triangles: {A,B,C} and {B,D,E}
        assert got == {"A": 1, "B": 2, "C": 1, "D": 1, "E": 1, "F": 0}, path


def test_pagerank_no_edges_vertex_gets_reset_only(spark):
    # a vertex that is never a destination converges to the reset prob
    df = spark.createDataFrame([("X", "Y")], ["src", "dst"])
    for path in PATHS:
        assert _ranks(path, df)["X"] == pytest.approx(0.15, abs=1e-12), path


def test_connected_components_golden(spark):
    from flight_delays_progetto_big_data_2024_spark.graph.algorithms import (
        connected_components,
    )

    # chain 1-2-3-4 (diameter 3), pair {10,11}, singleton 20 via vertices
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (11, 10)], ["src", "dst"]
    )
    verts = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 10, 11, 20)], ["id"])
    got = {
        r["id"]: r["component"]
        for r in connected_components(edges, vertices=verts).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_matches_union_find(spark):
    """Random-ish graph vs a python union-find reference."""
    import random

    from flight_delays_progetto_big_data_2024_spark.graph.algorithms import (
        connected_components,
    )

    rng = random.Random(7)
    n = 60
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(45)]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent[find(u)] = find(v)
    comp = {}
    for x in range(n):
        comp.setdefault(find(x), []).append(x)
    want = {x: min(members) for members in comp.values() for x in members}

    df = spark.createDataFrame(edges, ["src", "dst"])
    verts = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    got = {
        r["id"]: r["component"]
        for r in connected_components(df, vertices=verts).collect()
    }
    assert got == want


def test_connected_components_long_chain_converges_fast(spark):
    """Pointer jumping must keep long-chain convergence sub-linear in
    the diameter. Round-13 reworked the jump to resolve against the
    PREVIOUS round's materialized labels (one execution of the
    neighbor-min join per round instead of two); the contraction is
    then Fibonacci-like rather than doubling, still geometric — a
    300-vertex chain (diameter 299) must converge inside the default
    max_iter=25, where plain propagation would need 299 rounds. Also
    asserts the labeling itself (all vertices collapse to the chain
    minimum)."""
    from flight_delays_progetto_big_data_2024_spark.graph.algorithms import (
        connected_components,
    )

    n = 300
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["src", "dst"])
    got = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {i: 0 for i in range(n)}


def test_shortest_hops_golden_path_graph(spark):
    """Path a->b->c->d plus a shortcut a->c and an unreachable island:
    hop counts must be the true minima and the island absent."""
    from pyspark.sql import functions as F

    from flight_delays_progetto_big_data_2024_spark.graph.algorithms import (
        shortest_hops,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("x", "y")],
        "src string, dst string",
    )
    source = spark.createDataFrame([("a",)], "id string")
    got = {r["id"]: r["hops"] for r in shortest_hops(edges, source).collect()}
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2}

    # max_hops truncation
    got2 = {
        r["id"]: r["hops"]
        for r in shortest_hops(edges, source, max_hops=1).collect()
    }
    assert got2 == {"a": 0, "b": 1, "c": 1}
