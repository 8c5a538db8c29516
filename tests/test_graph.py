"""Connected components (operators/graph.py): large-star/small-star closure.

Verified against a plain-Python union-find on hand-built and pseudo-random
edge sets — the operator must produce exactly (node -> component-min) for
every node that appears in an edge.
"""

from __future__ import annotations

import random

import pytest

from spark_streaming_logservice_spark.operators import graph
from spark_streaming_logservice_spark.operators.graph import connected_components


def _union_find(edges):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _run(spark, edges):
    df = spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
    got = {
        (r["node"], r["component"])
        for r in connected_components(df).collect()
    }
    return got


def _expect(edges):
    return set(_union_find(edges).items())


def test_chain_collapses_to_min(spark):
    # Path graph: worst case for naive propagation (O(diameter) rounds);
    # star-alternation must still close it.
    edges = [(i, i + 1) for i in range(1, 12)]
    assert _run(spark, edges) == _expect(edges)


def test_two_components_and_duplicates(spark):
    edges = [(5, 9), (9, 7), (20, 30), (30, 25), (5, 9), (9, 5), (7, 7)]
    clean = [(a, b) for a, b in edges if a != b]
    assert _run(spark, edges) == _expect(clean)


def test_star_already_converged(spark):
    edges = [(1, k) for k in range(2, 9)]
    assert _run(spark, edges) == _expect(edges)


def test_empty_edges(spark):
    df = spark.createDataFrame([], "src BIGINT, dst BIGINT")
    assert connected_components(df).count() == 0


@pytest.mark.parametrize("seed", [7, 21])
def test_random_graph_matches_union_find(spark, seed):
    rng = random.Random(seed)
    nodes = list(range(1000, 1120))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(150)
    ]
    clean = [(a, b) for a, b in edges if a != b]
    assert _run(spark, edges) == _expect(clean)


# --- triangle_count -------------------------------------------------------


def _tri_brute(edges):
    """Brute-force per-node triangle counts over undirected edge list."""
    import itertools

    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    counts = {n: 0 for n in adj}
    for a, b, c in itertools.combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for n in (a, b, c):
                counts[n] += 1
    return {n: c for n, c in counts.items() if c > 0}


def _run_tri(spark, edges):
    from spark_streaming_logservice_spark.operators.graph import triangle_count

    canon = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    df = spark.createDataFrame(canon, "a BIGINT, b BIGINT")
    return {(r["node"], r["triangles"]) for r in triangle_count(df).collect()}


def test_triangle_k4(spark):
    # K4: C(4,3)=4 triangles, every node in exactly 3
    edges = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    assert _run_tri(spark, edges) == {(n, 3) for n in range(4)}


def test_triangle_path_has_none(spark):
    edges = [(i, i + 1) for i in range(6)]
    assert _run_tri(spark, edges) == set()


def test_triangle_two_sharing_edge(spark):
    # Triangles {0,1,2} and {1,2,3} share edge (1,2)
    edges = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)]
    assert _run_tri(spark, edges) == {(0, 1), (1, 2), (2, 2), (3, 1)}


@pytest.mark.parametrize("seed", [7, 21])
def test_triangle_random_matches_brute(spark, seed):
    rng = random.Random(seed)
    nodes = list(range(18))
    edges = {
        (min(a, b), max(a, b))
        for _ in range(60)
        for a, b in [(rng.choice(nodes), rng.choice(nodes))]
        if a != b
    }
    assert _run_tri(spark, sorted(edges)) == set(_tri_brute(sorted(edges)).items())


# --- khop_frontiers -------------------------------------------------------


def test_khop_path_graph(spark):
    """Path 0-1-2-3-4-5, seed {0}: frontier h = exactly node h."""
    from spark_streaming_logservice_spark.operators.graph import khop_frontiers

    edges = [(i, i + 1) for i in range(5)]
    und = spark.createDataFrame(
        edges + [(b, a) for a, b in edges], "node BIGINT, nbr BIGINT"
    )
    seeds = spark.createDataFrame([(0,)], "node BIGINT")
    got = {(r["hop"], r["n_nodes"]) for r in khop_frontiers(und, seeds, hops=3).collect()}
    assert got == {(0, 1), (1, 1), (2, 1), (3, 1)}


def test_khop_star_graph(spark):
    """Star centered at 0 with 6 leaves, seed {0}: hop1 = all leaves, hop2 = 0."""
    from spark_streaming_logservice_spark.operators.graph import khop_frontiers

    edges = [(0, i) for i in range(1, 7)]
    und = spark.createDataFrame(
        edges + [(b, a) for a, b in edges], "node BIGINT, nbr BIGINT"
    )
    seeds = spark.createDataFrame([(0,)], "node BIGINT")
    got = {(r["hop"], r["n_nodes"]) for r in khop_frontiers(und, seeds, hops=2).collect()}
    assert got == {(0, 1), (1, 6), (2, 0)}


def test_release_checkpoint_failure_is_logged_at_debug(caplog):
    class NoPlan:  # a DataFrame whose plan cannot be reached
        @property
        def _jdf(self):
            raise RuntimeError("no plan")

    with caplog.at_level("DEBUG", logger=graph.__name__):
        graph._release_checkpoint(NoPlan())
    [rec] = [r for r in caplog.records if r.name == graph.__name__]
    assert rec.levelname == "DEBUG"
    assert isinstance(rec.exc_info[1], RuntimeError)
