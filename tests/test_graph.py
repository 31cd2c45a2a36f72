"""shortest_paths (operators/graph.py) vs a pure-Python Bellman-Ford
oracle: bounded-hop semantics, exactness past the tree depth,
multi-source, parallel-edge collapse, persist_every parity."""

from __future__ import annotations

import random

import pytest

from htrc_ingester_spark.operators.graph import shortest_paths


def bf_oracle(edges, sources, hops):
    """Bellman-Ford with explicit hop bound: dist after round h = min
    weight over paths with ≤ h edges."""
    adj = {}
    for s, d, w in edges:
        adj[(s, d)] = min(adj.get((s, d), w), w)
    dist = {s: 0 for s in sources}
    for _ in range(hops):
        nxt = dict(dist)
        for (s, d), w in adj.items():
            if s in dist and dist[s] + w < nxt.get(d, float("inf")):
                nxt[d] = dist[s] + w
        dist = nxt
    return dist


def random_graph(seed, n_nodes=30, n_edges=70):
    rng = random.Random(seed)
    return [
        (rng.randrange(n_nodes), rng.randrange(n_nodes), rng.randrange(1, 20))
        for _ in range(n_edges)
    ]


def _run(spark, edges, sources, hops, **kw):
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    return {r.node: r.dist for r in shortest_paths(df, sources, hops, **kw).collect()}


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("driver_max", [2_000_000, 0])
def test_matches_bellman_ford_oracle(spark, monkeypatch, seed, driver_max):
    # both regimes: the bounded driver numpy Bellman-Ford (default for
    # collapsed adjacencies ≤ 2M edges) and the distributed iterative
    # rounds (a driver budget of 0 never fits) must match the oracle
    from htrc_ingester_spark.operators import graph

    monkeypatch.setattr(graph, "_DRIVER_MAX_EDGES", driver_max)
    edges = random_graph(seed)
    got = _run(spark, edges, [0], hops=4)
    assert got == bf_oracle(edges, [0], 4)


def test_exact_when_hops_exceed_depth(spark):
    # a path graph 0→1→…→6 plus a costly shortcut: at hops≥6 the result
    # is the true (unbounded) shortest path
    edges = [(i, i + 1, 1) for i in range(6)] + [(0, 6, 100)]
    got = _run(spark, edges, [0], hops=10)
    assert got == {i: i for i in range(7)}


def test_hop_bound_is_part_of_contract(spark):
    # same graph at hops=1: only the direct (expensive) edge reaches 6
    edges = [(i, i + 1, 1) for i in range(6)] + [(0, 6, 100)]
    got = _run(spark, edges, [0], hops=1)
    assert got == {0: 0, 1: 1, 6: 100}


def test_multi_source_takes_min(spark):
    edges = [(0, 2, 10), (1, 2, 3)]
    got = _run(spark, edges, [0, 1], hops=2)
    assert got == {0: 0, 1: 0, 2: 3}


def test_parallel_edges_and_self_loops_collapse(spark):
    edges = [(0, 1, 9), (0, 1, 2), (0, 0, 5), (1, 1, 1)]
    got = _run(spark, edges, [0], hops=3)
    assert got == {0: 0, 1: 2}


def test_persist_every_same_result(spark, forced):
    # persist_every only exists in the distributed regime; force it
    edges = random_graph(7)
    with forced():
        a = _run(spark, edges, [0], hops=5)
        b = _run(spark, edges, [0], hops=5, persist_every=2)
    assert a == b


def test_driver_and_distributed_regimes_agree(spark, forced):
    edges = random_graph(11, n_nodes=40, n_edges=120)
    a = _run(spark, edges, [0, 5], hops=6)
    with forced():
        b = _run(spark, edges, [0, 5], hops=6)
    assert a == b


def test_hops_zero_is_sources_only(spark):
    edges = [(0, 1, 1)]
    assert _run(spark, edges, [0], hops=0) == {0: 0}


class TestGraphEdgeContracts:
    """r5 review regressions."""

    def test_null_edge_fields_raise_in_both_regimes(self, spark, forced):
        from htrc_ingester_spark.operators.graph import shortest_paths

        e = spark.createDataFrame(
            [(1, 2, 5), (2, None, 3)], "src long, dst long, w long"
        )
        for force in (False, True):
            with forced(force), pytest.raises(Exception, match="NULL dst"):
                shortest_paths(e, [1], hops=2).collect()

    def test_force_distributed_holds_on_empty_adjacency(self, spark, forced):
        """forceDistributed must force the distributed rounds even
        when the collapsed adjacency is EMPTY (0 <= budget would
        otherwise take the driver path)."""
        from htrc_ingester_spark.operators.graph import shortest_paths

        e = spark.createDataFrame([], "src long, dst long, w long")
        with forced():
            out = shortest_paths(e, [7], hops=2).toPandas()
        assert list(out.node) == [7] and list(out.dist) == [0]

    def test_driver_regime_overflow_raises(self, spark):
        from htrc_ingester_spark.operators.graph import shortest_paths

        big = (2**63 - 1) // 2
        e = spark.createDataFrame(
            [(1, 2, big), (2, 3, big)], "src long, dst long, w long"
        )
        with pytest.raises(ValueError, match="overflow"):
            shortest_paths(e, [1], hops=3)
