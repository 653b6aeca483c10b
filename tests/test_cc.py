"""Connected components vs a union-find oracle; chain fixture (F5)."""

import random

from entity_deduplication_spark.operators.connected_components import (
    connected_components,
)


class _UnionFind:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


def _oracle(edges, nodes):
    uf = _UnionFind()
    for n in nodes:
        uf.find(n)
    for a, b in edges:
        uf.union(a, b)
    # cluster id = min member
    comp = {}
    for n in nodes:
        comp.setdefault(uf.find(n), []).append(n)
    out = {}
    for members in comp.values():
        m = min(members)
        for n in members:
            out[n] = m
    return out


def _run(spark, edges, nodes):
    e = spark.createDataFrame(edges or [("_x", "_x")], ["id1", "id2"])
    n = spark.createDataFrame([(x,) for x in nodes], ["clip_id"])
    got = {
        r["clip_id"]: r["cluster_id"]
        for r in connected_components(e, nodes=n).collect()
    }
    return got


def test_cc_simple_components(spark):
    nodes = [f"n{i}" for i in range(8)]
    edges = [("n0", "n1"), ("n1", "n2"), ("n4", "n5")]
    assert _run(spark, edges, nodes) == _oracle(edges, nodes)


def test_cc_long_chain_converges_fast(spark):
    """F5: 200-node chain; large-star/small-star needs O(log n) rounds,
    not O(n) like naive label propagation."""
    nodes = [f"n{i:04d}" for i in range(200)]
    edges = [(nodes[i], nodes[i + 1]) for i in range(199)]
    got = _run(spark, edges, nodes)
    assert set(got.values()) == {"n0000"}


def test_cc_random_graphs_vs_union_find(spark):
    random.seed(11)
    for trial in range(3):
        nodes = [f"v{i:03d}" for i in range(120)]
        edges = [
            (random.choice(nodes), random.choice(nodes)) for _ in range(100)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        assert _run(spark, edges, nodes) == _oracle(edges, nodes), trial


def test_cc_singletons(spark):
    nodes = ["a", "b", "c"]
    got = _run(spark, [("a", "b")], nodes)
    assert got == {"a": "a", "b": "a", "c": "c"}


def test_cc_star_rounds_match_fast_path(spark):
    """Force the large-star/small-star path (small_graph_edges=0) and
    check it produces the identical labels as the union-find fast path."""
    random.seed(23)
    nodes = [f"w{i:03d}" for i in range(150)]
    edges = [(random.choice(nodes), random.choice(nodes)) for _ in range(130)]
    edges = [(a, b) for a, b in edges if a != b]
    e = spark.createDataFrame(edges, ["id1", "id2"])
    n = spark.createDataFrame([(x,) for x in nodes], ["clip_id"])
    fast = {
        r["clip_id"]: r["cluster_id"]
        for r in connected_components(e, nodes=n).collect()
    }
    stars = {
        r["clip_id"]: r["cluster_id"]
        for r in connected_components(e, nodes=n, small_graph_edges=0).collect()
    }
    assert fast == stars == _oracle(edges, nodes)


def test_cc_long_chain_converges_on_star_path(spark):
    """F5 on the large-star/small-star path itself (small_graph_edges=0):
    the 200-node chain ends in one component labelled by its minimum."""
    nodes = [f"n{i:04d}" for i in range(200)]
    edges = [(nodes[i], nodes[i + 1]) for i in range(199)]
    e = spark.createDataFrame(edges, ["id1", "id2"])
    n = spark.createDataFrame([(x,) for x in nodes], ["clip_id"])
    got = connected_components(e, nodes=n, small_graph_edges=0).collect()
    assert len(got) == 200
    assert {r["cluster_id"] for r in got} == {"n0000"}


def test_cc_star_rounds_are_staged(spark, monkeypatch):
    """Every star round is materialized by sources.io.stage, which on a
    local master is an eager localCheckpoint; no round is left lazy."""
    random.seed(29)
    nodes = [f"s{i:03d}" for i in range(60)]
    edges = [(random.choice(nodes), random.choice(nodes)) for _ in range(50)]
    edges = [(a, b) for a, b in edges if a != b]
    e = spark.createDataFrame(edges, ["id1", "id2"])
    n = spark.createDataFrame([(x,) for x in nodes], ["clip_id"])

    eager_flags = []
    cls = type(e)
    local_checkpoint = cls.localCheckpoint

    def spy(self, eager=True, *args, **kwargs):
        eager_flags.append(eager)
        return local_checkpoint(self, eager, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    got = {
        r["clip_id"]: r["cluster_id"]
        for r in connected_components(e, nodes=n, small_graph_edges=0).collect()
    }
    # the initial edge stage plus at least one changing and one
    # confirming round
    assert len(eager_flags) >= 3
    assert all(eager_flags)
    assert got == _oracle(edges, nodes)
