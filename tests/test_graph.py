"""PageRank: integer-exact recurrence vs a sequential reference, float
variant mass conservation + dangling handling, uniformity guard, and
exact/float agreement."""

import os
import sys

sys.path.insert(0, os.path.dirname(__file__))

import pytest

from learnhtml_spark.functions.graph import pagerank, pagerank_exact


def _dfs(spark, nodes, edges):
    ndf = spark.createDataFrame([(n,) for n in nodes], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    return ndf, edf


def _ref_exact(nodes, edges, d_out, iters):
    """Sequential big-int reference of the scaled recurrence."""
    r = {v: 1 for v in nodes}
    for t in range(iters):
        teleport = 3 * d_out * (20 * d_out) ** t
        c = {v: 0 for v in nodes}
        for s, d in edges:
            c[d] += r[s]
        r = {v: teleport + 17 * c[v] for v in nodes}
    return r


def test_exact_matches_sequential_reference(spark):
    nodes = list(range(7))
    edges = [(v, (3 * v + 1) % 7) for v in nodes] + [
        (v, (5 * v + 2) % 7) for v in nodes
    ]
    ndf, edf = _dfs(spark, nodes, edges)
    got = {r.node: r.rank_scaled for r in pagerank_exact(ndf, edf, 4).collect()}
    assert got == _ref_exact(nodes, edges, 2, 4)


def test_exact_requires_uniform_out_degree(spark):
    ndf, edf = _dfs(spark, [0, 1, 2], [(0, 1), (0, 2), (1, 2)])
    with pytest.raises(ValueError, match="uniform out-degree"):
        pagerank_exact(ndf, edf, 2)


def test_exact_agrees_with_float(spark):
    nodes = list(range(9))
    edges = [(v, (2 * v + 1) % 9) for v in nodes] + [
        (v, (4 * v + 3) % 9) for v in nodes
    ]
    ndf, edf = _dfs(spark, nodes, edges)
    iters = 5
    scale = len(nodes) * (20 * 2) ** iters
    exact = {
        r.node: r.rank_scaled / scale
        for r in pagerank_exact(ndf, edf, iters).collect()
    }
    flt = {r.node: r.rank for r in pagerank(ndf, edf, iters).collect()}
    assert all(abs(exact[v] - flt[v]) < 1e-9 for v in nodes)


def test_float_mass_conserved_with_dangling(spark):
    # node 3 has no out-edges: its mass must be redistributed, not lost
    nodes = [0, 1, 2, 3]
    edges = [(0, 1), (0, 3), (1, 2), (1, 3), (2, 0), (2, 3)]
    ndf, edf = _dfs(spark, nodes, edges)
    ranks = {r.node: r.rank for r in pagerank(ndf, edf, 8).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    # the dangling sink collects from everyone — it must rank highest
    assert max(ranks, key=ranks.get) == 3


def test_connected_components_vs_union_find(spark, star_executor):
    from learnhtml_spark.functions.graph import connected_components

    # several components of varying shape: a chain, a star, a triangle
    # with a pendant, isolated nodes, self-loops + duplicate edges
    edges = (
        [(i, i + 1) for i in range(0, 9)]            # chain 0..9
        + [(20, x) for x in (21, 22, 23, 24)]        # star at 20
        + [(30, 31), (31, 32), (32, 30), (32, 33)]   # triangle + pendant
        + [(40, 40), (20, 21), (21, 20)]             # self-loop + dups
    )
    nodes = list(range(0, 10)) + list(range(20, 25)) + list(range(30, 34)) + [
        40, 50,  # 40 self-loop only, 50 fully isolated
    ]

    parent = {v: v for v in nodes}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        if a in parent and b in parent:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in nodes}

    ndf = spark.createDataFrame([(n,) for n in nodes], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.component
        for r in connected_components(ndf, edf).collect()
    }
    assert got == want
