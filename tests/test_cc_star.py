"""Large-star/small-star connected components (pipeline/er.py:
connected_components_star) vs min-label propagation and a pure-Python
union-find oracle.

Why it exists: min-label needs O(diameter) full-edge shuffle rounds; a
10^12-doc surface graph can contain long similarity chains. Star converges
in O(log n) rounds, and both label components by their min node id, so they
are drop-in interchangeable (the er_components hash gate relies on that).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from unsupervised_ner_spark.pipeline.er import (
    connected_components,
    connected_components_star,
)


def _dfs(spark, node_ids, edge_pairs):
    nodes = spark.createDataFrame([(n,) for n in node_ids], "node_id string")
    edges = spark.createDataFrame(
        edge_pairs or [("__none_a__", "__none_b__")],
        "node_a string, node_b string",
    )
    if not edge_pairs:
        edges = edges.filter(F.lit(False))
    return nodes, edges


def _union_find(node_ids, edge_pairs):
    parent = {n: n for n in node_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component label = min node id of the component
    comp = {}
    for n in node_ids:
        r = find(n)
        comp.setdefault(r, []).append(n)
    label = {}
    for members in comp.values():
        m = min(members)
        for n in members:
            label[n] = m
    return label


def _labels(df):
    return {r.node_id: r.component for r in df.collect()}


def test_star_path_graph_converges_logarithmically(spark):
    """A 64-node path has diameter 63: min-label at max_iter=20 CANNOT
    finish it, star must finish in O(log n) rounds."""
    ids = [f"n{i:03d}" for i in range(64)]
    pairs = [(ids[i], ids[i + 1]) for i in range(63)]
    nodes, edges = _dfs(spark, ids, pairs)
    labels, iters = connected_components_star(nodes, edges)
    assert iters <= 12, f"star took {iters} rounds on a 64-path"
    got = _labels(labels)
    assert set(got.values()) == {"n000"}
    # the same graph defeats min-label within the star's round budget
    _, ml_iters = connected_components(nodes, edges, max_iter=12)
    assert ml_iters == 12  # hit the cap without converging


def test_star_raises_when_not_converged(spark):
    """A round cap below what the graph needs fails loudly instead of
    returning labels that are not component minima."""
    ids = [f"n{i:03d}" for i in range(64)]
    nodes, edges = _dfs(spark, ids, [(ids[i], ids[i + 1]) for i in range(63)])
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        connected_components_star(nodes, edges, max_iter=1)


def test_star_matches_union_find_on_random_graphs(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 40
        ids = [f"v{i:02d}x{trial}" for i in range(n)]
        pairs = [
            (ids[rng.randrange(n)], ids[rng.randrange(n)]) for _ in range(35)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        nodes, edges = _dfs(spark, ids, pairs)
        got = _labels(connected_components_star(nodes, edges)[0])
        assert got == _union_find(ids, pairs), f"trial {trial}"


def test_star_equals_minlabel_labels(spark):
    """Drop-in interchangeability: identical (node -> component-min) maps."""
    rng = random.Random(11)
    ids = [f"m{i:02d}" for i in range(30)]
    pairs = [(ids[rng.randrange(30)], ids[rng.randrange(30)]) for _ in range(20)]
    pairs = [(a, b) for a, b in pairs if a != b]
    nodes, edges = _dfs(spark, ids, pairs)
    star = _labels(connected_components_star(nodes, edges)[0])
    minl = _labels(connected_components(nodes, edges, max_iter=40)[0])
    assert star == minl


def test_star_matches_union_find_property(spark):
    """Property: on arbitrary small graphs (hypothesis-generated edge lists,
    shrinking on failure), star CC labels == union-find labels. Guards the
    operator now that it is the ER/dedup default."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 14), st.integers(0, 14)),
            min_size=0, max_size=20,
        )
    )
    def check(raw_pairs):
        ids = [f"h{i:02d}" for i in range(15)]
        pairs = [(ids[a], ids[b]) for a, b in raw_pairs if a != b]
        nodes, edges = _dfs(spark, ids, pairs)
        got = _labels(connected_components_star(nodes, edges)[0])
        assert got == _union_find(ids, pairs)

    check()


def test_star_isolated_nodes_and_self_pairs(spark):
    ids = ["a", "b", "c", "d"]
    pairs = [("a", "b"), ("a", "b")]  # duplicate edge; c, d isolated
    nodes, edges = _dfs(spark, ids, pairs)
    got = _labels(connected_components_star(nodes, edges)[0])
    assert got == {"a": "a", "b": "a", "c": "c", "d": "d"}


def test_star_no_edges(spark):
    ids = ["x", "y"]
    nodes, edges = _dfs(spark, ids, [])
    got = _labels(connected_components_star(nodes, edges)[0])
    assert got == {"x": "x", "y": "y"}
