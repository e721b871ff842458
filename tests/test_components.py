"""Connected components must match exact (networkx-style) components.

Fixture shapes from FIXTURES.md §5: chain a-b, b-c plus isolated d → {a,b,c},{d}.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from entity_resolution_spark.operators import components
from entity_resolution_spark.operators.components import connected_components, label_components


def test_chain_and_isolated(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    vertices = spark.createDataFrame([(1,), (2,), (3,), (4,)], "id long")
    out = label_components(vertices, edges).orderBy("id").collect()
    assert [(r["id"], r["component"]) for r in out] == [(1, 1), (2, 1), (3, 1), (4, 4)]

    # extra vertex columns pass through, custom id/src/dst/out names, and the
    # isolated vertex "z" is labeled with its own id
    vertices = spark.createDataFrame(
        pd.DataFrame({"name": ["p", "q", "r"], "rid": ["a", "b", "z"]}),
        "name string, rid string",
    )
    edges = spark.createDataFrame(
        pd.DataFrame({"u": ["b"], "v": ["a"]}), "u string, v string"
    )
    out = label_components(vertices, edges, "rid", "u", "v", out_col="cluster")
    assert out.columns == ["name", "rid", "cluster"]
    assert sorted(tuple(r) for r in out.collect()) == [
        ("p", "a", "a"), ("q", "b", "a"), ("r", "z", "z")
    ]


def test_two_components_string_ids(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y")], "src string, dst string"
    )
    labels = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert labels == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_long_chain_converges_logarithmically(spark):
    # a 64-node path graph — worst case diameter; must still converge
    n = 64
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")
    labels = connected_components(edges)
    assert labels.select(F.countDistinct("component")).collect()[0][0] == 1
    assert labels.count() == n
    assert labels.agg(F.min("component")).collect()[0][0] == 0


def test_empty_edges(spark):
    edges = spark.createDataFrame([], "src long, dst long")
    vertices = spark.createDataFrame([(7,), (8,)], "id long")
    out = {r["id"]: r["component"] for r in label_components(vertices, edges).collect()}
    assert out == {7: 7, 8: 8}


def test_dense_random_graph_matches_union_find(spark):
    import random

    rng = random.Random(7)
    n, m = 200, 150
    pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    pairs = [(a, b) for a, b in pairs if a != b]

    # driver-side union-find oracle
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {}
    for node in {x for p in pairs for x in p}:
        expected[node] = find(node)
    # canonicalize: min member per root
    root_min: dict[int, int] = {}
    for node, r in expected.items():
        root_min[r] = min(root_min.get(r, node), node)
    expected = {node: root_min[r] for node, r in expected.items()}

    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert got == expected


def test_fast_path_matches_distributed_loop(spark, monkeypatch):
    """The single-task union-find (SMALL_GRAPH_EDGES default) and the
    alternating-star loop (forced with SMALL_GRAPH_EDGES=0) must emit identical
    min-id labels — the threshold moves only the physical strategy."""
    import random

    rng = random.Random(11)
    pairs = [(rng.randrange(300), rng.randrange(300)) for _ in range(250)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    fast = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    monkeypatch.setattr(components, "SMALL_GRAPH_EDGES", 0)
    dist = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert fast == dist


def test_fast_path_matches_distributed_loop_string_ids(spark, monkeypatch):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y"), ("m", "x")], "src string, dst string"
    )
    fast = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    monkeypatch.setattr(components, "SMALL_GRAPH_EDGES", 0)
    dist = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert fast == dist == {"a": "a", "b": "a", "c": "a", "x": "m", "y": "m", "m": "m"}


def test_partition_forest_contracts_and_preserves_labels(spark):
    """The per-partition union-find pre-aggregation must (1) shrink a
    partition-local clique from k(k-1)/2 edges to k-1, (2) preserve every
    node, and (3) leave the final labels identical for EVERY partitioning
    of the same edge multiset — including edges of one component scattered
    across partitions so no single partition sees the whole component."""
    from entity_resolution_spark.operators.components import _partition_forest

    # clique on 20 nodes = 190 edges, all in ONE partition
    clique = [(a, b) for a in range(20) for b in range(a + 1, 20)]
    e1 = spark.createDataFrame(clique, "src long, dst long").coalesce(1)
    forest = _partition_forest(e1).collect()
    assert len(forest) == 19  # spanning forest of one 20-clique
    assert {r["src"] for r in forest} == set(range(1, 20))
    assert all(r["dst"] == 0 for r in forest)

    # a 300-node path graph (worst case for local contraction: scattered
    # edges chain across partitions) + duplicate edges, many partitionings
    path = [(i, i + 1) for i in range(299)] * 3
    want = {i: 0 for i in range(300)}
    for parts in (1, 7, 32):
        e = spark.createDataFrame(path, "src long, dst long").repartition(parts)
        got = {r["id"]: r["component"] for r in connected_components(e).collect()}
        assert got == want, parts
