"""Connected-components operator (operators/graph.py).

Property strategy: compare large-star/small-star output against a pure
Python union-find on the same edge lists — the union-find is 15 lines and
obviously correct, so it is the local oracle for arbitrary topologies
(the registry oracle g1/g2/g3 separately pins the recursive-CTE /
closed-form semantics against DuckDB).
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from vunnel_spark.operators.graph import connected_components, transitive_dedup


def _union_find(edges):
    parent = {}

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
    # canonical rep = min node id per component
    comp = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    out = {}
    for root, members in comp.items():
        m = min(members)
        for n in members:
            out[n] = m
    return out


def _cc_dict(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = connected_components(df, "src", "dst").collect()
    return {r["node"]: r["component"] for r in rows}


def test_cc_path_graph(spark):
    # worst case for naive min-propagation: a single long path
    edges = [(i, i + 1) for i in range(1, 200)]
    got = _cc_dict(spark, edges)
    assert got == {n: 1 for n in range(1, 201)}


def test_cc_star_and_clique(spark):
    hub = [(1000, i) for i in range(1, 40)]  # high-degree hub
    clique = [(a, b) for a in range(50, 60) for b in range(a + 1, 60)]
    iso = [(70, 71)]
    edges = hub + clique + iso
    got = _cc_dict(spark, edges)
    assert got == _union_find(edges)


def test_cc_random_graphs_match_union_find(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 120
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(150)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        got = _cc_dict(spark, edges)
        assert got == _union_find(edges), f"trial {trial}"


def test_cc_duplicate_and_reversed_edges(spark):
    edges = [(1, 2), (2, 1), (1, 2), (2, 3), (3, 2)]
    got = _cc_dict(spark, edges)
    assert got == {1: 1, 2: 1, 3: 1}


def test_cc_empty_edges(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert connected_components(df, "src", "dst").count() == 0


def test_transitive_dedup_keep_semantics(spark):
    docs = spark.createDataFrame(
        [(i,) for i in range(1, 11)], "doc_id long"
    )
    # 1~2~3 one cluster; 7~8 another; rest singletons
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    rows = transitive_dedup(docs, pairs).collect()
    keep = {r["doc_id"]: r["keep"] for r in rows}
    cluster = {r["doc_id"]: r["cluster_id"] for r in rows}
    assert keep == {1: 1, 2: 0, 3: 0, 4: 1, 5: 1, 6: 1, 7: 1, 8: 0, 9: 1, 10: 1}
    assert cluster[2] == 1 and cluster[3] == 1 and cluster[8] == 7
    assert cluster[5] == 5  # singleton is its own cluster


def test_cc_plan_has_no_cartesian(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    plan = connected_components(edges, "src", "dst")._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_cc_self_loop_node_is_own_component(spark):
    """Duplicate and reversed edges collapse into one component, and a
    node whose only edge is a self-loop is its own component: the (9, 9)
    row drops before the star loop, but the node stays."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (2, 1), (3, 2), (9, 9)], "src long, dst long"
    )
    rows = {
        r["node"]: r["component"]
        for r in connected_components(edges, "src", "dst").collect()
    }
    assert rows == {1: 1, 2: 1, 3: 1, 9: 9}


def test_cc_join_loop_matches_tight_loop(spark, monkeypatch):
    """The two physically different loop bodies (window-star tight loop
    vs groupBy+join star loop) are the same algorithm: forcing the join
    loop onto a small graph must give identical components, and each
    run must go through the body it was meant to."""
    import collections

    import vunnel_spark.operators.graph as G

    calls: collections.Counter = collections.Counter()
    for name in ("_large_star", "_large_star_w"):
        def counted(e, _f=getattr(G, name), _name=name):
            calls[_name] += 1
            return _f(e)
        monkeypatch.setattr(G, name, counted)

    rng = random.Random(21)
    edges = [(rng.randrange(80), rng.randrange(80)) for _ in range(100)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")

    tight = {
        r["node"]: r["component"]
        for r in connected_components(df, "src", "dst").collect()
    }
    assert calls["_large_star_w"] >= 1 and calls["_large_star"] == 0, calls

    calls.clear()
    monkeypatch.setattr(G, "_TIGHT_MAX_EDGES", 0)
    join = {
        r["node"]: r["component"]
        for r in connected_components(df, "src", "dst").collect()
    }
    assert calls["_large_star"] >= 1 and calls["_large_star_w"] == 0, calls
    assert tight == join == _union_find(edges)
    # the tight loop restored the session confs it swapped
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
