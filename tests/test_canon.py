"""Connected components: driver union-find vs distributed
large-star/small-star must agree on random graphs."""

import random

import pytest

from kgw_spark.operators.canon import connected_components


def _random_pairs(n_nodes: int, n_edges: int, seed: int):
    rng = random.Random(seed)
    return [
        (f"n{rng.randrange(n_nodes)}", f"n{rng.randrange(n_nodes)}")
        for _ in range(n_edges)
    ]


def _oracle(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a == b:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_driver_and_distributed_agree(spark):
    pairs = _random_pairs(200, 300, seed=5)
    df = spark.createDataFrame(pairs, schema="u string, v string")
    expected = _oracle(pairs)

    driver = {
        r.id: r.canonical_id for r in connected_components(df).collect()
    }
    dist = {
        r.id: r.canonical_id
        for r in connected_components(df, force_distributed=True).collect()
    }
    assert driver == expected
    assert dist == expected


def test_chain_components(spark):
    # a long path graph exercises multi-round convergence
    pairs = [(f"c{i}", f"c{i+1}") for i in range(40)]
    df = spark.createDataFrame(pairs, schema="u string, v string")
    out = {
        r.id: r.canonical_id
        for r in connected_components(df, force_distributed=True).collect()
    }
    assert set(out.values()) == {"c0"}
    assert len(out) == 41


def test_self_loops_and_duplicates(spark):
    pairs = [("a", "a"), ("a", "b"), ("b", "a"), ("x", "y")]
    df = spark.createDataFrame(pairs, schema="u string, v string")
    out = {r.id: r.canonical_id for r in connected_components(df).collect()}
    assert out == {"a": "a", "b": "a", "x": "x", "y": "x"}


def test_pagerank_matches_python_replica_exactly(spark):
    """Integer-scaled PageRank is bit-identical between the distributed
    and pure-Python implementations (order-independent arithmetic) and
    ranks a sink hub above leaf nodes."""
    from kgw_spark.operators.pagerank import pagerank, pagerank_py

    edge_list = [
        ("a", "hub"), ("b", "hub"), ("c", "hub"), ("d", "hub"),
        ("hub", "a"), ("a", "b"), ("b", "c"), ("c", "d"),
    ]
    edges = spark.createDataFrame(
        [(u, "rel", v) for u, v in edge_list],
        "source_id string, type string, target_id string",
    )
    got = {r.id: r.rank_scaled for r in pagerank(edges, iters=6).collect()}
    exp = pagerank_py(edge_list, iters=6)
    assert got == exp
    assert got["hub"] == max(got.values())

def test_pagerank_scale_autoshrink_bounds_64bit(spark):
    """The overflow guard: worst-case in-mass product
    damping_num * N * scale stays under 2^63 — at the reference-CKG
    node count the default 10^12 shrinks, and the two engines shrink
    identically (parity at a forced-shrink configuration)."""
    from kgw_spark.operators.pagerank import (
        effective_scale,
        pagerank,
        pagerank_py,
    )

    assert effective_scale(100, 10**12, 85) == 10**12
    s = effective_scale(14_543_042, 10**12, 85)  # reference CKG nodes
    assert s < 10**12 and 85 * 14_543_042 * s < 2**63
    with pytest.raises(ValueError):
        effective_scale(2 * 10**17, 10**12, 85)

    edge_list = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "b")]
    edges = spark.createDataFrame(
        [(u, "rel", v) for u, v in edge_list],
        "source_id string, type string, target_id string",
    )
    # scale chosen so the guard must shrink it for this node count
    big = 10**18
    got = {r.id: r.rank_scaled for r in pagerank(edges, iters=4, scale=big).collect()}
    exp = pagerank_py(edge_list, iters=4, scale=big)
    assert got == exp
    assert max(got.values()) * 85 * 3 < 2**63


def test_min_label_propagation_matches_python(spark):
    """min_label_propagation == the pure-Python replica on a hand graph
    with a hub, a chain, an isolated node, a self-loop, and duplicate/
    reversed edges, at every round count 1..4; with enough rounds the
    labels equal each component's minimum id."""
    from kgw_spark.operators.communities import (
        label_propagation_py,
        min_label_propagation,
    )

    raw = [
        ("h", "a"), ("h", "b"), ("h", "c"),          # hub
        ("c", "d"), ("d", "e"), ("e", "f"),          # chain off the hub
        ("x", "y"), ("y", "x"), ("x", "x"),          # reversed dup + loop
        ("a", "h"),                                   # duplicate edge
    ]
    node_ids = sorted({n for e in raw for n in e} | {"iso"})
    nodes = spark.createDataFrame([(n,) for n in node_ids], "id string")
    edges = spark.createDataFrame(raw, "source_id string, target_id string")
    for rounds in (1, 2, 3, 4):
        got = {
            r.id: r.label
            for r in min_label_propagation(nodes, edges, rounds=rounds).collect()
        }
        assert got == label_propagation_py(node_ids, raw, rounds=rounds), rounds
    # convergence: 'f' is 5 undirected hops from 'a' (f-e-d-c-h-a), so
    # 5 rounds reach the fixpoint = per-component min id ('a'; 'x'; 'iso')
    got4 = {
        r.id: r.label
        for r in min_label_propagation(nodes, edges, rounds=5).collect()
    }
    assert got4 == {
        "h": "a", "a": "a", "b": "a", "c": "a", "d": "a", "e": "a", "f": "a",
        "x": "x", "y": "x", "iso": "iso",
    }
    # both execution paths — dictionary-encoded long ranks and direct
    # string aggregation — must return identical rows (the dict path's
    # min(rank) == rank(min) by order isomorphism)
    for rounds in (1, 3):
        a = {
            r.id: r.label
            for r in min_label_propagation(
                nodes, edges, rounds=rounds, dict_encode=True
            ).collect()
        }
        b = {
            r.id: r.label
            for r in min_label_propagation(
                nodes, edges, rounds=rounds, dict_encode=False
            ).collect()
        }
        assert a == b == label_propagation_py(node_ids, raw, rounds=rounds)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        min_label_propagation(nodes, edges, rounds=0)


def test_k_core_matches_python(spark):
    """k_core == the pure-Python peeling replica on a hand graph with a
    4-clique, a pendant triangle, a chain, duplicate/reversed edges and
    a self-loop, for k = 1..5 — including k where the core is empty."""
    from kgw_spark.operators.kcore import k_core, k_core_py

    raw = [
        # 4-clique (the 3-core)
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"),
        # triangle hanging off the clique via one bridge (2-core part)
        ("d", "t1"), ("t1", "t2"), ("t2", "t3"), ("t3", "t1"),
        # chain (1-core only) + noise: dup, reversed dup, self-loop
        ("t3", "p"), ("p", "q"), ("b", "a"), ("a", "b"), ("q", "q"),
    ]
    edges = spark.createDataFrame(raw, "source_id string, target_id string")
    for k in (1, 2, 3, 4, 5):
        got = {r.id: r.degree for r in k_core(edges, k=k).collect()}
        assert got == k_core_py(raw, k=k), k
    # spot-check the semantics: the 3-core is exactly the clique with
    # in-core degree 3 (the bridge to t1 does not count), the 4-core
    # is empty
    assert {r.id for r in k_core(edges, k=3).collect()} == {"a", "b", "c", "d"}
    assert k_core(edges, k=3).filter("degree != 3").count() == 0
    assert k_core(edges, k=4).count() == 0
    import pytest as _p

    with _p.raises(ValueError):
        k_core(edges, k=0)


def test_shared_pairs_view_matches_internal_derivation(spark):
    """Operators accepting a pre-materialized canonical pair list
    (shared-derived-view contract) return exactly what they compute
    when deriving the pair list themselves — k_core, label propagation
    and common_neighbors on the same hand graph."""
    from pyspark.sql import functions as F

    from kgw_spark.operators.communities import min_label_propagation
    from kgw_spark.operators.kcore import k_core
    from kgw_spark.operators.linkpred import common_neighbors

    raw = [
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"),
        ("d", "t1"), ("t1", "t2"), ("t2", "t3"), ("t3", "t1"),
        ("t3", "p"), ("p", "q"), ("b", "a"), ("a", "b"), ("q", "q"),
    ]
    edges = spark.createDataFrame(raw, "source_id string, target_id string")
    nodes = spark.createDataFrame(
        [(n,) for n in sorted({x for e in raw for x in e})], "id string"
    )
    s, d = F.col("source_id"), F.col("target_id")
    pairs = (
        edges.filter(s != d)
        .select(F.least(s, d).alias("u"), F.greatest(s, d).alias("v"))
        .distinct()
        .persist()
    )
    a = {r.id: r.degree for r in k_core(edges, k=2, pairs=pairs).collect()}
    b = {r.id: r.degree for r in k_core(edges, k=2).collect()}
    assert a == b
    a = {
        r.id: r.label
        for r in min_label_propagation(nodes, edges, rounds=2, pairs=pairs).collect()
    }
    b = {
        r.id: r.label
        for r in min_label_propagation(nodes, edges, rounds=2).collect()
    }
    assert a == b
    a = [
        (r.u, r.v, r.n_common)
        for r in common_neighbors(edges, deg_cap=8, top=5, pairs=pairs).collect()
    ]
    b = [
        (r.u, r.v, r.n_common)
        for r in common_neighbors(edges, deg_cap=8, top=5).collect()
    ]
    assert a == b
    pairs.unpersist()


def test_label_prop_endpoints_covered_equivalence(spark):
    """endpoints_covered=True returns identical labels when the node
    frame really covers every edge endpoint (and the flag composes with
    the shared-pairs contract)."""
    from pyspark.sql import functions as F

    from kgw_spark.operators.communities import min_label_propagation

    raw = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("x", "y")]
    nodes = spark.createDataFrame(
        [(n,) for n in sorted({x for e in raw for x in e} | {"iso"})], "id string"
    )
    edges = spark.createDataFrame(raw, "source_id string, target_id string")
    s, d = F.col("source_id"), F.col("target_id")
    pairs = (
        edges.filter(s != d)
        .select(F.least(s, d).alias("u"), F.greatest(s, d).alias("v"))
        .distinct()
        .persist()
    )
    for rounds in (1, 3):
        a = {
            r.id: r.label
            for r in min_label_propagation(
                nodes, edges, rounds=rounds, pairs=pairs, endpoints_covered=True
            ).collect()
        }
        b = {
            r.id: r.label
            for r in min_label_propagation(nodes, edges, rounds=rounds).collect()
        }
        assert a == b, rounds
    pairs.unpersist()
