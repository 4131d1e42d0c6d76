"""Connected components + canonical dedup (operators.graph)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from cdk_datalake_analytics_comercial_spark.operators import graph


def _components(spark, edges, **kw):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    rows = graph.connected_components(df, **kw).collect()
    return {r["node"]: r["component"] for r in rows}


def test_two_components_and_chain(spark):
    # chain 1-2-3-4 plus clique 10-11-12: min-id labels, transitively closed
    got = _components(
        spark, [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)]
    )
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


def test_long_chain_converges_with_pointer_jumping(spark):
    # diameter 63: plain min-propagation needs 63 rounds; pointer jumping
    # must get there within max_iter=10 (~log2)
    edges = [(i, i + 1) for i in range(63)]
    got = _components(spark, edges, max_iter=10)
    assert got == {i: 0 for i in range(64)}


def test_edge_order_and_direction_irrelevant(spark):
    got = _components(spark, [(5, 2), (2, 9), (9, 5), (7, 3)])
    assert got == {2: 2, 5: 2, 9: 2, 3: 3, 7: 3}


def _union_find_oracle(edges):
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
    # normalize: every node → min of its component
    comp = {}
    for n in parent:
        comp[n] = find(n)
    # find() roots are component minima because unions always parent the max
    return comp


def test_random_graphs_match_union_find(spark):
    rng = random.Random(7)
    for _ in range(3):
        nodes = list(range(40))
        edges = [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(30)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        assert _components(spark, edges) == _union_find_oracle(edges)


def test_keep_canonical(spark):
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(6)], "doc_id long, val string"
    )
    pairs = spark.createDataFrame([(0, 3), (3, 4), (1, 2)], "id_a long, id_b long")
    kept = sorted(
        r["doc_id"]
        for r in graph.keep_canonical(docs, pairs, "doc_id").collect()
    )
    # clusters {0,3,4} → keep 0; {1,2} → keep 1; 5 untouched
    assert kept == [0, 1, 5]


def test_keep_canonical_no_pairs_is_identity(spark):
    docs = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, val string")
    pairs = docs.select(
        F.col("doc_id").alias("id_a"), F.col("doc_id").alias("id_b")
    ).limit(0)
    assert graph.keep_canonical(docs, pairs, "doc_id").count() == 2


def test_contract_edges_preserves_connectivity(spark):
    from cdk_datalake_analytics_comercial_spark.operators.graph import (
        connected_components,
        contract_edges,
    )

    # clique {1,2,3,4} (all 6 pairs), chain 10-11-12, isolated pair (20,21)
    pairs = [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a < b]
    pairs += [(10, 11), (11, 12), (20, 21)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")

    plain = sorted(map(tuple, connected_components(df).collect()))
    contracted = sorted(map(tuple, connected_components(df, pre_contract=True).collect()))
    assert plain == contracted

    # the star form has at most one edge per non-root node per batch
    stars = contract_edges(df).collect()
    assert len(stars) <= len(pairs)
    # clique collapsed: with a single batch, exactly 3 star edges for the
    # 6-pair clique, all pointing at the min node
    clique_stars = [(r["id_a"], r["id_b"]) for r in stars if r["id_b"] == 1]
    assert sorted(clique_stars) == [(2, 1), (3, 1), (4, 1)]


def test_contract_edges_cross_partition_chain(spark):
    from cdk_datalake_analytics_comercial_spark.operators.graph import (
        connected_components,
    )

    # a long chain scattered over many partitions — contraction is partial
    # per batch, the iterative phase must still close the full component
    n = 200
    chain = [(i, i + 1) for i in range(n)]
    df = spark.createDataFrame(chain, "id_a long, id_b long").repartition(16)
    out = connected_components(df, pre_contract=True).collect()
    assert {r["component"] for r in out} == {0}
    assert len(out) == n + 1


def test_broadcast_round_strategy_matches_smj(spark):
    """The node-count-driven broadcast hint changes join strategy only:
    components under broadcast_max_nodes=0 (forced SMJ rounds) and the
    default (broadcast rounds for a small graph) must be identical, on a
    graph with chains, a clique and singleton-free nodes."""
    from cdk_datalake_analytics_comercial_spark.operators.graph import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21), (21, 20),
         (30, 31), (31, 32), (32, 30), (40, 41)],
        "id_a long, id_b long",
    )
    smj = sorted(
        map(tuple, connected_components(pairs, broadcast_max_nodes=0).collect())
    )
    bcast = sorted(map(tuple, connected_components(pairs).collect()))
    assert smj == bcast and len(smj) > 0


def test_broadcast_cap_follows_session_threshold(spark):
    """The label-broadcast cap derives from autoBroadcastJoinThreshold,
    whose string form carries a unit ('10485760b'); the cap must follow
    the setting, not fall back to a hard-coded 10 MB."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "1m")
        assert graph.default_broadcast_max_nodes(spark) == 8 * 1024 * 1024 // 32
        spark.conf.set(key, "-1")
        assert graph.default_broadcast_max_nodes(spark) == 0
    finally:
        spark.conf.set(key, old)
