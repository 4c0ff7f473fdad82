"""Connected-components dedup grouping + training-mix operators."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from auto_trade_data_pipeline_spark.operators import text as TX
from auto_trade_data_pipeline_spark.operators.graph import (
    component_sizes,
    connected_components,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def test_cc_resolves_chain_clique_and_singleton_pair(spark):
    # Components: chain {1,2,3,4}, clique {10,11,12}, pair {20,21}.
    edges = _edges(
        spark,
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)],
    )
    labels = {r.node: r.component for r in connected_components(edges).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_cc_long_chain_needs_diameter_rounds(spark):
    # A 12-node path: min label must walk the whole diameter.
    edges = _edges(spark, [(i, i + 1) for i in range(12)])
    labels = connected_components(edges)
    assert {r.component for r in labels.collect()} == {0}
    sizes = component_sizes(labels)
    assert sizes.filter(F.col("group_size") != 13).isEmpty()


def test_cc_edge_direction_is_irrelevant(spark):
    # Same component whether the pair arrives (lo, hi) or (hi, lo).
    a = connected_components(_edges(spark, [(5, 9), (9, 7)])).collect()
    b = connected_components(_edges(spark, [(9, 5), (7, 9)])).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert {r.component for r in a} == {5}


def test_cc_raises_on_max_iters(spark):
    edges = _edges(spark, [(i, i + 1) for i in range(6)])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iters=2)


def test_pack_sequences_places_docs_contiguously(spark):
    df = spark.createDataFrame(
        [(1, "a", 300), (2, "a", 300), (3, "a", 300), (4, "b", 700)],
        "doc_id long, shard string, n_tokens long",
    )
    out = {
        r.doc_id: (r.seq_id, r.seq_offset)
        for r in TX.pack_sequences(df, "n_tokens", "doc_id", ["shard"], 512).collect()
    }
    # Shard a stream: doc1 @ 0, doc2 @ 300 (seq 0), doc3 @ 600 -> seq 1 off 88.
    assert out[1] == (0, 0)
    assert out[2] == (0, 300)
    assert out[3] == (1, 88)
    # Shard b independent: starts its own stream at (0, 0).
    assert out[4] == (0, 0)


def test_hash_split_deterministic_and_partitions(spark):
    df = spark.createDataFrame([(i,) for i in range(1000)], "doc_id long")
    bucket, split = TX.hash_split(F.col("doc_id"))
    out = df.select("doc_id", bucket.alias("b"), split.alias("s"))
    counts = {r.s: r.cnt for r in out.groupBy("s").agg(F.count("*").alias("cnt")).collect()}
    assert set(counts) == {"train", "val", "test"}
    # ~80/10/10 with hash noise.
    assert 700 < counts["train"] < 900
    # Re-evaluating yields identical assignments (no sampling state).
    again = df.select("doc_id", split.alias("s2"))
    joined = out.join(again, "doc_id")
    assert joined.filter(F.col("s") != F.col("s2")).isEmpty()


def test_star_cc_matches_propagation_on_mixed_graph(spark):
    # A chain with a back edge (4, 2) closing a cycle, a clique and a pair.
    edges = _edges(
        spark,
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21), (4, 2)],
    )
    labels = {r.node: r.component for r in connected_components(edges).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_star_cc_reversed_and_duplicate_edges(spark):
    # Both orientations of one pair plus a repeated edge: one row per node.
    rows = connected_components(
        _edges(spark, [(9, 5), (5, 9), (7, 9), (7, 9)])
    ).collect()
    assert sorted((r.node, r.component) for r in rows) == [(5, 5), (7, 5), (9, 5)]


# ---------------------------------------------------------------------------
# PageRank (integer-exact power iteration)
# ---------------------------------------------------------------------------


def _pr(spark, pairs, node_ids, **kw):
    from auto_trade_data_pipeline_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(i,) for i in node_ids], "doc_id long")
    return {
        r.node: (r.degree, r.rank_units)
        for r in pagerank(nodes, _edges(spark, pairs), node_col="doc_id", **kw).collect()
    }


def test_pagerank_mass_is_conserved_and_symmetry_respected(spark):
    # Symmetric star 0-{1,2,3}: leaves tie exactly; center outranks.
    out = _pr(spark, [(0, 1), (0, 2), (0, 3)], range(4))
    assert out[1] == out[2] == out[3]
    assert out[0][1] > out[1][1]
    # Mass conservation up to integer floor loss: each node's update
    # floors at most 1 unit per in-edge + teleport + dangling term.
    total = sum(v[1] for v in out.values())
    assert abs(total - 10**12) < 100 * len(out)


def test_pagerank_isolated_nodes_get_teleport_floor(spark):
    # Node 99 has no edges: it ends at teleport + dangling share,
    # strictly below every connected node.
    out = _pr(spark, [(1, 2)], [1, 2, 99])
    assert out[99][0] == 0
    assert out[99][1] < out[1][1]
    assert out[1] == out[2]


def test_pagerank_deterministic_across_parallelism(spark):
    pairs = [(i, (i * 7) % 23) for i in range(23) if i != (i * 7) % 23]
    a = _pr(spark, pairs, range(25))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        b = _pr(spark, pairs, range(25))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert a == b


def test_pagerank_matches_float_reference(spark):
    # Float power iteration on the same graph agrees to ~1e-9 of the
    # total mass (integer floors lose <1 unit per term per round).
    pairs = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2)]
    out = _pr(spark, pairs, range(5), iters=5)
    und = {}
    for u, v in pairs:
        und.setdefault(u, set()).add(v)
        und.setdefault(v, set()).add(u)
    n = 5
    rank = {i: 1.0 / n for i in range(5)}
    for _ in range(5):
        dang = sum(rank[i] for i in range(5) if i not in und)
        new = {}
        for i in range(5):
            contrib = sum(rank[u] / len(und[u]) for u in und if i in und[u])
            new[i] = 0.15 / n + 0.85 * contrib + 0.85 * dang / n
        rank = new
    for i in range(5):
        assert abs(out[i][1] / 1e12 - rank[i]) < 1e-6


# ---------------------------------------------------------------------------
# Triangle counting / clustering coefficient
# ---------------------------------------------------------------------------


def test_triangles_clique_vs_chain(spark):
    from auto_trade_data_pipeline_spark.operators.graph import triangle_counts

    # K4 clique on {1,2,3,4}: each node in C(3,2)=3 triangles, cc=1.
    # Chain 10-11-12: zero triangles, middle node cc=0.
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    out = {
        r.node: (r.degree, r.n_triangles, r.clustering_ppm)
        for r in triangle_counts(_edges(spark, k4 + [(10, 11), (11, 12)])).collect()
    }
    for n in range(1, 5):
        assert out[n] == (3, 3, 1_000_000)
    assert out[11] == (2, 0, 0)
    assert out[10] == (1, 0, 0)


def test_triangles_direction_and_duplicates_irrelevant(spark):
    from auto_trade_data_pipeline_spark.operators.graph import triangle_counts

    a = triangle_counts(_edges(spark, [(1, 2), (2, 3), (3, 1)]))
    b = triangle_counts(_edges(spark, [(2, 1), (3, 2), (1, 3), (1, 3)]))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    assert {r.n_triangles for r in a.collect()} == {1}


def test_bfs_levels_hop_distances_and_unreached(spark):
    """Chain 1-2-3-4-5 seeded at 1, a separate pair 10-11 seeded
    nowhere, an isolated node 20: levels are exact hop counts, the
    max_hops horizon truncates, unreached nodes report the sentinel,
    and edge direction is irrelevant."""
    from auto_trade_data_pipeline_spark.operators.graph import bfs_levels

    edges = _edges(spark, [(1, 2), (3, 2), (3, 4), (5, 4), (10, 11)])
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 5, 10, 11, 20)], "node long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    out = {r.node: r.level for r in bfs_levels(nodes, edges, seeds, max_hops=4).collect()}
    assert out == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4, 10: -1, 11: -1, 20: -1}
    # horizon truncation: with max_hops=2, nodes 4 and 5 stay unreached
    out2 = {
        r.node: r.level for r in bfs_levels(nodes, edges, seeds, max_hops=2).collect()
    }
    assert out2 == {1: 0, 2: 1, 3: 2, 4: -1, 5: -1, 10: -1, 11: -1, 20: -1}
    # multi-source: seeding both ends halves the worst distance
    seeds2 = spark.createDataFrame([(1,), (5,)], "node long")
    out3 = {
        r.node: r.level for r in bfs_levels(nodes, edges, seeds2, max_hops=4).collect()
    }
    assert out3[3] == 2 and out3[4] == 1 and out3[5] == 0


def test_bfs_levels_seed_outside_node_universe_still_propagates(spark):
    """Round-4 advice: a seed absent from `nodes` must not be silently
    dropped — it joins the universe at level 0 and its neighbors get
    hop distances through it."""
    from auto_trade_data_pipeline_spark.operators.graph import bfs_levels

    edges = _edges(spark, [(99, 2), (2, 3)])
    nodes = spark.createDataFrame([(2,), (3,)], "node long")  # 99 missing
    seeds = spark.createDataFrame([(99,)], "node long")
    out = {r.node: r.level for r in bfs_levels(nodes, edges, seeds, max_hops=3).collect()}
    assert out == {99: 0, 2: 1, 3: 2}
