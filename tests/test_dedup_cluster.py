"""Unit tests for connected-components duplicate clustering
(functions/dedup.py::connected_components / dedup_clusters)."""

from __future__ import annotations

from file_d_spark.functions.dedup import connected_components, dedup_clusters


def test_cc_chain_and_island(spark):
    # chain 1-2-3-4 (one component), island 10-11, singleton edgeless
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    got = {
        r.id: r.cluster_id
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cc_merging_components(spark):
    # two chains joined by a late edge: {1-2, 3-4} + (2,3) => one comp
    pairs = spark.createDataFrame(
        [(3, 4), (1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    got = {r.id: r.cluster_id for r in connected_components(pairs).collect()}
    assert set(got.values()) == {1}


def test_dedup_clusters_representatives(spark):
    docs = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    pairs = spark.createDataFrame([(2, 5), (5, 6)], "doc_a long, doc_b long")
    out = dedup_clusters(docs, pairs).orderBy("doc_id").collect()
    by_id = {r.doc_id: r for r in out}
    # singletons map to themselves and are representatives
    for i in (1, 3, 4):
        assert by_id[i].cluster_id == i and by_id[i].is_representative
    # cluster {2,5,6} keeps 2
    for i in (2, 5, 6):
        assert by_id[i].cluster_id == 2
    assert by_id[2].is_representative
    assert not by_id[5].is_representative and not by_id[6].is_representative


def test_cc_distributed_path_matches_driver_path(spark):
    # same graphs through the Pregel loop (driver_max_pairs=0 forces
    # the distributed path) and the union-find fast path
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (7, 4)],
        "doc_a long, doc_b long",
    )
    fast = {r.id: r.cluster_id for r in connected_components(pairs).collect()}
    dist = {
        r.id: r.cluster_id
        for r in connected_components(pairs, driver_max_pairs=0).collect()
    }
    assert fast == dist == {1: 1, 2: 1, 3: 1, 4: 1, 7: 1, 10: 10, 11: 10}


def test_cc_string_ids_lexicographic_min(spark):
    pairs = spark.createDataFrame(
        [("b", "a"), ("b", "c")], "doc_a string, doc_b string"
    )
    for kw in ({}, {"driver_max_pairs": 0}):
        got = {
            r.id: r.cluster_id
            for r in connected_components(pairs, **kw).collect()
        }
        assert got == {"a": "a", "b": "a", "c": "a"}

def test_cc_adversarial_chain_converges_logarithmically(spark):
    """A 200-node path graph has diameter 199 — plain label propagation
    needs ~199 rounds, far past max_iter.  The large-star/small-star
    alternation must converge to the correct single component within
    O(log n) rounds (VERDICT r7 #6): ``max_iter=12`` caps the rounds,
    so the exact single component shows it converged within them."""
    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "doc_a long, doc_b long"
    )
    got = {
        r.id: r.cluster_id
        for r in connected_components(
            pairs, driver_max_pairs=0, max_iter=12
        ).collect()
    }
    assert got == {i: 1 for i in range(1, n + 1)}


def test_cc_random_graphs_match_union_find(spark):
    """Seeded random graphs through BOTH paths — star contraction must
    agree with driver union-find on every component label."""
    import random

    rng = random.Random(8)
    for trial in range(3):
        n = rng.randint(20, 60)
        edges = [
            (rng.randint(1, n), rng.randint(1, n))
            for _ in range(rng.randint(10, 80))
        ]
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        fast = {
            r.id: r.cluster_id for r in connected_components(pairs).collect()
        }
        dist = {
            r.id: r.cluster_id
            for r in connected_components(pairs, driver_max_pairs=0).collect()
        }
        assert fast == dist, f"trial {trial}: {fast} != {dist}"
