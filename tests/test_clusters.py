"""Connected components + canonical-doc selection (operators/clusters.py):
transitive closure over near-dup pairs in pure DataFrame ops."""

from __future__ import annotations

from pii_detector_spark.operators.clusters import (
    canonicalize,
    connected_components,
    dedup_clusters,
)


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "id_a long, id_b long")


def test_transitive_chain_and_separate_cluster(spark):
    # chain 1-2-3-4 (diameter 3: needs real propagation) + pair 10-11
    pairs = _pairs(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    got = {
        (r["id"], r["comp"]) for r in connected_components(pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_long_path_converges(spark):
    # 0-1-2-...-12: worst-case diameter for min propagation
    pairs = _pairs(spark, [(i, i + 1) for i in range(12)])
    comp = connected_components(pairs)
    assert {r["comp"] for r in comp.collect()} == {0}
    assert comp.count() == 13


def test_100_hop_chain_converges_in_log_rounds(spark):
    """The r4 min-propagation guard fired on chains > max_iter hops;
    star alternation must converge a 100-hop chain WITHOUT raising and
    well inside the default 20-round budget (O(log n), not O(diameter))."""
    pairs = _pairs(spark, [(i, i + 1) for i in range(100)])
    comp = connected_components(pairs)  # default max_iter=20
    rows = {(r["id"], r["comp"]) for r in comp.collect()}
    assert rows == {(i, 0) for i in range(101)}


def test_string_ids_still_supported(spark):
    """Url-keyed pair graphs (string ids) order lexicographically; the
    star alternation must handle them like the propagation loop did."""
    pairs = spark.createDataFrame(
        [("u-b", "u-c"), ("u-a", "u-b"), ("u-x", "u-y")],
        "id_a string, id_b string",
    )
    got = {
        (r["id"], r["comp"]) for r in connected_components(pairs).collect()
    }
    assert got == {
        ("u-a", "u-a"),
        ("u-b", "u-a"),
        ("u-c", "u-a"),
        ("u-x", "u-x"),
        ("u-y", "u-x"),
    }


def test_dedup_clusters_sizes(spark):
    pairs = _pairs(spark, [(5, 6), (6, 7), (20, 21)])
    got = {
        (r["doc_id"], r["component"], r["cluster_size"])
        for r in dedup_clusters(pairs).collect()
    }
    assert got == {
        (5, 5, 3),
        (6, 5, 3),
        (7, 5, 3),
        (20, 20, 2),
        (21, 20, 2),
    }


def test_canonicalize_singletons_and_prefer_col(spark):
    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (50, 0.1)],
        "doc_id long, quality double",
    )
    pairs = _pairs(spark, [(1, 2), (2, 3)])
    # no preference: min doc_id wins
    by_id = {
        r["doc_id"]: (r["component"], r["is_canonical"])
        for r in canonicalize(docs, pairs).collect()
    }
    assert by_id == {
        1: (1, True),
        2: (1, False),
        3: (1, False),
        50: (50, True),  # singleton: own component, canonical
    }
    # quality preference: 2 and 3 tie at 0.9 → min doc_id 2 wins
    by_q = {
        r["doc_id"]: r["is_canonical"]
        for r in canonicalize(docs, pairs, prefer_col="quality").collect()
    }
    assert by_q == {1: False, 2: True, 3: False, 50: True}


def test_no_leaked_loop_persists(spark):
    """The iterative loop's per-round persists are all released; only the
    returned snapshot (localCheckpoint, GC-cleaned with the DataFrame)
    may remain."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    comp = connected_components(_pairs(spark, [(1, 2), (2, 3)]))
    comp.collect()
    assert jsc.getPersistentRDDs().size() <= before + 1

