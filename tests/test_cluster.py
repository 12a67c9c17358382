"""Connected components (large-star/small-star) for near-dup clustering."""

import pytest
from pyspark.sql import functions as F

from mlops_drift_detection_spark.functions.cluster import connected_components


def _cc(spark, edge_list, **kw):
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    return {
        r["id"]: r["component"]
        for r in connected_components(edges, **kw).collect()
    }


def test_two_components_and_ordering(spark):
    got = _cc(spark, [(5, 3), (3, 9), (20, 21), (9, 5)])
    assert got == {3: 3, 5: 3, 9: 3, 20: 20, 21: 20}


def test_chain_converges_logarithmically(spark):
    """A 64-node path is the adversarial case: plain min-label propagation
    needs 63 rounds; large-star/small-star must land well under the cap."""
    got = _cc(spark, [(i, i + 1) for i in range(63)], max_iterations=16)
    assert got == {i: 0 for i in range(64)}


def test_mega_clique_no_neighbor_arrays(spark):
    """A 200-member clique (the boilerplate-dup skew case, 19,900 edges):
    the join/agg formulation never builds a neighbor list, so this completes
    in the same few rounds as a tiny graph."""
    edges = [(i, j) for i in range(200) for j in range(i + 1, 200)]
    got = _cc(spark, edges, max_iterations=8)
    assert got == {i: 0 for i in range(200)}


def test_union_find_mirror(spark):
    """Random-ish fixed graphs vs a driver-side union-find."""
    cases = [
        [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10), (7, 7)],
        [(100, 1), (50, 100), (2, 50), (9, 8), (8, 7), (7, 9), (6, 9)],
        [(0, 63), (63, 31), (31, 47), (5, 4)],
    ]
    for edge_list in cases:
        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edge_list:
            parent[find(a)] = find(b)
        nodes = {n for e in edge_list for n in e if e[0] != e[1]}
        want = {}
        for n in nodes:
            root = find(n)
            want[n] = min(m for m in nodes if find(m) == root)
        got = _cc(spark, [e for e in edge_list if e[0] != e[1]])
        assert got == want, f"mismatch on {edge_list}"


def test_nonconvergence_guard(spark):
    edges = spark.createDataFrame([(i, i + 1) for i in range(63)], "src long, dst long")
    with pytest.raises(RuntimeError):
        connected_components(edges, max_iterations=1)


def test_curation_pipeline_one_survivor_per_cluster(spark):
    """VERDICT r3 #4: in the near-dup curation chain, the pre-gate survivor
    set must contain EXACTLY one doc per connected component plus every
    singleton — i.e. survivor count == distinct cluster count + singletons,
    and each surviving graph node is its cluster's min id."""
    from pyspark.sql import functions as F

    from mlops_drift_detection_spark.functions.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard,
    )

    sf_dir = "/root/testdata/sf0.001"
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") < 1000)
    )
    cands = minhash_lsh_candidates(
        docs, "text", "doc_id", num_hashes=64, bands=16, shingle_k=1
    )
    pairs = ngram_jaccard(docs, cands, "text", "doc_id", n=1).where(
        F.col("jaccard") >= 0.9
    )
    cc = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    kept = docs.join(cc.withColumnRenamed("id", "doc_id"), "doc_id", "left").where(
        F.col("component").isNull() | (F.col("doc_id") == F.col("component"))
    )
    n_docs = docs.count()
    n_graph_nodes = cc.count()
    n_clusters = cc.select("component").distinct().count()
    n_singletons = n_docs - n_graph_nodes
    assert n_graph_nodes > n_clusters > 0, "fixture must have real clusters"
    assert kept.count() == n_clusters + n_singletons
    # each surviving graph node IS its cluster's min id
    survivors_in_graph = kept.where(F.col("component").isNotNull())
    mins = cc.groupBy("component").agg(F.min("id").alias("min_id"))
    bad = (
        survivors_in_graph.join(mins, "component")
        .where(F.col("doc_id") != F.col("min_id"))
        .count()
    )
    assert bad == 0
