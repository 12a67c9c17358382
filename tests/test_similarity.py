"""Similarity search: exact brute-force vs numpy oracle; LSH recall."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from mlops_drift_detection_spark.functions import similarity as S

DIM = 16
N = 120


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.RandomState(42)
    m = rng.normal(size=(N, DIM))
    # plant a near-identical pair (7, 8)
    m[8] = m[7] + rng.normal(scale=0.01, size=DIM)
    rows = [(i, [float(x) for x in m[i]]) for i in range(N)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()
    df.count()
    return df, m


def numpy_topk(m, qi, k):
    sims = m @ m[qi] / (np.linalg.norm(m, axis=1) * np.linalg.norm(m[qi]))
    order = sorted(
        (i for i in range(len(m)) if i != qi),
        key=lambda i: (-sims[i], i),
    )
    return [(i, sims[i]) for i in order[:k]]


def test_cosine_expr_matches_numpy(spark, vecs):
    df, m = vecs
    a = [float(x) for x in m[0]]
    b = [float(x) for x in m[1]]
    got = (
        spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
        .select(S.cosine_expr(F.col("a"), F.col("b")).alias("c"))
        .collect()[0]["c"]
    )
    want = float(m[0] @ m[1] / (np.linalg.norm(m[0]) * np.linalg.norm(m[1])))
    assert got == pytest.approx(want, rel=1e-12)


def test_brute_force_topk_exact(vecs):
    df, m = vecs
    queries = df.where(F.col("vec_id").isin([0, 7]))
    got = S.brute_force_topk(df, queries, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["neighbor_id"], r["cosine"]))
    for qi in (0, 7):
        want = numpy_topk(m, qi, 5)
        got_ids = [i for i, _ in by_q[qi]]
        assert got_ids == [i for i, _ in want]
        for (gi, gc), (wi, wc) in zip(by_q[qi], want):
            assert gc == pytest.approx(wc, abs=1e-6)
    # planted near-identical pair is each other's top-1
    assert by_q[7][0][0] == 8


def test_lsh_topk_recall(vecs):
    df, m = vecs
    queries = df.where(F.col("vec_id") < 10)
    exact = S.brute_force_topk(df, queries, k=3).collect()
    approx = S.lsh_bucketed_topk(df, queries, k=3, planes=5, tables=8, dim=DIM)
    arows = approx.collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in arows}
    recall = len(exact_set & approx_set) / len(exact_set)
    # random gaussians are a worst case for LSH (top-3 are barely closer
    # than the rest); the semantic guarantee is that genuinely-near pairs
    # collide, asserted below via the planted pair
    assert recall >= 0.3
    # the planted pair MUST survive LSH (near-identical vectors collide)
    assert (7, 8) in approx_set


def test_embedding_neardup(vecs):
    df, _ = vecs
    pairs = S.embedding_neardup_pairs(df, threshold=0.95, planes=8, dim=DIM).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(7, 8)}


def test_brute_force_topk_partial_merge_across_partitions(vecs):
    """The partial-top-k-per-input-partition merge must be invariant to how
    the corpus is partitioned (the per-partition slice keeps k candidates;
    the merge window restores the global order)."""
    df, m = vecs
    queries = df.where(F.col("vec_id").isin([0, 7]))
    base = {
        (r["query_id"], r["neighbor_id"], r["cosine"])
        for r in S.brute_force_topk(df.coalesce(1), queries, k=5).collect()
    }
    for nparts in (3, 13):
        got = {
            (r["query_id"], r["neighbor_id"], r["cosine"])
            for r in S.brute_force_topk(df.repartition(nparts), queries, k=5).collect()
        }
        assert got == base, f"nparts={nparts}"


def test_ivf_topk_recall_and_planted_pair(vecs):
    df, m = vecs
    queries = df.where(F.col("vec_id") < 10)
    exact = S.brute_force_topk(df, queries, k=3).collect()
    approx = S.ivf_topk(
        df, queries, k=3, centroid_ids=[11 * i for i in range(10)], nprobe=3
    ).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.3  # gaussians are the worst case for coarse IVF
    # the planted near-identical pair lands in the same inverted list
    approx7 = S.ivf_topk(
        df, df.where(F.col("vec_id") == 7), k=1,
        centroid_ids=[11 * i for i in range(10)], nprobe=3,
    ).collect()
    assert approx7 and approx7[0]["neighbor_id"] == 8


def test_ivf_assign_is_shuffle_free(vecs):
    """Corpus->centroid assignment must be a pure projection (VERDICT r2
    finding #2): no Window, no hash-partitioned Exchange anywhere in the
    plan — the only exchange allowed is the tiny single-partition centroid
    collapse + its broadcast."""
    df, _ = vecs
    cents = df.where(F.col("vec_id").isin([0, 11, 22])).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    plan = (
        S.ivf_assign(df, cents, "vec_id", "embedding", nprobe=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "hashpartitioning" not in plan


def test_trained_ivf_recall_beats_sampled_floor(vecs):
    """2 Lloyd iterations lift recall well past the sampled-codebook 0.3
    floor on the gaussian fixture (measured 0.73)."""
    df, _ = vecs
    queries = df.where(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(df, queries, k=3).collect()
    }
    cents = S.train_ivf_centroids(
        df, centroid_ids=[11 * i for i in range(10)], iters=2
    )
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivf_topk(df, queries, k=3, nprobe=3, centroids=cents).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.5


def test_embedding_neardup_bucket_cap_drops_degenerate_only(spark, vecs):
    """Planted degenerate bucket (300 collinear vectors — identical sign
    bits in every table) must be dropped by the cap WITHOUT losing clean
    pairs."""
    df, m = vecs
    base = -m[7] / np.linalg.norm(m[7])  # negated signs != bucket of (7, 8)
    planted = [
        (1000 + i, [float(x) for x in base * (1.0 + 0.0001 * i)])
        for i in range(300)
    ]
    big = df.unionByName(
        spark.createDataFrame(planted, "vec_id long, embedding array<double>")
    )
    capped = S.embedding_neardup_pairs(
        big, threshold=0.95, planes=8, dim=DIM, max_bucket_size=50
    ).collect()
    # only the clean planted near-pair survives; every pair involving the
    # collinear mass sat in an oversized bucket and was dropped pre-join
    assert {(r["id_a"], r["id_b"]) for r in capped} == {(7, 8)}


def test_lsh_topk_single_corpus_scan(spark, tmp_path, vecs):
    """All hash tables' signatures come from ONE scan of the corpus (the
    round-1 plan re-scanned it once per table): count parquet scans of the
    corpus path in the physical plan — expect exactly 2 (corpus + the tiny
    query-side read), not 1 + tables."""
    df, _ = vecs
    path = str(tmp_path / "emb.parquet")
    df.write.parquet(path)
    on_disk = spark.read.parquet(path)
    queries = on_disk.where(F.col("vec_id") < 3)
    plan = S.lsh_bucketed_topk(
        on_disk, queries, k=3, planes=5, tables=6, dim=DIM
    )._jdf.queryExecution().executedPlan().toString()
    n_scans = plan.count("Scan parquet")
    assert n_scans <= 2, f"expected <=2 parquet scans, saw {n_scans}"


def test_semdedup_runtime_reuse_and_subset(spark):
    """SemDeDup cluster-scoped dedup: (a) its dup pairs are EXACTLY the
    co-clustered subset of the exact all-pairs near-dups (same threshold),
    with n_dropped = distinct larger ids per cluster; (b) at runtime
    ReuseExchange computes the trained-codebook broadcast once — exactly 5
    FileScans (two Lloyd assignment passes + member counts + both
    self-join sides) where the static tree shows 12 (audit-locked)."""
    from mlops_drift_detection_spark.functions.similarity import (
        cosine_expr,
        ivf_assign,
        train_ivf_centroids,
    )
    from mlops_drift_detection_spark.queries_pipeline import (
        IVF_CENTROID_IDS,
        IVF_ROUND,
        IVF_TRAIN_ITERS,
        SEMDEDUP_THRESHOLD,
        q_semdedup_clusters,
    )

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    cents = train_ivf_centroids(
        emb, id_col="vec_id", vec_col="embedding",
        centroid_ids=IVF_CENTROID_IDS, iters=IVF_TRAIN_ITERS,
        round_decimals=IVF_ROUND,
    )
    cid_of = {
        r["id"]: r["cid"]
        for r in ivf_assign(emb, cents, "vec_id", "embedding").collect()
    }
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    exact = (
        a.join(b, F.col("ia") < F.col("ib"))
        .where(cosine_expr(F.col("va"), F.col("vb")) >= SEMDEDUP_THRESHOLD)
        .select("ia", "ib")
        .collect()
    )
    expected_pairs = {}
    expected_drop = {}
    for r in exact:
        if cid_of[r["ia"]] == cid_of[r["ib"]]:
            c = cid_of[r["ia"]]
            expected_pairs[c] = expected_pairs.get(c, 0) + 1
            expected_drop.setdefault(c, set()).add(r["ib"])

    df = q_semdedup_clusters(spark, sf)
    rows = df.collect()
    got_pairs = {r["cid"]: r["n_dup_pairs"] for r in rows if r["n_dup_pairs"]}
    got_drop = {r["cid"]: r["n_dropped"] for r in rows if r["n_dropped"]}
    assert got_pairs == expected_pairs
    assert got_drop == {c: len(s) for c, s in expected_drop.items()}
    # every assigned cluster appears with its member count
    from collections import Counter

    assert {r["cid"]: r["n_members"] for r in rows} == dict(
        Counter(cid_of.values())
    )

    executed = df._jdf.queryExecution().executedPlan().toString()
    final = executed.split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 5
    assert "ReusedExchange" in final
