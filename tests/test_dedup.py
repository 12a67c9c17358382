"""Dedup family: MinHash-LSH, SimHash, n-gram Jaccard, prefix-filter joins."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mlops_drift_detection_spark.functions import dedup as D


def _minhash_signature(shingle_col, num_hashes):
    """Per-row minhash signature, the formulation ``band_bucket_keys``
    replaced: for seed s, min over shingles of xxhash64(shingle, s), as one
    nested higher-order transform. array<bigint> of length ``num_hashes``."""
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    return F.transform(
        seeds,
        lambda s: F.array_min(F.transform(shingle_col, lambda sh: F.xxhash64(sh, s))),
    )


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    rows = [
        (0, base),
        (1, base),                                        # exact dup of 0
        (2, base.replace("today", "tomorrow")),           # near dup of 0
        (3, "completely different content about spark shuffle partitions and joins here"),
        (4, "completely different content about spark shuffle partitions and joins here"),  # exact dup of 3
        (5, "unrelated short text"),
    ]
    return spark.createDataFrame(rows, "id long, text string").cache()


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d e",)], "t string")
    got = df.select(D.shingles(F.col("t"), 3).alias("s")).collect()[0]["s"]
    assert got == ["a b c", "b c d", "c d e"]
    short = spark.createDataFrame([("a b",)], "t string")
    got2 = short.select(D.shingles(F.col("t"), 3).alias("s")).collect()[0]["s"]
    assert got2 == ["a b"]


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_candidates(
            docs, "text", "id", num_hashes=32, bands=16, shingle_k=3
        ).collect()
    }
    assert (0, 1) in pairs          # identical
    assert (3, 4) in pairs          # identical
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup collides in >=1 band
    assert (0, 5) not in pairs and (3, 5) not in pairs


def test_ngram_jaccard_verification(docs, spark):
    cand = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 5)], "id_a long, id_b long"
    )
    j = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard(docs, cand, "text", "id", n=3).collect()
    }
    assert j[(0, 1)] == 1.0
    assert 0.5 < j[(0, 2)] < 1.0
    assert j[(0, 5)] == 0.0


def test_simhash_near_dups(docs):
    sim = D.simhash64_native(docs, "text", "id").cache()
    vals = {r["id"]: r["simhash"] for r in sim.collect()}
    assert vals[0] == vals[1]  # identical text -> identical simhash
    d02 = bin(vals[0] ^ vals[2]).count("1")
    d05 = bin(vals[0] ^ vals[5]).count("1")
    assert d02 < d05  # near dup closer in Hamming space
    ham = docs.sparkSession.createDataFrame(
        [(vals[0], vals[2])], "a long, b long"
    ).select(D.hamming64(F.col("a"), F.col("b")).alias("h")).collect()[0]["h"]
    assert ham == d02


def test_simhash_candidates(docs):
    sim = D.simhash64_native(docs, "text", "id")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in D.simhash_candidates(sim, bands=8, band_bits=8).collect()
    }
    assert (0, 1) in pairs and (3, 4) in pairs


def test_simhash_native_matches_python_reference(spark):
    """JVM md5-simhash vs an independent pure-python implementation."""
    import hashlib

    def ref(text):
        toks = text.strip().lower().split() or [""]
        votes = [0] * 64
        for t in toks:
            hv = int(hashlib.md5(t.encode()).hexdigest()[:16], 16)
            hi, lo = hv >> 32, hv & 0xFFFFFFFF
            for b in range(64):
                bit = (lo >> b) & 1 if b < 32 else (hi >> (b - 32)) & 1
                votes[b] += 1 if bit else -1
        packed = 0
        for b in range(64):
            if votes[b] > 0:
                packed |= 1 << b
        return packed - (1 << 64) if packed >= (1 << 63) else packed

    texts = [
        "alpha beta gamma delta",
        "alpha beta gamma delta epsilon",
        "one two three four five six seven",
        "",
        "single",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "id long, text string")
    got = {r["id"]: r["simhash"] for r in D.simhash64_native(df, "text", "id").collect()}
    for i, t in enumerate(texts):
        assert got[i] == ref(t), f"doc {i}"


def test_simhash_banding_complete_vs_exhaustive(spark):
    """8x8 banding finds EVERY pair with Hamming <= 6 (the round-1 4x16
    rotation scheme missed 4-6-bit pairs): compare against brute force."""
    import itertools
    import random

    rng = random.Random(7)
    base = rng.getrandbits(63)
    sigs = [base]
    for _ in range(30):  # perturb 0-9 random bits off a shared base
        s = base
        for b in rng.sample(range(64), rng.randint(0, 9)):
            s ^= 1 << b
        sigs.append(s)
    to_i64 = lambda v: v - (1 << 64) if v >= (1 << 63) else v  # noqa: E731
    df = spark.createDataFrame(
        [(i, to_i64(s)) for i, s in enumerate(sigs)], "id long, simhash long"
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_neardup_pairs(df, max_hamming=6).collect()
    }
    expected = {}
    for (i, a), (j, b) in itertools.combinations(enumerate(sigs), 2):
        h = bin(a ^ b).count("1")
        if h <= 6:
            expected[(i, j)] = h
    assert got == expected


def test_simhash_neardup_threshold_guard(spark):
    df = spark.createDataFrame([(0, 1)], "id long, simhash long")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        D.simhash_neardup_pairs(df, max_hamming=9, bands=8)


def test_minhash_bucket_cap_drops_boilerplate_only(spark):
    """Planted mega-bucket (many identical boilerplate docs): with a cap the
    job stays bounded and the NON-boilerplate verified pairs are identical
    to the uncapped run on the clean corpus."""
    clean = [
        (0, "the quick brown fox jumps over the lazy dog today"),
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "spark shuffle partitions broadcast join adaptive execution"),
    ]
    boiler = [(100 + i, "boilerplate header text repeated verbatim") for i in range(40)]
    df_clean = spark.createDataFrame(clean, "id long, text string")
    df_all = spark.createDataFrame(clean + boiler, "id long, text string")

    def pairs(df, cap):
        return {
            (r["id_a"], r["id_b"])
            for r in D.minhash_lsh_candidates(
                df, "text", "id", num_hashes=32, bands=16, shingle_k=3,
                max_bucket_size=cap,
            ).collect()
        }

    uncapped_clean = pairs(df_clean, None)
    capped_all = pairs(df_all, 10)
    # boilerplate bucket (40 members) dropped; clean pairs intact
    assert {p for p in capped_all if p[0] < 100 and p[1] < 100} == uncapped_clean
    assert not any(p[0] >= 100 for p in capped_all)


def test_prefix_filter_equals_exhaustive(spark):
    """The prefix-filter join is EXACT: its output must equal the exhaustive
    all-pairs n-gram Jaccard join — same pairs, same values — on the real
    sf0.001 documents table, at two thresholds (the prefix length, and so
    the candidate set, changes with t; completeness must not)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("ta"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("tb"))
    all_pairs = a.join(b, F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
    for t in (0.5, 0.8):
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in D.prefix_filter_jaccard_join(
                docs, "text", "doc_id", threshold=t, n=3
            ).collect()
        }
        want = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in D.ngram_jaccard(docs, all_pairs, "text", "doc_id", n=3)
            .where(F.col("jaccard") >= t)
            .collect()
        }
        assert got == want, f"t={t}: prefix-filter != exhaustive"
        assert want, f"t={t}: fixture produced no true pairs — test is vacuous"


def test_prefix_filter_cap_drops_boilerplate_only(spark):
    """Planted degenerate prefix bucket (many identical tiny docs share their
    single gram): the cap bounds the quadratic and drops ONLY the
    boilerplate pairs."""
    clean = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon zeta eta iota"),
        (2, "totally different words nothing shared here at all"),
    ]
    boiler = [(100 + i, "same tiny doc") for i in range(40)]
    df_all = spark.createDataFrame(clean + boiler, "id long, text string")

    capped = {
        (r["id_a"], r["id_b"])
        for r in D.prefix_filter_jaccard_join(
            df_all, "text", "id", threshold=0.6, n=3, max_token_bucket=10
        ).collect()
    }
    assert capped == {(0, 1)}  # clean near-dup found, boilerplate dropped


@pytest.mark.parametrize("threshold", [0.0, -0.1, 1.5, float("nan")])
@pytest.mark.parametrize(
    "join",
    [D.prefix_filter_jaccard_join, D.containment_prefix_join],
    ids=lambda f: f.__name__,
)
def test_prefix_joins_reject_threshold_outside_unit_interval(docs, join, threshold):
    """Above 1 the prefix length goes non-positive and ``slice`` fails
    with an unnamed error; at or below 0 gram-disjoint pairs qualify but are
    never candidates. Both must fail loudly, naming the argument."""
    with pytest.raises(ValueError, match="threshold"):
        join(docs, "text", "id", threshold)


def test_band_bucket_keys_match_hof_formulation(spark):
    """The explode+agg band keys (codegen path) are bit-identical to the
    per-row higher-order-function formulation they replaced — including the
    NULL-text and empty-text docs, which reduce to a single NULL/empty
    shingle whose xxhash64 is seed-only/constant in both shapes."""
    rows = [
        (0, "the quick brown fox jumps over the lazy dog today"),
        (1, "the quick brown fox jumps over the lazy dog tomorrow"),
        (2, "completely different words about spark joins"),
        (3, None),
        (4, None),
        (5, ""),
        (6, "   "),
        (7, "short"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    num_hashes, bands, k = 32, 8, 3
    rpb = num_hashes // bands

    got = {
        (r["id"], r["band"], r["bucket"])
        for r in D.band_bucket_keys(
            df, "text", "id", num_hashes=num_hashes, bands=bands, shingle_k=k
        ).collect()
    }

    # the pre-r5 formulation, reconstructed verbatim: per-row minhash
    # signature via nested transforms, band keys via array_join over slices
    sig = df.select(
        F.col("id"),
        _minhash_signature(D.shingles(F.col("text"), k), num_hashes).alias("sig"),
    )
    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
    old = {
        (r["id"], r["band"], r["bucket"])
        for r in sig.select(
            "id",
            F.explode(
                F.transform(
                    band_idx,
                    lambda b: F.struct(
                        b.alias("band"),
                        F.xxhash64(
                            F.array_join(
                                F.transform(
                                    F.slice("sig", b * rpb + 1, rpb),
                                    lambda x: x.cast("string"),
                                ),
                                ",",
                            )
                        ).alias("bucket"),
                    ),
                )
            ).alias("bk"),
        )
        .select("id", "bk.band", "bk.bucket")
        .collect()
    }
    assert got == old


def test_cross_doc_dup_spans_planted(spark):
    """Planted k=3 example: one shared shingle, one shared run, a clean doc,
    and an intra-doc-only repeat (must NOT count — cross-doc semantics)."""
    from mlops_drift_detection_spark.functions.dedup import cross_doc_dup_spans

    df = spark.createDataFrame(
        [
            # d1/d2 share "a b c" (one 3-token shingle) at positions 0 / 2
            (1, "a b c d e f"),
            (2, "x y a b c z"),
            # d3 is clean
            (3, "q r s t u"),
            # d4 repeats "m n o" INSIDE itself only -> not cross-doc dup
            (4, "m n o p m n o"),
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: (r["n_dup_spans"], r["dup_tokens"])
        for r in cross_doc_dup_spans(df, "doc_id", "text", k=3).collect()
    }
    assert out == {1: (1, 3), 2: (1, 3)}


def test_cross_doc_dup_spans_merge_and_gap(spark):
    """Adjacent duplicated shingles merge into ONE maximal span (span_len =
    max_pos - min_pos + k); positions further apart than k stay separate."""
    from mlops_drift_detection_spark.functions.dedup import cross_doc_dup_spans

    shared = "a b c d e"  # 3 overlapping 3-shingles -> one 5-token span
    df = spark.createDataFrame(
        [
            (1, shared + " q1 q2 q3 q4 q5 " + shared),  # two spans, gap > k
            (2, shared + " z9"),
            (3, "unrelated words only here"),
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: (r["n_dup_spans"], r["dup_tokens"])
        for r in cross_doc_dup_spans(df, "doc_id", "text", k=3).collect()
    }
    # doc 1: spans at positions 0-2 and 10-12 -> 2 spans, 5 tokens each
    assert out[1] == (2, 10)
    assert out[2] == (1, 5)
    assert 3 not in out


def test_source_fork_pairs_planted(spark, tmp_path):
    """Fork detection over planted sources: srcA/srcB share 2 of their 4
    wordset fingerprints (jaccard 2/6); one of the shared texts is a token
    REORDERING on the B side (bag-of-words identity, not byte identity) and
    srcA carries one internal duplicate (distinct -> set size still 4). A
    boilerplate text planted into NINE sources trips the >8 stop-digest cap,
    so none of those nine pair with anything despite a raw jaccard of 1/3."""
    from mlops_drift_detection_spark.queries_pipeline import q_source_fork_pairs

    rows = [
        ("srcA", "alpha beta"),
        ("srcA", "beta alpha beta"),   # same word SET as the first -> 1 fp
        ("srcA", "gamma delta"),
        ("srcA", "epsilon zeta"),
        ("srcA", "eta theta"),
        ("srcB", "beta alpha"),        # reordered srcA fp -> shared
        ("srcB", "gamma delta"),       # byte-identical -> shared
        ("srcB", "iota kappa"),
        ("srcB", "lam mu"),
        ("srcC", "nu xi"),             # no overlap with anyone
    ]
    # boilerplate carried by 9 sources (> cap 8): must generate NO pairs
    for i in range(9):
        rows.append((f"boiler{i}", "license text of the vendored kind"))
        rows.append((f"boiler{i}", f"unique{i} filler"))
    docs = spark.createDataFrame(
        [(i, s, t) for i, (s, t) in enumerate(rows)],
        "doc_id long, source string, text string",
    ).withColumn("lang", F.lit("en"))
    out = str(tmp_path / "docs")
    docs.write.parquet(f"{out}/documents.parquet")
    got = q_source_fork_pairs(spark, out).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["source_a"], r["source_b"]) == ("srcA", "srcB")
    assert r["shared_fps"] == 2
    assert (r["n_a"], r["n_b"]) == (4, 4)
    assert r["jaccard"] == pytest.approx(2 / 6, abs=1e-6)


def test_source_fork_pairs_single_scan(spark):
    """Runtime plan lock for the fork-detection query: the static tree's
    three distinct-subtree instances (pair branch + two size lookups)
    canonicalize identically (the explicit isNotNull matters — see the
    query docstring), so adaptive ReuseExchange collapses them onto ONE
    corpus FileScan; the audit locks the 3-scan static shape."""
    from mlops_drift_detection_spark.queries_pipeline import q_source_fork_pairs

    df = q_source_fork_pairs(spark, "/root/testdata/sf0.001")
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    final = executed.split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1
    assert final.count("ReusedExchange") == 2


def test_containment_join_asymmetric(spark):
    """The case Jaccard cannot express: a short doc fully quoted inside a
    long one. C(short->long) = 1.0 while the long->short direction and the
    symmetric Jaccard both stay far below threshold."""
    df = spark.createDataFrame(
        [
            (1, "t1 t2 t3 t4"),                                   # 2 grams
            (2, "x1 x2 t1 t2 t3 t4 y1 y2 y3 y4 y5 y6"),           # 10 grams
            (3, "u1 u2 u3 u4 u5"),                                 # unrelated
        ],
        "doc_id long, text string",
    )
    got = D.containment_prefix_join(
        df, "text", "doc_id", threshold=0.9, n=3
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["id_contained"], r["id_container"]) == (1, 2)
    assert r["containment"] == pytest.approx(1.0)
    # the same pair under symmetric Jaccard is nowhere near a dedup
    # threshold — 2 shared of 10 union grams
    j = D.ngram_jaccard(
        df,
        spark.createDataFrame([(1, 2)], "id_a long, id_b long"),
        "text",
        "doc_id",
        n=3,
    ).collect()[0]["jaccard"]
    assert j == pytest.approx(0.2)
