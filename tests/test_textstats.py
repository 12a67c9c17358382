"""Text analysis Column exprs: token counts, quality, lang-id, fingerprints."""

import pytest
from pyspark.sql import functions as F

from mlops_drift_detection_spark.functions import textstats as T


@pytest.fixture(scope="module")
def df(spark):
    rows = [
        (0, "the cat and the dog sat in the yard for hours"),          # en
        (1, "der hund und die katze ist nicht da und der vogel"),      # de
        (2, "el perro y la casa de los gatos en la calle"),            # es
        (3, "xyzzy qwerty asdf"),                                      # und
        (4, ""),                                                       # empty
        (5, "  spaced   out   tokens  "),
    ]
    return spark.createDataFrame(rows, "id long, text string").cache()


def test_token_count(df):
    got = {r["id"]: r["n"] for r in df.select("id", T.token_count(F.col("text")).alias("n")).collect()}
    assert got[0] == 11
    assert got[4] == 0
    assert got[5] == 3


def test_stopword_ratio_and_quality(df):
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            T.stopword_ratio(F.col("text")).alias("sr"),
            T.quality_score(F.col("text")).alias("q"),
        ).collect()
    }
    assert rows[0]["sr"] > 0.2          # 'the' x3 + 'and' + 'in' + 'for' / 11
    assert rows[3]["sr"] == 0.0
    assert 0.0 <= rows[3]["q"] < rows[0]["q"] <= 1.0


def test_language_id(df):
    got = {r["id"]: r["l"] for r in df.select("id", T.language_id(F.col("text")).alias("l")).collect()}
    assert got[0] == "en"
    assert got[1] == "de"
    assert got[2] == "es"
    assert got[3] == "und"


def test_language_id_tie_break_and_nulls(spark):
    """Pins the fold semantics the array_max rewrite must preserve: a
    score tie goes to the LATEST language in profile order ('la' hits both
    es and fr once -> fr), a score must be strictly positive, and NULL text
    is 'und'. The DuckDB mirror (_sql_language_id) implements the same
    tie-break, so this also guards oracle parity."""
    rows = [(0, "la"), (1, None), (2, "zzz qqq"), (3, "der la de")]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: r["l"] for r in df.select("id", T.language_id(F.col("text")).alias("l")).collect()}
    assert got[0] == "fr"   # es=1 vs fr=1 tie -> latest profile entry wins
    assert got[1] == "und"  # NULL text never scores
    assert got[2] == "und"  # zero hits everywhere
    assert got[3] == "es"   # de=1, es=2 (la+de), fr=1 -> es outright


def test_fingerprints(df, spark):
    fp = {r["id"]: r["f"] for r in df.select("id", T.doc_fingerprint(F.col("text")).alias("f")).collect()}
    assert fp[0] != fp[1] and len(fp[0]) == 32
    same = spark.createDataFrame([(0, "  THE cat and the dog sat in the yard for hours ")], "id long, text string")
    fp_same = same.select(T.doc_fingerprint(F.col("text")).alias("f")).collect()[0]["f"]
    assert fp_same == fp[0]  # case/trim-insensitive


def _winnow_py(text: str, k: int = 8, w: int = 4) -> list[str]:
    """Independent pure-Python winnowing (hashlib.md5 over utf-8) to pin the
    Spark expression's exact semantics."""
    import hashlib
    import re

    norm = re.sub(r"\s+", " ", text.lower()).strip()
    grams = [
        hashlib.md5(norm[i : i + k].encode()).hexdigest()
        for i in range(len(norm) - k + 1)
    ]
    mins = {min(grams[j : j + w]) for j in range(len(grams) - w + 1)}
    return sorted(mins)


def test_winnow_matches_pure_python(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "  The   QUICK brown fox  jumps over the lazy dog!!  ",
        "abcdefghijk",
    ]
    rows = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    got = {
        r["id"]: r["fps"]
        for r in rows.select(
            "id", T.winnow_fingerprints(F.col("text")).alias("fps")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _winnow_py(t), f"mismatch on text {i}"
    # normalization: the case/whitespace variant (text 1 adds only a "!!"
    # tail) keeps every fingerprint of text 0
    assert set(got[0]) <= set(got[1])


def test_winnow_guarantee_and_edges(spark):
    """SIGMOD'03 property: sharing a substring of length >= k + w - 1 implies
    >= 1 shared fingerprint; docs shorter than k + w - 1 yield empty sets."""
    shared = "zqxkwv jmplf trn"  # 16 chars >= 8 + 4 - 1
    rows = spark.createDataFrame(
        [
            (0, f"left context {shared} right tail here"),
            (1, f"completely other words {shared} and more"),
            (2, "tiny"),  # < k
            (3, "abcdefghij"),  # >= k but < k + w - 1
            (4, ""),
        ],
        "id long, text string",
    )
    got = {
        r["id"]: set(r["fps"])
        for r in rows.select(
            "id", T.winnow_fingerprints(F.col("text")).alias("fps")
        ).collect()
    }
    assert got[0] & got[1], "shared long substring must share a fingerprint"
    assert got[2] == set() and got[3] == set() and got[4] == set()


def test_repetition_primitives(df):
    """dup_word_frac / bigram_structs hand-checked on the planted docs."""
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            T.dup_word_frac(F.col("text")).alias("dwf"),
            T.bigram_structs(T.tokens_array(F.col("text"))).alias("bgs"),
        ).collect()
    }
    # doc 0: 11 tokens, 'the' x3 -> 9 distinct -> 1 - 9/11
    assert rows[0]["dwf"] == pytest.approx(1 - 9 / 11)
    assert rows[3]["dwf"] == 0.0                      # all distinct
    assert rows[4]["dwf"] == 0.0 and rows[4]["bgs"] == []   # empty doc
    assert [tuple(b) for b in rows[5]["bgs"]] == [("spaced", "out"), ("out", "tokens")]
    assert len(rows[0]["bgs"]) == 10                  # n_tokens - 1


def test_gopher_repetition_profile_planted(spark, tmp_path):
    """End-to-end q_gopher_repetition_profile on planted docs with
    hand-computed metrics: a degenerate repeated doc fails the gate, a
    distinct doc passes, a single-token doc contributes zero fractions."""
    from mlops_drift_detection_spark.queries_pipeline import (
        q_gopher_repetition_profile,
    )

    docs = spark.createDataFrame(
        [
            # 'a a a a b' -> 5 toks 2 distinct: dwf=0.6; bigrams
            # [a a, a a, a a, a b]: top 3/4, distinct 2 -> dup_bi 0.5 -> FAIL
            (0, "rep", "a a a a b"),
            # all-distinct, LONG ENOUGH that the top bigram share 1/9 clears
            # the 0.18 gate (a 5-token distinct doc would read 1/4 = 0.25 and
            # fail — the Gopher thresholds presume non-trivial length) -> PASS
            (1, "rep", "q r s t u v w x y z"),
            # single token: no bigrams, all fractions 0 -> PASS
            (2, "solo", "lonely"),
        ],
        "doc_id long, lang string, text string",
    )
    out = str(tmp_path / "docs")
    docs.write.parquet(f"{out}/documents.parquet")
    got = {
        r["lang"]: r
        for r in q_gopher_repetition_profile(spark, out).collect()
    }
    rep = got["rep"]
    assert rep["n_docs"] == 2
    assert rep["avg_dup_word_frac"] == pytest.approx((0.6 + 0.0) / 2)
    assert rep["avg_top_bigram_frac"] == pytest.approx((3 / 4 + 1 / 9) / 2, abs=1e-6)
    assert rep["avg_dup_bigram_frac"] == pytest.approx((0.5 + 0.0) / 2)
    assert rep["n_fail_gate"] == 1
    solo = got["solo"]
    assert solo["n_docs"] == 1
    assert solo["avg_dup_word_frac"] == 0.0
    assert solo["avg_top_bigram_frac"] == 0.0
    assert solo["n_fail_gate"] == 0


def test_decontamination_overlap_planted(spark, tmp_path):
    """Probe doc 0 (doc_id % 7 == 0) shares one 8-token shingle with corpus
    doc 1; doc 2 is clean; doc 14 is a probe too short to shingle. Expected:
    exactly one contaminated doc with one distinct matched shingle."""
    from mlops_drift_detection_spark.queries_pipeline import (
        q_decontamination_overlap,
    )

    run = "t1 t2 t3 t4 t5 t6 t7 t8"
    docs = spark.createDataFrame(
        [
            (0, "en", run + " t9"),          # probe: shingles [t1..t8, t2..t9]
            (1, "en", "x " + run + " y"),    # corpus: contains t1..t8 -> 1 hit
            (2, "en", "a b c d e f g h"),    # corpus: no overlap
            (14, "fr", "tiny probe"),         # probe, < 8 tokens: no shingles
            (3, "fr", "u v w x y z q r"),    # corpus: no overlap
        ],
        "doc_id long, lang string, text string",
    )
    out = str(tmp_path / "docs")
    docs.write.parquet(f"{out}/documents.parquet")
    rows = q_decontamination_overlap(spark, out).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["lang"] == "en"
    assert r["n_contaminated_docs"] == 1
    assert r["total_matched_shingles"] == 1
    assert r["max_doc_matched"] == 1


def test_tfidf_top_terms_planted(spark, tmp_path):
    """Hand-computed tf-idf on a 3-doc corpus: global df crosses langs (a doc
    has one lang, so df = sum of per-lang distinct counts), ties broken by
    term ascending."""
    import math

    from mlops_drift_detection_spark.queries_pipeline import q_tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (0, "en", "apple banana apple"),
            (1, "en", "banana cherry"),
            (2, "fr", "apple durian"),
        ],
        "doc_id long, lang string, text string",
    )
    out = str(tmp_path / "docs")
    docs.write.parquet(f"{out}/documents.parquet")
    got = [
        (r["lang"], r["rank"], r["term"], r["tf"], r["df"], r["tfidf"])
        for r in q_tfidf_top_terms(spark, out)
        .orderBy("lang", "rank")
        .collect()
    ]
    ln3 = round(math.log(3.0), 6)
    ln32 = round(math.log(3.0 / 2.0), 6)
    assert got == [
        # en: cherry 1*ln(3) beats the apple/banana tie 2*ln(3/2); tie -> term asc
        ("en", 1, "cherry", 1, 1, ln3),
        ("en", 2, "apple", 2, 2, round(2 * math.log(3.0 / 2.0), 6)),
        ("en", 3, "banana", 2, 2, round(2 * math.log(3.0 / 2.0), 6)),
        ("fr", 1, "durian", 1, 1, ln3),
        ("fr", 2, "apple", 1, 2, ln32),
    ]


def _bigram_array(col):
    """Readable spec of bigram_structs: adjacent token 2-grams as
    'tok_i tok_i+1' strings (empty array for docs with < 2 tokens)."""
    toks = T.tokens_array(col)
    n = F.size(toks)
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat(
                F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _token_shingles(col, k):
    """Readable spec of shingle_structs: rolling k-token shingles as
    'tok_i .. tok_i+k-1' strings; EMPTY array for docs with < k tokens."""
    toks = T.tokens_array(col)
    n = F.size(toks)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def test_struct_vs_string_ngram_equivalence(spark):
    """The codegen-friendly struct n-grams (bigram_structs/shingle_structs,
    the hot path) must agree with the string forms (_bigram_array/
    _token_shingles, the readable spec) on every doc: same count, same
    multiset — asserted by joining each struct back to its string."""
    docs = spark.createDataFrame(
        [
            (0, "a a a a b"),
            (1, "q r s t u v w x y z"),
            (2, "lonely"),
            (3, ""),
            (4, "  spaced   out   tokens  "),
            (5, "t1 t2 t3 t4 t5 t6 t7 t8 t9"),
        ],
        "doc_id long, text string",
    )
    toked = docs.select(
        "doc_id", T.tokens_array(F.col("text")).alias("toks"), "text"
    )
    rows = toked.select(
        "doc_id",
        _bigram_array(F.col("text")).alias("bg_str"),
        T.bigram_structs(F.col("toks")).alias("bg_struct"),
        _token_shingles(F.col("text"), 8).alias("sh_str"),
        T.shingle_structs(F.col("toks"), 8).alias("sh_struct"),
    ).collect()
    for r in rows:
        assert [f"{s['0']} {s['1']}" for s in r["bg_struct"]] == r["bg_str"]
        assert [
            " ".join(s[str(i)] for i in range(8)) for s in r["sh_struct"]
        ] == r["sh_str"]


def test_decontaminated_corpus_stats_planted(spark, tmp_path):
    """Composed pipeline classification on planted docs: a duplicate loses
    to keep-min, a probe-overlapping doc is contaminated (even though its
    quality would pass), a short doc is low-quality, a good doc is curated;
    probes themselves never appear in the rollup."""
    from mlops_drift_detection_spark.queries_pipeline import (
        q_decontaminated_corpus_stats,
    )

    good = (
        "the quick brown fox jumps over a lazy dog while many other words "
        "keep this document long and varied enough to pass the quality gate"
    )
    run = "p1 p2 p3 p4 p5 p6 p7 p8"
    docs = spark.createDataFrame(
        [
            (0, "en", run + " p9"),       # probe (0 % 7 == 0): excluded
            (1, "en", good),               # curated
            (2, "en", good),               # exact dup of 1 -> dropped by keep-min
            (3, "en", good + " " + run),  # shares a probe 8-gram -> contaminated
            (4, "en", "too short"),        # low-quality (< 10 tokens)
        ],
        "doc_id long, lang string, text string",
    )
    out = str(tmp_path / "docs")
    docs.write.parquet(f"{out}/documents.parquet")
    rows = q_decontaminated_corpus_stats(spark, out).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["lang"] == "en"
    assert r["n_curated"] == 1
    assert r["n_contaminated"] == 1
    assert r["n_low_quality"] == 1
    assert r["total_tokens"] == 25  # the good doc's whitespace tokens


def test_packing_efficiency_planted(spark, tmp_path):
    """Hand-computed packing bounds: a 3000-token doc needs 2 padded
    windows, a 5-token doc needs 1; dense concat of 3005 tokens needs 2."""
    from mlops_drift_detection_spark.queries_pipeline import (
        q_packing_efficiency,
    )

    docs = spark.createDataFrame(
        [(0, "en", "x " * 3000), (1, "en", "a b c d e")],
        "doc_id long, lang string, text string",
    )
    out = str(tmp_path / "docs")
    docs.write.parquet(f"{out}/documents.parquet")
    r = q_packing_efficiency(spark, out).collect()[0]
    assert r["n_docs"] == 2
    assert r["total_tokens"] == 3005
    assert r["windows_concat"] == 2       # ceil(3005 / 2048)
    assert r["windows_padded"] == 3       # ceil(3000/2048) + ceil(5/2048)
    assert r["packing_efficiency"] == pytest.approx(2 / 3, abs=1e-6)
    assert r["pad_waste_frac"] == pytest.approx(1 - 3005 / 6144, abs=1e-6)


def test_pii_redaction_profile_planted(spark, tmp_path):
    """Hand-computed PII profile. doc 0 (0 % 5/7/11 all zero) gets all
    three planted categories; doc 35 (% 5 and % 7) gets email + phone;
    doc 1 carries an ORGANIC email in its text (detector must fire without
    planting); doc 2 is clean. chars_redacted is the summed length delta
    of <EMAIL>/<PHONE>/<IP> substitution."""
    from mlops_drift_detection_spark.queries_pipeline import (
        q_pii_redaction_profile,
    )

    docs = spark.createDataFrame(
        [
            (0, "en", "hello"),
            (1, "en", "write to alice@corp.io today"),
            (2, "en", "nothing here"),
            (35, "en", "hello world"),
        ],
        "doc_id long, lang string, text string",
    )
    out = str(tmp_path / "docs")
    docs.write.parquet(f"{out}/documents.parquet")
    r = q_pii_redaction_profile(spark, out).collect()[0]
    assert r["n_docs"] == 4
    assert r["docs_with_pii"] == 3
    assert r["n_emails"] == 3   # user0@, organic alice@, user35@
    assert r["n_phones"] == 2   # 555-000-0000, 555-035-0035
    assert r["n_ipv4s"] == 1    # 10.0.0.7
    assert r["pii_doc_rate"] == pytest.approx(0.75, abs=1e-9)
    # doc0: email 17->7 (-10) + phone 12->7 (-5) + ip 8->4 (-4) = 19
    # doc1: alice@corp.io 13->7 (-6) = 6
    # doc35: user35@example.com 18->7 (-11) + phone 12->7 (-5) = 16
    assert r["chars_redacted"] == 19 + 6 + 16


def test_sampling_mixture_weights_planted(spark, tmp_path):
    """Hand-computed alpha=0.5 mixture: tokens en=9, de=1 -> shares
    0.9/0.1, w = (3, 1)/sqrt(10), p = (0.75, 0.25); the low-resource lang
    is upsampled 2.5x, the high-resource one downsampled to 5/6."""
    from mlops_drift_detection_spark.queries_pipeline import (
        q_sampling_mixture_weights,
    )

    docs = spark.createDataFrame(
        [(0, "en", "t " * 9), (1, "de", "t")],
        "doc_id long, lang string, text string",
    )
    out = str(tmp_path / "docs")
    docs.write.parquet(f"{out}/documents.parquet")
    rows = {r["lang"]: r for r in q_sampling_mixture_weights(spark, out).collect()}
    assert rows["en"]["tokens"] == 9 and rows["de"]["tokens"] == 1
    assert rows["en"]["token_share"] == pytest.approx(0.9, abs=1e-6)
    assert rows["en"]["p_sample"] == pytest.approx(0.75, abs=1e-6)
    assert rows["de"]["p_sample"] == pytest.approx(0.25, abs=1e-6)
    assert rows["de"]["upsample_factor"] == pytest.approx(2.5, abs=1e-6)
    assert rows["en"]["upsample_factor"] == pytest.approx(0.75 / 0.9, abs=1e-6)


def test_unigram_perplexity_planted(spark, tmp_path):
    """Hand-computed unigram-LM cross-entropies. Corpus counts a:3 b:2 c:1
    (T=6), so p(a)=1/2, p(b)=1/3, p(c)=1/6. doc0 'a a b':
    H=(2 ln2 + ln3)/3; doc1 'a b': H=(ln2+ln3)/2; doc2 'c': H=ln6;
    doc3 is empty -> unscored. Global mean ~1.17198: only doc2 exceeds
    it, so en flags 0 and de flags 1."""
    import math

    from mlops_drift_detection_spark.queries_pipeline import (
        q_unigram_perplexity_profile,
    )

    docs = spark.createDataFrame(
        [(0, "en", "a a b"), (1, "en", "a b"), (2, "de", "c"), (3, "en", "")],
        "doc_id long, lang string, text string",
    )
    out = str(tmp_path / "docs")
    docs.write.parquet(f"{out}/documents.parquet")
    rows = {
        r["lang"]: r
        for r in q_unigram_perplexity_profile(spark, out).collect()
    }
    h0 = (2 * math.log(2) + math.log(3)) / 3
    h1 = (math.log(2) + math.log(3)) / 2
    assert rows["en"]["n_docs_scored"] == 2      # empty doc3 unscored
    assert rows["en"]["avg_doc_tokens"] == pytest.approx(2.5, abs=1e-9)
    assert rows["en"]["avg_xent"] == pytest.approx((h0 + h1) / 2, abs=1e-6)
    assert rows["en"]["n_above_mean"] == 0
    assert rows["de"]["n_docs_scored"] == 1
    assert rows["de"]["avg_xent"] == pytest.approx(math.log(6), abs=1e-6)
    assert rows["de"]["n_above_mean"] == 1


def test_unigram_perplexity_single_scan(spark):
    """The formatted (pre-AQE) tree repeats the doc-term subtree under the
    scalar branches (6 Scan nodes — locked in tools/explain_audit.py); at
    RUNTIME ReuseExchange must collapse them to exactly ONE FileScan. This
    is the falsifiable form of the docstring's one-scan claim."""
    from mlops_drift_detection_spark.queries_pipeline import (
        q_unigram_perplexity_profile,
    )

    df = q_unigram_perplexity_profile(spark, "/root/testdata/sf0.001")
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    final = executed.split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1
    assert "ReusedExchange" in final


def test_cross_source_dup_rate_planted(spark, tmp_path):
    """Hand-computed cross-source audit: 'a b' and 'b a' share a wordset
    fingerprint across s1/s2 (and a second s2 copy), 'c'/'d' are unique.
    s1: 1 of 2 docs cross-duplicated; s2: 2 of 3."""
    from mlops_drift_detection_spark.queries_pipeline import (
        q_cross_source_dup_rate,
    )

    docs = spark.createDataFrame(
        [
            (0, "en", "a b", "s1"),
            (1, "en", "c", "s1"),
            (2, "en", "b a", "s2"),
            (3, "en", "d", "s2"),
            (4, "en", "a b", "s2"),
        ],
        "doc_id long, lang string, text string, source string",
    )
    out = str(tmp_path / "docs")
    docs.write.parquet(f"{out}/documents.parquet")
    rows = {r["source"]: r for r in q_cross_source_dup_rate(spark, out).collect()}
    assert rows["s1"]["n_docs"] == 2
    assert rows["s1"]["n_cross_dup"] == 1
    assert rows["s1"]["cross_dup_rate"] == pytest.approx(0.5, abs=1e-9)
    assert rows["s2"]["n_docs"] == 3
    assert rows["s2"]["n_cross_dup"] == 2
    assert rows["s2"]["cross_dup_rate"] == pytest.approx(2 / 3, abs=1e-6)


def test_dsir_importance_weights_planted(spark, tmp_path):
    """Hand-computed DSIR score: target (src0) is all 'good' (bucket 2),
    raw docs are 'good good' and 'bad bad bad' (bucket 24). With B=64,
    T=3, R=5: lr_good = ln(4/67) - ln(3/69) > 0, lr_bad = ln(1/67) -
    ln(4/69) < 0, so the good-leaning raw doc is selected and the bad one
    is not; avg_logw = (2*lr_g + 3*lr_b) / 2 over the two raw docs."""
    import math

    from mlops_drift_detection_spark.queries_pipeline import (
        q_dsir_importance_weights,
    )

    docs = spark.createDataFrame(
        [
            (0, "en", "good good good", "src0"),
            (1, "en", "good good", "src1"),
            (2, "en", "bad bad bad", "src1"),
        ],
        "doc_id long, lang string, text string, source string",
    )
    out = str(tmp_path / "docs")
    docs.write.parquet(f"{out}/documents.parquet")
    rows = {r["lang"]: r for r in q_dsir_importance_weights(spark, out).collect()}
    lr_g = math.log(4 / 67) - math.log(3 / 69)
    lr_b = math.log(1 / 67) - math.log(4 / 69)
    want_avg = (round(2 * lr_g, 9) + round(3 * lr_b, 9)) / 2
    assert rows["en"]["n_raw_docs"] == 2
    assert rows["en"]["n_selected"] == 1
    assert rows["en"]["selected_rate"] == pytest.approx(0.5, abs=1e-9)
    assert rows["en"]["avg_logw"] == pytest.approx(want_avg, abs=1e-6)


def test_dsir_single_scan(spark):
    """The formatted tree repeats the doc-bucket subtree under the model /
    totals / score branches (3 Scan nodes — locked in tools/explain_audit
    .py); at RUNTIME ReuseExchange must collapse them to exactly ONE
    FileScan. Locks both the shared-subtree isnotnull(b) filter and the
    conditional-aggregation raw-doc selection (a where(is_target == 0)
    would push source != 'src0' into the score branch's scan and split it
    off — the measured two-scan shape)."""
    from mlops_drift_detection_spark.queries_pipeline import (
        q_dsir_importance_weights,
    )

    df = q_dsir_importance_weights(spark, "/root/testdata/sf0.001")
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    final = executed.split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1
    assert "ReusedExchange" in final
