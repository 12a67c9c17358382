"""Property-based tests (hypothesis): the JVM-side kernels must agree with
independent driver-side mirrors on arbitrary inputs, not just the curated
unit-test fixtures.

Each property batches the whole example into ONE DataFrame -> ONE Spark
action, so hypothesis can run dozens of examples without dozens of job
round-trips. deadline=None because a Spark action's latency is dominated by
scheduling noise, not the property under test.
"""

from __future__ import annotations

import hashlib
import math
import re

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from numpy_oracles import ks_from_counts, psi_severity
from pyspark.sql import functions as F

from mlops_drift_detection_spark.functions.textstats import winnow_fingerprints
from mlops_drift_detection_spark.operators.histogram import bucket_expr_native
from mlops_drift_detection_spark.operators.psi import (
    ks_expr,
    psi_expr,
    psi_from_counts,
    psi_severity_expr,
)

SETTINGS = settings(
    max_examples=10,  # each example is a full Spark action (~2-4 s)
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

# counts: non-negative, heavy on zeros (the floor path) and small ints
count_val = st.one_of(
    st.just(0.0),
    st.integers(min_value=0, max_value=10_000).map(float),
    st.floats(min_value=0.0, max_value=1e6, allow_nan=False, allow_infinity=False),
)


@st.composite
def count_pairs(draw):
    n = draw(st.integers(min_value=1, max_value=12))
    e = draw(st.lists(count_val, min_size=n, max_size=n))
    a = draw(st.lists(count_val, min_size=n, max_size=n))
    return e, a


@SETTINGS
@given(st.lists(count_pairs(), min_size=1, max_size=10))
def test_psi_and_ks_expr_match_numpy(spark, pairs):
    df = spark.createDataFrame(
        [(i, e, a) for i, (e, a) in enumerate(pairs)],
        "i long, e array<double>, a array<double>",
    )
    rows = df.select(
        "i",
        psi_expr(F.col("e"), F.col("a")).alias("psi"),
        ks_expr(F.col("e"), F.col("a")).alias("ks"),
        psi_severity_expr(psi_expr(F.col("e"), F.col("a"))).alias("sev"),
    ).collect()
    got = {r["i"]: r for r in rows}
    for i, (e, a) in enumerate(pairs):
        want_psi = psi_from_counts(e, a)
        want_ks = ks_from_counts(e, a)
        assert math.isclose(got[i]["psi"], want_psi, rel_tol=1e-9, abs_tol=1e-12), (
            f"PSI mismatch on {e} vs {a}: spark={got[i]['psi']} numpy={want_psi}"
        )
        assert math.isclose(got[i]["ks"], want_ks, rel_tol=1e-9, abs_tol=1e-12), (
            f"KS mismatch on {e} vs {a}: spark={got[i]['ks']} numpy={want_ks}"
        )
        assert got[i]["sev"] == psi_severity(want_psi)


@SETTINGS
@given(st.lists(count_pairs(), min_size=2, max_size=6))
def test_psi_merge_first_rule(spark, pairs):
    """PSI over element-wise-summed count vectors == PSI of the merged data.

    This is the SURVEY §7 scale rule stated as a property: per-partition
    histograms merge by addition BEFORE the PSI kernel runs, so computing
    on the summed vectors is THE definition of correct — assert the numpy
    oracle and the Spark expression agree on the merged vectors (padding
    every pair to a common length so the merge is well-defined).
    """
    n = max(len(e) for e, _ in pairs)
    e_tot = np.zeros(n)
    a_tot = np.zeros(n)
    for e, a in pairs:
        e_tot[: len(e)] += e
        a_tot[: len(a)] += a
    df = spark.createDataFrame(
        [(e_tot.tolist(), a_tot.tolist())], "e array<double>, a array<double>"
    )
    got = df.select(psi_expr(F.col("e"), F.col("a")).alias("psi")).collect()[0]["psi"]
    want = psi_from_counts(e_tot, a_tot)
    assert math.isclose(got, want, rel_tol=1e-9, abs_tol=1e-12)


# grid-valued edges/values: boundary hits are frequent and exactly
# representable, so pandas and the JVM see bit-identical doubles
grid_val = st.integers(min_value=-400, max_value=400).map(lambda i: i * 0.25)


@st.composite
def edges_and_values(draw):
    edges = sorted(draw(st.sets(grid_val, min_size=3, max_size=9)))
    values = draw(
        st.lists(
            st.one_of(grid_val, st.sampled_from(edges), st.none()),
            min_size=1,
            max_size=40,
        )
    )
    return edges, values


@SETTINGS
@given(edges_and_values())
def test_bucket_native_matches_pd_cut(spark, ev):
    edges, values = ev
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "i long, v double"
    )
    rows = df.select(
        "i", bucket_expr_native(F.col("v"), edges).alias("b")
    ).collect()
    got = {r["i"]: r["b"] for r in rows}
    codes = pd.cut(
        pd.Series(values, dtype=float), bins=edges, include_lowest=True
    ).cat.codes
    for i, v in enumerate(values):
        want = None if codes.iloc[i] == -1 else int(codes.iloc[i])
        assert got[i] == want, (
            f"bucket mismatch: value={v} edges={edges} spark={got[i]} pandas={want}"
        )


def _winnow_py(text: str, k: int = 8, w: int = 4) -> list[str]:
    norm = re.sub(r"\s+", " ", text.lower()).strip()
    grams = [
        hashlib.md5(norm[i : i + k].encode()).hexdigest()
        for i in range(len(norm) - k + 1)
    ]
    mins = {min(grams[j : j + w]) for j in range(len(grams) - w + 1)}
    return sorted(mins)


# ascii letters/digits/punct + the whitespace Java's \s and Python's \s agree on
text_alphabet = st.sampled_from(
    list("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 .,;!?-_\t\n")
)
texts = st.text(alphabet=text_alphabet, min_size=0, max_size=60)


@SETTINGS
@given(st.lists(texts, min_size=1, max_size=20))
def test_winnow_matches_python(spark, batch):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(batch)], "i long, t string"
    )
    rows = df.select(
        "i", winnow_fingerprints(F.col("t"), k=8, w=4).alias("fps")
    ).collect()
    got = {r["i"]: r["fps"] for r in rows}
    for i, t in enumerate(batch):
        assert got[i] == _winnow_py(t), f"winnow mismatch on {t!r}"


@SETTINGS
@given(texts, texts, texts)
def test_winnow_shared_substring_guarantee(spark, left, mid, right):
    """Schleimer et al. correctness property, adversarially instantiated:
    ANY two docs embedding the same >= k+w-1-char substring share >= 1
    fingerprint — with hypothesis choosing the surrounding context."""
    shared = "zq1xk2wv3 jm4plf5trn6"  # 21 chars, no \s+ collapse inside
    a = f"{left} {shared} {mid}"
    b = f"{mid} {shared} {right}"
    df = spark.createDataFrame([(0, a), (1, b)], "i long, t string")
    rows = df.select(
        "i", winnow_fingerprints(F.col("t"), k=8, w=4).alias("fps")
    ).collect()
    fps = {r["i"]: set(r["fps"]) for r in rows}
    assert fps[0] & fps[1], f"no shared fingerprint between {a!r} and {b!r}"


def _ngram_jaccard_py(docs: list[list[str]], t: float, n: int = 3):
    def grams(toks):
        if len(toks) >= n:
            return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
        return {" ".join(toks)}
    gs = [grams(d) for d in docs]
    out = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            jac = len(gs[i] & gs[j]) / len(gs[i] | gs[j])
            if jac >= t:
                out[(i, j)] = jac
    return out


vocab = st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"])
doc_tokens = st.lists(vocab, min_size=1, max_size=12)


@SETTINGS
@given(
    st.lists(doc_tokens, min_size=2, max_size=12),
    st.sampled_from([0.5, 0.7, 0.8, 0.9, 1.0]),
)
def test_prefix_filter_complete_on_arbitrary_docs(spark, docs, t):
    """The prefix-filter lemma, adversarially instantiated: on ARBITRARY
    small-vocab corpora (heavy gram collisions, ties in the frequency
    order, every size ratio) the prefix-filter join must equal the
    exhaustive pairwise answer at every threshold."""
    from mlops_drift_detection_spark.functions.dedup import (
        prefix_filter_jaccard_join,
    )

    df = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)], "id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in prefix_filter_jaccard_join(
            df, "text", "id", threshold=t, n=3
        ).collect()
    }
    want = _ngram_jaccard_py(docs, t)
    assert got == want, f"t={t}: spark={got} python={want}"


short_doc_tokens = st.lists(vocab, min_size=1, max_size=5)  # 1-3 3-grams


@pytest.mark.parametrize(
    "t", [0.5, 0.6, 0.7, 0.75, 0.8, 0.85, 0.9, 0.95], ids=lambda t: f"t{t}"
)
@SETTINGS
@given(st.lists(short_doc_tokens, min_size=2, max_size=8))
def test_prefix_filter_complete_at_adversarial_thresholds(spark, t, docs):
    """VERDICT r3 #5: the completeness lemma's edge is the prefix length
    ``|x| - ceil(t*|x|) + 1``. Sweep EVERY threshold deterministically
    (pytest parametrize, not hypothesis sampling) against corpora of SHORT
    docs (1-3 grams each, where ceil(t*|x|) hits every rounding boundary)
    and require exact equality with the exhaustive pairwise oracle."""
    from mlops_drift_detection_spark.functions.dedup import (
        prefix_filter_jaccard_join,
    )

    df = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)], "id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in prefix_filter_jaccard_join(
            df, "text", "id", threshold=t, n=3
        ).collect()
    }
    want = _ngram_jaccard_py(docs, t)
    assert got == want, f"t={t}: spark={got} python={want}"


@SETTINGS
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=0, max_value=2000),
        ),
        min_size=1,
        max_size=60,
    ),
    st.sampled_from([7, 30, 115]),  # chunk_seconds, incl. < gap and >> gap
)
def test_sessionize_split_equals_plain(spark, events, chunk_s):
    """sessionize_split is DEFINED as byte-identical to sessionize for every
    input and every chunk size — hypothesis drives arbitrary (key, second)
    timelines (duplicates and cross-chunk-boundary gaps included) at chunk
    sizes below, near, and far above the 10 s gap threshold."""
    from mlops_drift_detection_spark.operators.temporal import (
        sessionize,
        sessionize_split,
    )

    base = 1_700_000_000_000_000
    df = spark.createDataFrame(
        [(k, base + s * 1_000_000, i) for i, (k, s) in enumerate(events)],
        "k string, us long, i long",
    ).select("k", F.timestamp_micros(F.col("us")).alias("ts"), "i")
    plain = {
        r["i"]: r["session_id"]
        for r in sessionize(df, "k", "ts", gap_seconds=10).collect()
    }
    got = {
        r["i"]: r["session_id"]
        for r in sessionize_split(
            df, "k", "ts", gap_seconds=10, chunk_seconds=chunk_s
        ).collect()
    }
    assert got == plain, f"chunk={chunk_s}"


def _py_dup_spans(docs: list[tuple[int, str]], k: int) -> dict:
    """Pure-Python mirror of dedup.cross_doc_dup_spans: k-token shingles,
    cross-doc duplicated = in >= 2 distinct docs, adjacent (gap <= k)
    duplicated positions merge to maximal spans."""
    toks = {
        i: (t.strip().lower().split() if t.strip() else []) for i, t in docs
    }
    owners: dict = {}
    for i, t in toks.items():
        for p in range(len(t) - k + 1):
            owners.setdefault(tuple(t[p : p + k]), set()).add(i)
    out = {}
    for i, t in toks.items():
        dup_pos = [
            p
            for p in range(len(t) - k + 1)
            if len(owners[tuple(t[p : p + k])]) >= 2
        ]
        if not dup_pos:
            continue
        spans = []
        start = prev = dup_pos[0]
        for p in dup_pos[1:]:
            if p - prev > k:
                spans.append((start, prev))
                start = p
            prev = p
        spans.append((start, prev))
        out[i] = (len(spans), sum(b - a + k for a, b in spans))
    return out


_span_doc = st.lists(
    st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=14
).map(" ".join)


@SETTINGS
@given(st.lists(_span_doc, min_size=1, max_size=10))
def test_cross_doc_dup_spans_match_python(spark, batch):
    """The distributed span operator agrees with an independent pure-Python
    mirror on arbitrary docs over a tiny alphabet (which forces heavy
    shingle collisions — the worst case for the dup-set join and the span
    merge), including empty docs, all-duplicate corpora, and single-doc
    batches where NOTHING is cross-doc duplicated."""
    from mlops_drift_detection_spark.functions.dedup import cross_doc_dup_spans

    docs = list(enumerate(batch))
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["n_dup_spans"], r["dup_tokens"])
        for r in cross_doc_dup_spans(df, "doc_id", "text", k=3).collect()
    }
    assert got == _py_dup_spans(docs, k=3)


def _containment_py(docs: list[list[str]], t: float, n: int = 3):
    def grams(toks):
        if len(toks) >= n:
            return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
        return {" ".join(toks)}

    gs = [grams(d) for d in docs]
    out = {}
    for i in range(len(docs)):
        for j in range(len(docs)):
            if i == j:
                continue
            c = len(gs[i] & gs[j]) / len(gs[i])
            if c >= t:
                out[(i, j)] = c
    return out


@SETTINGS
@given(
    st.lists(doc_tokens, min_size=2, max_size=10),
    st.sampled_from([0.5, 0.7, 0.9, 1.0]),
)
def test_containment_prefix_complete_on_arbitrary_docs(spark, docs, t):
    """The asymmetric (probe-prefix vs full-index) adaptation of the
    prefix-filter lemma, adversarially instantiated: on ARBITRARY
    small-vocab corpora the containment join must equal the exhaustive
    ordered-pairs answer at every threshold — both directions of every
    pair, including containment through gram collisions."""
    from mlops_drift_detection_spark.functions.dedup import (
        containment_prefix_join,
    )

    df = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)], "id long, text string"
    )
    got = {
        (r["id_contained"], r["id_container"]): r["containment"]
        for r in containment_prefix_join(
            df, "text", "id", threshold=t, n=3
        ).collect()
    }
    want = _containment_py(docs, t)
    assert got == want, f"t={t}: spark={got} python={want}"


def _funnel_py(events, day_s=86400):
    """Brute-force first-touch funnel mirror: events = [(user, type, ts_s)]."""
    by_user = {}
    for u, ty, t in events:
        by_user.setdefault(u, []).append((ty, t))
    n = [0, 0, 0]
    for u, evs in by_user.items():
        views = sorted(t for ty, t in evs if ty == "view")
        if not views:
            continue
        t1 = views[0]
        n[0] += 1
        clicks = sorted(
            t for ty, t in evs if ty == "click" and t1 < t <= t1 + day_s
        )
        if not clicks:
            continue
        t2 = clicks[0]
        n[1] += 1
        purch = sorted(
            t for ty, t in evs if ty == "purchase" and t2 < t <= t2 + day_s
        )
        if purch:
            n[2] += 1
    return n


ev_type = st.sampled_from(["view", "click", "purchase"])
# hour-resolution offsets over ~3 days: plenty of events straddle the
# 24 h step windows, including exact-boundary hits (== t1 + 24 h counts)
ev_offset_h = st.integers(min_value=0, max_value=72)


@SETTINGS
@given(
    st.lists(
        st.tuples(st.integers(min_value=1, max_value=5), ev_type, ev_offset_h),
        min_size=1,
        max_size=30,
    )
)
def test_funnel_matches_bruteforce_on_arbitrary_streams(spark, raw):
    """First-touch funnel semantics, adversarially instantiated: arbitrary
    small event streams (same-timestamp collisions, boundary hits at
    exactly t+24 h, missing steps, out-of-order arrival) must produce the
    identical step counts as a brute-force per-user Python mirror."""
    from mlops_drift_detection_spark.queries import q_funnel_conversion
    from pyspark.sql import functions as F
    import tempfile

    events = [(u, ty, h * 3600) for u, ty, h in raw]
    want = _funnel_py(events)
    df = spark.createDataFrame(
        [(i, u, ty, sec) for i, (u, ty, sec) in enumerate(events)],
        "event_id long, user_id long, event_type string, s long",
    ).select(
        "event_id",
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("s"))).alias("ts"),
        "user_id",
        "event_type",
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    with tempfile.TemporaryDirectory() as out:
        df.write.parquet(f"{out}/events.parquet")
        got_rows = {r["step"]: r["n_users"]
                    for r in q_funnel_conversion(spark, out).collect()}
    got = [got_rows.get(s, 0) for s in (1, 2, 3)]
    assert got == want, f"spark={got} python={want} events={events}"


def _cohort_py(events):
    """Brute-force cohort mirror: events = [(user, day_int)] -> {(cohort,
    offset): n} over offsets 0-7, distinct (user, day)."""
    by_user = {}
    for u, d in set(events):
        by_user.setdefault(u, set()).add(d)
    out = {}
    for u, days in by_user.items():
        c = min(days)
        for d in days:
            off = d - c
            if 0 <= off <= 7:
                out[(c, off)] = out.get((c, off), 0) + 1
    return out


@SETTINGS
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),
            st.integers(min_value=0, max_value=12),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_cohort_retention_matches_bruteforce(spark, raw):
    """Cohort grid counts, adversarially instantiated: arbitrary (user,
    day) activity patterns — duplicate same-day events, offset-8+ gaps,
    single-day users — must reproduce the brute-force per-user mirror."""
    from mlops_drift_detection_spark.queries import q_cohort_retention
    from pyspark.sql import functions as F
    import datetime
    import tempfile

    want = _cohort_py(raw)
    base = datetime.date(2024, 1, 1)
    df = spark.createDataFrame(
        [(i, u, d) for i, (u, d) in enumerate(raw)],
        "event_id long, user_id long, d int",
    ).select(
        "event_id",
        (
            F.lit("2024-01-01 12:00:00").cast("timestamp")
            + F.make_interval(days=F.col("d"))
        ).alias("ts"),
        "user_id",
        F.lit("view").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    with tempfile.TemporaryDirectory() as out:
        df.write.parquet(f"{out}/events.parquet")
        got = {
            (
                (r["cohort_day"] - base).days,
                r["day_offset"],
            ): r["n_active"]
            for r in q_cohort_retention(spark, out).collect()
        }
    assert got == want, f"spark={got} python={want} raw={raw}"
