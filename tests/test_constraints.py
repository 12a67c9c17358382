"""Constraint checks: planted-violation exactness + rule unit behavior."""

import re

import pandas as pd
import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F

from mlops_drift_detection_spark.datagen import (
    CodeFilesSpec,
    expected_violation_counts,
    generate_code_files,
    generate_commits,
)
from mlops_drift_detection_spark.operators import constraints as C


@pytest.fixture(scope="module")
def fixture(spark):
    spec = CodeFilesSpec(n_rows=4_000, n_repos=40, n_commits=400)
    cf = generate_code_files(spark, spec).cache()
    cm = generate_commits(spark, spec).cache()
    cf.count(), cm.count()
    return spec, cf, cm


def test_uniqueness_planted(fixture):
    spec, cf, _ = fixture
    exp = expected_violation_counts(spec)
    v = C.uniqueness_violations(cf).collect()
    assert len(v) == exp["duplicates"]
    assert all(r["check"] == "uniqueness" and "multiplicity=2" in r["detail"] for r in v)


def test_referential_planted_broadcast_and_shuffle(fixture):
    spec, cf, cm = fixture
    exp = expected_violation_counts(spec)
    # the build side is not deduplicated: a dim with every key twice must
    # give the same anti-join rows
    for dim in (cm, cm.unionByName(cm)):
        for bcast in (True, False):
            v = C.referential_violations(cf, dim, broadcast_dim=bcast)
            assert v.count() == exp["dangling"]


def test_referential_plan_broadcasts(fixture):
    _, cf, cm = fixture
    plan = C.referential_violations(cf, cm, broadcast_dim=True)._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan


COMMIT_RE = "^[0-9a-f]{40}$"


def not_null_rule(column: str) -> C.RowRule:
    return C.RowRule("not_null", column, F.col(column).isNull(), F.lit("null value"))


def not_empty_rule(column: str) -> C.RowRule:
    return C.RowRule(
        "not_empty",
        column,
        F.col(column).isNotNull() & (F.length(column) == 0),
        F.lit("empty value"),
    )


def range_rule(column: str, value: Column, lo: float, hi: float) -> C.RowRule:
    return C.RowRule(
        "range",
        column,
        value.isNotNull() & ((value < F.lit(lo)) | (value > F.lit(hi))),
        F.concat(F.lit("value="), value.cast("string")),
    )


def regex_rule(column: str, pattern: str) -> C.RowRule:
    return C.RowRule(
        "regex",
        column,
        F.col(column).isNotNull() & ~F.col(column).rlike(pattern),
        F.concat(F.lit("value="), F.col(column).cast("string")),
    )


def sha256_rule() -> C.RowRule:
    return C.RowRule(
        "sha256_invariant",
        "content",
        F.col("content").isNotNull()
        & (F.sha2(F.col("content"), 256) != F.col("content_sha256")),
        F.concat(F.lit("expected="), F.col("content_sha256")),
    )


def zscore_rule(
    column: str, mean: float, std: float, threshold: float = 3.0
) -> C.RowRule:
    """|value - mean| / std > threshold against FROZEN baseline stats. A
    zero std makes z NULL, so no row violates (drift_detector.py:319)."""
    value = F.col(column).cast("double")
    z = F.abs((value - F.lit(mean)) / F.nullif(F.lit(std), F.lit(0.0)))
    sev = F.when(z > 5.0, F.lit("high")).otherwise(F.lit("medium"))
    return C.RowRule(
        "zscore",
        column,
        F.col(column).isNotNull() & (z > F.lit(threshold)),
        F.concat(F.lit("z="), F.round(z, 2), F.lit(" severity="), sev),
    )


def test_null_and_empty_planted(fixture):
    spec, cf, _ = fixture
    exp = expected_violation_counts(spec)
    v = C.fused_row_violations(cf, [not_null_rule("lang"), not_empty_rule("content")])
    got = {r["check"]: r["count"] for r in v.groupBy("check").count().collect()}
    assert got == {"not_null": exp["null_lang"], "not_empty": exp["null_lang"]}


def test_sha256_invariant(fixture, spark):
    _, cf, _ = fixture
    assert C.fused_row_violations(cf, [sha256_rule()]).count() == 0
    # corrupt one row -> exactly one violation
    corrupted = cf.withColumn(
        "content",
        F.when(F.col("row_id") == 100, F.lit("tampered")).otherwise(F.col("content")),
    )
    v = C.fused_row_violations(corrupted, [sha256_rule()]).collect()
    assert len(v) == 1 and v[0]["check"] == "sha256_invariant"


def test_range_and_regex(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "repo": ["r"] * 4,
                "path": ["p"] * 4,
                "commit": ["a" * 40, "B" * 40, "zzz", "b" * 40],
                "n": [5.0, -1.0, 150.0, None],
            }
        )
    )
    rv = C.fused_row_violations(df, [range_rule("n", F.col("n"), 0.0, 100.0)]).collect()
    assert sorted(r["detail"] for r in rv) == ["value=-1.0", "value=150.0"]
    xv = C.fused_row_violations(df, [regex_rule("commit", COMMIT_RE)]).collect()
    assert len(xv) == 2  # uppercase + short


def test_zscore_reference_semantics(spark):
    # reference: drift_detector.py:295-334 — z>3 violation, z>5 high severity
    df = spark.createDataFrame(
        pd.DataFrame({"repo": ["r"] * 3, "path": ["p"] * 3, "commit": ["c"] * 3,
                      "v": [0.0, 4.0, 6.0]})
    )
    v = C.fused_row_violations(df, [zscore_rule("v", mean=0.0, std=1.0)]).collect()
    assert len(v) == 2
    details = {r["detail"] for r in v}
    assert any("severity=medium" in d for d in details)
    assert any("severity=high" in d for d in details)
    # zero std -> no violations (guard, drift_detector.py:319)
    assert C.fused_row_violations(df, [zscore_rule("v", mean=0.0, std=0.0)]).count() == 0


def test_violation_shape_uniform(fixture, spark):
    _, cf, cm = fixture
    dfs = [
        C.uniqueness_violations(cf),
        C.referential_violations(cf, cm),
        C.fused_row_violations(cf, [not_null_rule("lang")]),
        C.empty_violations(spark),
    ]
    for d in dfs:
        assert d.columns == C.VIOLATION_COLS


def test_fused_row_violations_equals_union(fixture, spark):
    """The single-scan fused path emits EXACTLY the rows a pandas mirror of
    the four rules produces over the collected fixture (same
    check/column/detail strings, same multiset)."""
    _, cf, _ = fixture
    rules = [
        not_null_rule("lang"),
        not_empty_rule("content"),
        range_rule("content_length", F.length("content"), 1.0, 5000.0),
        regex_rule("commit", COMMIT_RE),
    ]
    fused = sorted(map(tuple, C.fused_row_violations(cf, rules).collect()))

    pdf = cf.select("repo", "path", "commit", "lang", "content").toPandas()
    want = []
    for r in pdf.itertuples(index=False):
        keys = (r.repo, r.path, r.commit)
        if r.lang is None:
            want.append((None, "not_null", "lang", *keys, "null value"))
        if r.content is not None:
            n = len(r.content)
            if n == 0:
                want.append((None, "not_empty", "content", *keys, "empty value"))
            if n < 1 or n > 5000:
                want.append((None, "range", "content_length", *keys, f"value={n}"))
        if r.commit is not None and not re.search(COMMIT_RE, r.commit):
            want.append((None, "regex", "commit", *keys, f"value={r.commit}"))
    assert len(fused) > 0
    assert fused == sorted(want)


def test_fused_row_violations_single_scan_plan(fixture):
    """The fused plan touches the input relation once (one scan leaf)."""
    _, cf, _ = fixture
    rules = [not_null_rule("lang"), regex_rule("commit", COMMIT_RE)]
    plan = C.fused_row_violations(cf, rules)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("inmemoryrelation") + plan.lower().count("logicalrdd") <= 1


def test_functional_dependency_profile(spark):
    """FD check source->lang: holds / violated / deterministic DESC majority
    tiebreak (the rule both engines state via row_number, never max_by)."""
    from mlops_drift_detection_spark.operators.constraints import (
        functional_dependency_profile,
    )

    rows = (
        [("s1", "a")] * 3 + [("s1", "b")]          # majority a, 1 violation
        + [("s2", "c")] * 4                          # FD holds
        + [("s3", "a")] * 2 + [("s3", "b")] * 2      # tie -> 'b' (DESC)
    )
    df = spark.createDataFrame(rows, "source string, lang string")
    out = {
        r["source"]: r.asDict()
        for r in functional_dependency_profile(df, "source", "lang").collect()
    }
    assert out["s1"]["majority_lang"] == "a"
    assert out["s1"]["n_violations"] == 1
    assert out["s1"]["majority_share"] == 0.75
    assert not out["s1"]["fd_holds"]
    assert out["s2"]["fd_holds"] and out["s2"]["n_violations"] == 0
    assert out["s3"]["majority_lang"] == "b"  # tie broken by DESC dep value
    assert out["s3"]["n_violations"] == 2
    assert out["s3"]["n_distinct_lang"] == 2


def test_aggregate_reconciliation_profile_planted(spark):
    """Rollup-vs-detail reconciliation over planted parents: an exact
    match, a 2-cent mismatch, a childless parent, a gap of exactly the
    tolerance (NOT a mismatch — strict >), and the decimal-exactness case
    0.10 + 0.20 == 0.30 that a double pipeline would flag as a phantom
    4.4e-17 gap."""
    parents = spark.createDataFrame(
        [
            (1, "A", 100.00),
            (2, "A", 50.00),
            (3, "B", 10.00),   # childless
            (4, "B", 20.01),   # gap exactly 0.01 == tol -> no mismatch
            (5, "C", 0.30),    # decimal-exact: 0.10 + 0.20
        ],
        "k long, status string, total double",
    )
    children = spark.createDataFrame(
        [
            (1, 60.00), (1, 40.00),
            (2, 49.98),
            (4, 20.00),
            (5, 0.10), (5, 0.20),
        ],
        "fk long, amt double",
    )
    out = {
        r["status"]: r
        for r in C.aggregate_reconciliation_profile(
            parents,
            children,
            parent_key="k",
            child_key="fk",
            parent_total=F.col("total").cast("decimal(12,2)"),
            child_amount=F.col("amt").cast("decimal(12,2)"),
            group_col="status",
            tol=0.01,
        ).collect()
    }
    a, b, c = out["A"], out["B"], out["C"]
    assert (a["n_parents"], a["n_no_children"], a["n_mismatch"]) == (2, 0, 1)
    assert a["max_abs_gap"] == pytest.approx(0.02)
    assert a["avg_abs_gap"] == pytest.approx(0.01)
    assert (b["n_parents"], b["n_no_children"], b["n_mismatch"]) == (2, 1, 0)
    assert b["max_abs_gap"] == pytest.approx(0.01)
    assert (c["n_parents"], c["n_no_children"], c["n_mismatch"]) == (1, 0, 0)
    assert c["max_abs_gap"] == 0.0  # EXACTLY zero, not 4.4e-17


def test_k_anonymity_profile_planted(spark):
    """Group arithmetic and the verdict: report value A has a 5-row group
    (safe at k=5) plus a 2-row group (at risk); B's single 6-row group is
    k-anonymous outright. report_col outside quasi_cols is a ValueError."""
    rows = (
        [("A", "x", 1)] * 5 + [("A", "y", 2)] * 2 + [("B", "z", 3)] * 6
    )
    df = spark.createDataFrame(rows, "r string, q1 string, q2 int")
    out = {
        row["r"]: row
        for row in C.k_anonymity_profile(
            df, quasi_cols=["r", "q1", "q2"], report_col="r", k=5
        ).collect()
    }
    a, b = out["A"], out["B"]
    assert (a["n_rows"], a["n_qi_groups"], a["n_small_groups"]) == (7, 2, 1)
    assert (a["n_rows_at_risk"], a["min_group_size"]) == (2, 2)
    assert not a["k_anonymous"]
    assert a["risk_rate"] == pytest.approx(2 / 7, abs=1e-6)
    assert b["k_anonymous"] and b["n_rows_at_risk"] == 0
    with pytest.raises(ValueError):
        C.k_anonymity_profile(df, ["q1"], "r")
