"""Drift verdicts vs a verbatim-reference pandas oracle, plus the
normal-vs-drifted behavioral contract (test_drift_detection.py pattern).

Every verdict comes from the one drift operator, ``fused_drift_verdicts``;
the oracles here are pandas/numpy and share no Spark code with it."""

import numpy as np
import pandas as pd
import pytest
from numpy_oracles import histogram_from_values, ks_from_counts, psi_severity

from mlops_drift_detection_spark.baseline import (
    BaselineSnapshot,
    BinaryBaseline,
    CategoricalBaseline,
    NumericalBaseline,
    compute_baseline,
)
from mlops_drift_detection_spark.operators.drift import (
    drift_summary,
    fused_drift_verdicts,
)
from mlops_drift_detection_spark.operators.psi import psi_from_counts

RNG = np.random.RandomState(42)


def reference_numerical_drift(baseline_bins, baseline_counts, baseline_mean,
                              baseline_std, production: pd.Series):
    """Verbatim reference logic (drift_detector.py:87-166) as oracle."""
    binned = pd.cut(production.dropna(), bins=baseline_bins, include_lowest=True)
    actual = binned.value_counts().sort_index().values
    if len(actual) < len(baseline_counts):
        full = np.zeros(len(baseline_counts))
        full[: len(actual)] = actual
        actual = full
    expected = np.array(baseline_counts, dtype=float)
    a = np.array(actual, dtype=float)
    if a.sum() == 0 or expected.sum() == 0:
        psi = 0.0
    else:
        ep = expected / expected.sum()
        ap = a / a.sum()
        ep = np.where(ep == 0, 1e-4, ep)
        ap = np.where(ap == 0, 1e-4, ap)
        psi = float(np.sum((ap - ep) * np.log(ap / ep)))
        if np.isnan(psi) or np.isinf(psi):
            psi = 0.0
    cur_mean = float(production.mean())
    cur_std = float(production.std())
    if np.isnan(cur_mean):
        cur_mean = 0.0
    if np.isnan(cur_std):
        cur_std = 0.0
    mcp = ((cur_mean - baseline_mean) / baseline_mean * 100) if baseline_mean != 0 else 0
    if np.isnan(mcp) or np.isinf(mcp):
        mcp = 0.0
    sev = "low" if psi < 0.1 else "medium" if psi < 0.2 else "high"
    return {
        "psi": round(psi, 4),
        "drift_detected": psi >= 0.2,
        "drift_severity": sev,
        "current_mean": round(cur_mean, 4),
        "current_std": round(cur_std, 4),
        "mean_change_pct": round(mcp, 2),
    }


def mirror_drift_verdicts(pdf: pd.DataFrame, snap: BaselineSnapshot,
                          partition_col: str, psi_threshold: float = 0.2,
                          diff_threshold: float = 0.1) -> dict:
    """Pandas/numpy mirror of fused_drift_verdicts: one verdict dict per
    (partition, feature), keyed by that pair.

    numerical   — the verbatim reference (above) for PSI/moments, numpy KS
                  over the pd.cut-equivalent histogram; n_samples counts
                  every row of the partition, NULLs included.
    categorical — counts over the frozen category list (NULLs and unknown
                  values drop out); no row when no value hits the list;
                  mean = top-category share, n_samples = in-list count.
    binary      — the reference's proportion-difference test
                  (drift_detector.py:203-225); no KS. With no non-NULL
                  value the proportion is NULL (SQL ``avg``), and so are
                  psi, drift_detected and current_mean; severity is low.
    """
    out = {}
    for part, g in pdf.groupby(partition_col):
        part = str(part)
        for feat, nb in snap.numerical.items():
            v = g[feat].astype(float)
            ref = reference_numerical_drift(nb.bins, nb.counts, nb.mean, nb.std, v)
            counts = histogram_from_values(v.to_numpy(), nb.bins)
            out[(part, feat)] = {
                **ref,
                "partition": part, "feature": feat, "kind": "numerical",
                "ks": round(ks_from_counts(nb.counts, counts), 4),
                "baseline_mean": round(nb.mean, 4),
                "baseline_std": round(nb.std, 4),
                "n_samples": len(g),
            }
        for feat, cb in snap.categorical.items():
            hits = g[feat].value_counts()
            counts = [float(hits.get(c, 0)) for c in cb.categories]
            total = sum(counts)
            if total == 0:
                continue
            psi = psi_from_counts(cb.counts, counts)
            bmean = cb.proportions[0] if cb.proportions else 0.0
            cur = counts[0] / total
            out[(part, feat)] = {
                "partition": part, "feature": feat, "kind": "categorical",
                "psi": round(psi, 4),
                "ks": round(ks_from_counts(cb.counts, counts), 4),
                "drift_detected": psi >= psi_threshold,
                "drift_severity": psi_severity(psi),
                "baseline_mean": round(bmean, 4),
                "current_mean": round(cur, 4),
                "mean_change_pct": (
                    round((cur - bmean) / bmean * 100, 2) if bmean else 0.0
                ),
                "baseline_std": 0.0, "current_std": 0.0,
                "n_samples": int(total),
            }
        for feat, bb in snap.binary.items():
            vals = g[feat].dropna().astype(float)
            prop = None if vals.empty else float(vals.mean())
            diff = None if prop is None else abs(prop - bb.proportion_ones)
            out[(part, feat)] = {
                "partition": part, "feature": feat, "kind": "categorical_binary",
                "psi": None if diff is None else round(diff, 4), "ks": None,
                "drift_detected": None if diff is None else diff >= diff_threshold,
                "drift_severity": (
                    "low" if diff is None
                    else "high" if diff >= 0.2 else "medium" if diff >= 0.1
                    else "low"
                ),
                "baseline_mean": round(bb.proportion_ones, 4),
                "current_mean": None if prop is None else round(prop, 4),
                "mean_change_pct": 0.0, "baseline_std": 0.0, "current_std": 0.0,
                "n_samples": len(g),
            }
    return out


def _only_verdict(df, snap, **kw) -> dict:
    rows = fused_drift_verdicts(df, snap, **kw).collect()
    assert len(rows) == 1
    return rows[0].asDict()


@pytest.fixture(scope="module")
def baseline_and_data(spark):
    base_pdf = pd.DataFrame({"v": RNG.lognormal(5, 0.8, 5000)})
    df = spark.createDataFrame(base_pdf)
    snap = compute_baseline(df, ["v"], [], exact_quantiles=True)
    return snap, base_pdf


@pytest.mark.parametrize(
    "shift", [lambda s: s, lambda s: s * 3.0, lambda s: s + 200.0]
)
def test_numerical_matches_reference(spark, baseline_and_data, shift):
    snap, base_pdf = baseline_and_data
    prod = shift(pd.Series(RNG.lognormal(5, 0.8, 2000)))
    nb = snap.numerical["v"]
    want = reference_numerical_drift(nb.bins, nb.counts, nb.mean, nb.std, prod)
    df = spark.createDataFrame(prod.to_frame("v"))
    got = _only_verdict(df, snap)
    assert got["psi"] == pytest.approx(want["psi"], abs=2e-4)
    assert got["drift_detected"] == want["drift_detected"]
    assert got["drift_severity"] == want["drift_severity"]
    assert got["current_mean"] == pytest.approx(want["current_mean"], abs=1e-3)
    assert got["current_std"] == pytest.approx(want["current_std"], abs=1e-3)
    assert got["mean_change_pct"] == pytest.approx(want["mean_change_pct"], abs=0.02)


def test_normal_batch_no_alarm(spark, baseline_and_data):
    snap, _ = baseline_and_data
    prod = pd.Series(RNG.lognormal(5, 0.8, 3000))
    row = _only_verdict(spark.createDataFrame(prod.to_frame("v")), snap)
    assert not row["drift_detected"] and row["psi"] < 0.1


def test_shifted_batch_alarms(spark, baseline_and_data):
    snap, _ = baseline_and_data
    prod = pd.Series(RNG.lognormal(5.9, 0.8, 3000))  # big location shift
    row = _only_verdict(spark.createDataFrame(prod.to_frame("v")), snap)
    assert row["drift_detected"] and row["psi"] >= 0.2
    assert row["drift_severity"] == "high"
    assert row["ks"] > 0.2


def test_categorical_drift_alarm(spark):
    base = pd.DataFrame({"lang": ["py"] * 600 + ["go"] * 300 + ["rs"] * 100})
    cur = pd.DataFrame({"lang": ["py"] * 100 + ["go"] * 300 + ["rs"] * 600})
    snap = compute_baseline(spark.createDataFrame(base), [], ["lang"])
    same = _only_verdict(spark.createDataFrame(base), snap)
    assert same["psi"] == 0.0 and not same["drift_detected"]
    moved = _only_verdict(spark.createDataFrame(cur), snap)
    assert moved["drift_detected"] and moved["psi"] >= 0.2


def test_proportion_drift_reference_thresholds(spark):
    # reference: drift_detector.py:203-225 — diff >= .1 drift, >= .2 high
    snap = BaselineSnapshot(n_samples=100, binary={"b": BinaryBaseline(0.50, 100)})
    df = spark.createDataFrame(pd.DataFrame({"b": [1] * 35 + [0] * 65}))
    r = _only_verdict(df, snap)
    assert r["kind"] == "categorical_binary" and r["ks"] is None
    assert r["drift_detected"] and r["drift_severity"] == "medium"
    assert r["psi"] == pytest.approx(0.15)
    df2 = spark.createDataFrame(pd.DataFrame({"b": [1] * 5 + [0] * 95}))
    r2 = _only_verdict(df2, snap)
    assert r2["drift_severity"] == "high"
    df3 = spark.createDataFrame(pd.DataFrame({"b": [1] * 45 + [0] * 55}))
    r3 = _only_verdict(df3, snap)
    assert not r3["drift_detected"] and r3["drift_severity"] == "low"


def test_partitioned_verdicts_and_summary(spark, baseline_and_data):
    snap, _ = baseline_and_data
    normal = pd.DataFrame({"p": "a", "v": RNG.lognormal(5, 0.8, 2000)})
    shifted = pd.DataFrame({"p": "b", "v": RNG.lognormal(6.2, 0.8, 2000)})
    df = spark.createDataFrame(pd.concat([normal, shifted]))
    verd = fused_drift_verdicts(df, snap, partition_col="p")
    rows = {r["partition"]: r for r in verd.collect()}
    assert not rows["a"]["drift_detected"]
    assert rows["b"]["drift_detected"]
    summ = {r["partition"]: r for r in drift_summary(verd).collect()}
    # reference summary semantics (drift_detector.py:277-293)
    assert summ["a"]["severity"] == "low" and not summ["a"]["overall_drift_detected"]
    assert summ["b"]["severity"] == "high" and summ["b"]["overall_drift_detected"]
    assert summ["b"]["drift_percentage"] == 100.0


def test_psi_merged_not_averaged(spark, baseline_and_data):
    """PSI must come from merged histograms: physical partitioning of the
    input must not change the verdict (SURVEY.md §7 hard part)."""
    snap, _ = baseline_and_data
    prod = pd.DataFrame({"v": RNG.lognormal(5.5, 0.8, 4000)})
    d1 = spark.createDataFrame(prod).repartition(1)
    d2 = spark.createDataFrame(prod).repartition(17)
    assert _only_verdict(d1, snap)["psi"] == _only_verdict(d2, snap)["psi"]


def _multi_feature_fixture(spark):
    """3 numerical + 2 categorical + 1 binary features, 7 partitions, with
    planted nulls on every kind, one partition (p3) whose categorical
    values all miss the frozen list, and three edge partitions whose
    arithmetic must not throw under ANSI mode: p4 holds a single row
    (n - 1 == 0 in the sample variance), every feature of p5 is NULL (no
    values, all-zero counts), and p6's numerical values all fall outside
    the baseline edges (every bucket count is 0)."""
    rng = np.random.RandomState(7)
    n = 4000
    base = pd.DataFrame(
        {
            # integer-valued doubles: float sums are exact, so the moment
            # sums do not depend on aggregation order
            "ln": rng.randint(0, 500, n).astype(float),
            "n2": rng.randint(-50, 50, n).astype(float),
            "n3": rng.randint(0, 10, n).astype(float),
            "lang": rng.choice(["py", "go", "rs"], n, p=[0.5, 0.3, 0.2]),
            "src": rng.choice(["x", "y"], n),
            "b1": rng.randint(0, 2, n),
        }
    )
    snap = compute_baseline(
        spark.createDataFrame(base),
        ["ln", "n2", "n3", "b1"],
        ["lang", "src"],
        exact_quantiles=True,
    )
    cur = pd.DataFrame(
        {
            "part": [f"p{i % 4}" for i in range(n)],
            "ln": rng.randint(0, 900, n).astype(float),
            "n2": rng.randint(-50, 80, n).astype(float),
            "n3": rng.randint(0, 10, n).astype(float),
            "lang": rng.choice(["py", "go", "rs", "zz"], n),
            "src": rng.choice(["x", "y"], n),
            "b1": rng.randint(0, 2, n).astype(float),
        }
    )
    cur.loc[:30, "ln"] = None
    cur.loc[31:60, "lang"] = None
    cur.loc[61:90, "b1"] = None
    # p3: every lang value outside the frozen {py,go,rs} list
    cur.loc[cur["part"] == "p3", "lang"] = "zz"
    out_of_range = [1e6 + i for i in range(5)]
    edge = pd.DataFrame(
        {
            "part": ["p4"] + ["p5"] * 3 + ["p6"] * 5,
            "ln": [100.0] + [None] * 3 + out_of_range,
            "n2": [0.0] + [None] * 3 + out_of_range,
            "n3": [5.0] + [None] * 3 + [-v for v in out_of_range],
            "lang": ["py"] + [None] * 3 + ["go", "py", "rs", "go", "py"],
            "src": ["x"] + [None] * 3 + ["x", "y", "x", "y", "x"],
            "b1": [1.0] + [None] * 3 + [0.0, 1.0, 1.0, 0.0, 1.0],
        }
    )
    cur = pd.concat([cur, edge], ignore_index=True)
    return snap, cur, spark.createDataFrame(cur)


_ROUNDED_FIELDS = {  # field -> decimals the verdict rounds it to
    "psi": 4, "ks": 4, "baseline_mean": 4, "current_mean": 4,
    "mean_change_pct": 2, "baseline_std": 4, "current_std": 4,
}


def test_fused_n_feature_drift_identical_to_per_feature(spark):
    """fused_drift_verdicts equals the per-feature pandas mirror for every
    (partition, feature) of all three kinds, including the partition with
    no frozen-category hit, which emits no row for that categorical
    feature, and the three ANSI edge partitions. Rounded fields may differ by one unit in the last place
    (Spark rounds HALF_UP on the decimal string, Python on the binary
    value)."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    snap, cur_pdf, cur = _multi_feature_fixture(spark)
    got = {
        (r["partition"], r["feature"]): r.asDict()
        for r in fused_drift_verdicts(cur, snap, partition_col="part").collect()
    }
    want = mirror_drift_verdicts(cur_pdf, snap, "part")
    assert set(got) == set(want)
    assert {w["kind"] for w in want.values()} == {
        "numerical", "categorical", "categorical_binary"
    }
    for key, w in want.items():
        g = got[key]
        assert set(g) == set(w), key
        for field, value in w.items():
            if field in _ROUNDED_FIELDS and value is not None:
                tol = 1.5 * 10 ** -_ROUNDED_FIELDS[field]
                assert g[field] == pytest.approx(value, abs=tol), (key, field)
            else:
                assert g[field] == value, (key, field)
    # the planted all-unknown partition emits NO lang row ...
    assert ("p3", "lang") not in got
    # ... but still emits its numerical + binary rows
    assert ("p3", "ln") in got and ("p3", "b1") in got
    # the edge partitions are all checked above: the all-NULL one emits its
    # numerical and binary rows only, the other two every feature
    assert {k for k in got if k[0] == "p5"} == {
        ("p5", f) for f in ("ln", "n2", "n3", "b1")
    }
    assert all((p, "lang") in got for p in ("p4", "p6"))
    assert got[("p4", "ln")]["current_std"] == 0.0
    assert got[("p6", "ln")]["psi"] == 0.0 and got[("p6", "ln")]["n_samples"] == 5


def test_drift_plan_carries_one_psi_tree(spark):
    """PSI is built once per row and projected once per verdict: ``ln(``
    occurs once in the optimized plan of psi_expr and of the whole fused
    kernel, although the verdict reads psi four times (value, alarm, and
    twice in the severity ladder)."""
    from pyspark.sql import functions as F

    from mlops_drift_detection_spark.operators.psi import psi_expr

    def optimized(df) -> str:
        return df._jdf.queryExecution().optimizedPlan().toString()

    arrays = spark.createDataFrame(
        [([1.0, 2.0], [2.0, 1.0])], "e array<double>, a array<double>"
    )
    psi = arrays.select(psi_expr(F.col("e"), F.col("a")).alias("psi"))
    assert optimized(psi).count("ln(") == 1
    snap, _, cur = _multi_feature_fixture(spark)
    verdicts = fused_drift_verdicts(cur, snap, partition_col="part")
    assert optimized(verdicts).count("ln(") == 1


def test_fused_n_feature_drift_single_scan(spark, tmp_path):
    """SURVEY §2.10: the N-feature pass is ONE multi-agg job — the physical
    plan reads the input exactly once, whatever the feature count."""
    snap, _, cur = _multi_feature_fixture(spark)
    path = str(tmp_path / "cur_parquet")
    cur.write.mode("overwrite").parquet(path)
    on_disk = spark.read.parquet(path)

    fused_plan = (
        fused_drift_verdicts(on_disk, snap, partition_col="part")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    n_features = len(snap.numerical) + len(snap.categorical) + len(snap.binary)
    assert n_features == 6
    assert fused_plan.count("Scan parquet") == 1


def test_json_schema_drift_shifted_status(spark, tmp_path):
    """Planted events exercising every status the catalog fixture cannot:
    key `ab` drops from 2/3 presence to 1/3 (-> shifted), `k` stays at
    1.0 (-> stable). Event ids avoid the catalog query's planting
    residues (% 11 in the baseline half, % 5 in the current half) so the
    planted payloads pass through unmodified. An input whose current half
    is EMPTY must not raise DIVIDE_BY_ZERO under ANSI mode: every key
    reads ``vanished`` with NULL current rates."""
    from mlops_drift_detection_spark.queries import q_json_schema_drift
    from pyspark.sql import functions as F

    def run(rows, name):
        ev = spark.createDataFrame(
            rows, "event_id long, ts_s string, props string"
        ).select(
            "event_id",
            F.col("ts_s").cast("timestamp").alias("ts"),
            F.lit(1).alias("user_id"),
            F.lit("t").alias("event_type"),
            F.lit(0.0).alias("value"),
            "props",
        )
        out = str(tmp_path / name)
        ev.write.parquet(f"{out}/events.parquet")
        return {r["prop_key"]: r for r in q_json_schema_drift(spark, out).collect()}

    base_half = [
        (1, "2024-01-10 00:00:00", '{"k": 1, "ab": 1}'),
        (2, "2024-01-10 00:00:00", '{"k": 1, "ab": 1}'),
        (3, "2024-01-10 00:00:00", '{"k": 1}'),
    ]
    got = run(
        base_half
        + [
            (6, "2024-01-20 00:00:00", '{"k": 1}'),
            (7, "2024-01-20 00:00:00", '{"k": 1}'),
            (8, "2024-01-20 00:00:00", '{"k": 1, "ab": 1}'),
        ],
        "ev",
    )
    assert set(got) == {"k", "ab"}
    assert got["k"]["status"] == "stable"
    assert got["k"]["rate_delta"] == 0.0
    ab = got["ab"]
    assert ab["status"] == "shifted"
    assert (ab["n_base"], ab["n_curr"]) == (2, 1)
    assert ab["rate_delta"] == pytest.approx(1 / 3 - 2 / 3, abs=1e-6)

    empty_curr = run(base_half, "ev_empty_curr")
    assert set(empty_curr) == {"k", "ab"}
    for r in empty_curr.values():
        assert r["status"] == "vanished" and r["n_curr"] == 0
        assert r["rate_curr"] is None and r["rate_delta"] is None
    assert empty_curr["ab"]["rate_base"] == pytest.approx(2 / 3, abs=1e-6)


def test_funnel_conversion_first_touch_semantics(spark, tmp_path):
    """Funnel chaining is FIRST-touch: user 2's click lands 25 h after
    their first view and so misses the step window, even though a second,
    later view would have qualified it; user 3 clicks and purchases but
    never views, so they appear nowhere."""
    from mlops_drift_detection_spark.queries import q_funnel_conversion
    from pyspark.sql import functions as F

    rows = [
        (1, "view", "2024-01-01 00:00:00"),
        (1, "click", "2024-01-01 05:00:00"),
        (1, "purchase", "2024-01-01 06:00:00"),
        (2, "view", "2024-01-01 00:00:00"),
        (2, "view", "2024-01-01 12:00:00"),     # later view must NOT re-anchor
        (2, "click", "2024-01-02 01:00:00"),    # 25 h after FIRST view
        (3, "click", "2024-01-01 01:00:00"),    # no view at all
        (3, "purchase", "2024-01-01 02:00:00"),
        (4, "view", "2024-01-01 02:00:00"),
        (4, "purchase", "2024-01-01 03:00:00"),  # skipped the click step
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts_s string"
    ).select(
        F.monotonically_increasing_id().alias("event_id"),
        F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    out = str(tmp_path / "ev")
    ev.write.parquet(f"{out}/events.parquet")
    got = {r["step"]: r for r in q_funnel_conversion(spark, out).collect()}
    assert [got[s]["n_users"] for s in (1, 2, 3)] == [3, 1, 1]
    assert got[1]["rate_vs_prev"] is None
    assert got[2]["rate_vs_start"] == pytest.approx(1 / 3, abs=1e-6)
    assert got[3]["rate_vs_prev"] == pytest.approx(1.0)


def test_cohort_retention_planted(spark, tmp_path):
    """Cohort grid semantics: duplicate same-day events collapse before
    counting; offsets beyond 7 fall out; each cohort's rate is relative
    to its OWN day-0 size."""
    from mlops_drift_detection_spark.queries import q_cohort_retention
    from pyspark.sql import functions as F

    rows = [
        (1, "2024-01-01 08:00:00"),
        (1, "2024-01-03 09:00:00"),
        (1, "2024-01-03 22:00:00"),   # same-day duplicate -> one active row
        (2, "2024-01-01 10:00:00"),
        (3, "2024-01-02 11:00:00"),
        (3, "2024-01-09 12:00:00"),   # offset 7: last included day
        (3, "2024-01-10 13:00:00"),   # offset 8: excluded
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts_s string").select(
        F.monotonically_increasing_id().alias("event_id"),
        F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id",
        F.lit("view").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    out = str(tmp_path / "ev")
    ev.write.parquet(f"{out}/events.parquet")
    got = {
        (str(r["cohort_day"]), r["day_offset"]): r
        for r in q_cohort_retention(spark, out).collect()
    }
    assert set(got) == {
        ("2024-01-01", 0), ("2024-01-01", 2),
        ("2024-01-02", 0), ("2024-01-02", 7),
    }
    assert got[("2024-01-01", 0)]["n_active"] == 2
    assert got[("2024-01-01", 2)]["n_active"] == 1
    assert got[("2024-01-01", 2)]["retention_rate"] == pytest.approx(0.5)
    assert got[("2024-01-02", 7)]["retention_rate"] == pytest.approx(1.0)


def test_benford_first_digit_conforming_sample(spark, tmp_path):
    """A sample generated AT the Benford proportions passes the chi-square
    gate, and the integer-cents digit extraction handles the boundaries a
    log10-based extractor gets wrong: exact powers of ten (100.00 -> 1)
    and sub-dollar amounts (0.05 -> cents 5 -> digit 5)."""
    import math

    from mlops_drift_detection_spark.queries import q_benford_first_digit
    from pyspark.sql import functions as F

    rows = []
    for d in range(1, 10):
        n = round(1000 * math.log10(1 + 1 / d))
        rows += [(float(d) * 100.0)] * n      # 100.00 -> digit 1, etc.
    rows.append(0.05)                          # digit 5 via cents
    orders = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rows)], "o_orderkey long, tp double"
    ).select(
        "o_orderkey",
        F.lit(1).alias("o_custkey"),
        F.lit("F").alias("o_orderstatus"),
        F.col("tp").alias("o_totalprice"),
        F.lit("1996-01-01").cast("date").alias("o_orderdate"),
        F.lit("1-URGENT").alias("o_orderpriority"),
    )
    out = str(tmp_path / "orders")
    orders.write.parquet(f"{out}/orders.parquet")
    got = {r["digit"]: r for r in q_benford_first_digit(spark, out).collect()}
    assert set(got) == set(range(1, 10))
    assert got[1]["n_obs"] == 301
    assert got[5]["n_obs"] == 79 + 1           # the 0.05 boundary row
    assert all(r["benford_ok"] for r in got.values())
    assert got[1]["chisq_total"] < 1.0


def test_cusum_changepoint_detects_level_shift(spark, tmp_path):
    """A sustained +50% level shift fires the upward CUSUM after the
    changepoint while a steady series never flags; the windowed closed
    form (prefix - running min) must equal the textbook recursion
    S_i = max(0, S_{i-1} + y_i) computed in Python."""
    import statistics

    from mlops_drift_detection_spark.queries import q_cusum_changepoint
    from pyspark.sql import functions as F

    counts = {"shifted": [100] * 20 + [150] * 10, "steady": [100] * 30}
    rows = []
    eid = 0
    for ty, series in counts.items():
        for day, n in enumerate(series):
            for _ in range(n):
                rows.append((eid, ty, day))
                eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, d int"
    ).select(
        "event_id",
        (
            F.lit("2024-01-01 12:00:00").cast("timestamp")
            + F.make_interval(days=F.col("d"))
        ).alias("ts"),
        F.lit(1).alias("user_id"),
        "event_type",
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    out = str(tmp_path / "ev")
    ev.write.parquet(f"{out}/events.parquet")
    got = {
        (r["event_type"], str(r["day"])): r
        for r in q_cusum_changepoint(spark, out).collect()
    }
    for ty, series in counts.items():
        mu = sum(series) / len(series)
        sd = statistics.stdev(series)
        s = 0.0
        for day, x in enumerate(series):
            s = max(0.0, s + x - mu - 0.5 * sd)
            r = got[(ty, f"2024-01-{day + 1:02d}")]
            assert r["cusum_up"] == pytest.approx(s, abs=1e-4), (ty, day)
    # the steady series never flags; the shifted one flags only after day 20
    assert not any(
        got[("steady", f"2024-01-{d + 1:02d}")]["shift_flag"]
        for d in range(30)
    )
    flags = [
        got[("shifted", f"2024-01-{d + 1:02d}")]["shift_flag"]
        for d in range(30)
    ]
    assert not any(flags[:20]) and any(flags[20:])


def test_duplicate_feature_name_across_kinds_rejected(spark):
    """The drift spec is keyed by feature name, and the count stage would mix
    the counts of one name under two kinds: refuse with the name."""
    snap = BaselineSnapshot(
        n_samples=2,
        numerical={
            "x": NumericalBaseline(
                mean=0.5, std=0.5, min=0.0, max=1.0, median=0.5, q25=0.0,
                q75=1.0, bins=[0.0, 0.5, 1.0], counts=[1.0, 1.0],
            )
        },
        categorical={"x": CategoricalBaseline(["a"], [2.0], [1.0])},
    )
    df = spark.createDataFrame([(0.2,), (0.7,)], "x double")
    with pytest.raises(ValueError, match="'x'"):
        fused_drift_verdicts(df, snap)
