"""Baseline snapshot vs the reference's pandas semantics
(baseline_calculator.py:31-100: qcut edges w/ duplicates='drop', pd.cut
counts, moments)."""

import numpy as np
import pandas as pd
import pytest

from mlops_drift_detection_spark.baseline import (
    BaselineSnapshot,
    compute_baseline,
    qcut_edges,
)


def reference_psi_bins(col_data: pd.Series):
    """Verbatim reference logic (baseline_calculator.py:76-93) as oracle."""
    col_data = col_data.dropna()
    try:
        bins = pd.qcut(col_data, q=10, duplicates="drop", retbins=True)[1]
        counts = (
            pd.cut(col_data, bins=bins, include_lowest=True)
            .value_counts()
            .sort_index()
            .tolist()
        )
    except Exception:
        bins = np.linspace(col_data.min(), col_data.max(), 11)
        counts = (
            pd.cut(col_data, bins=bins, include_lowest=True)
            .value_counts()
            .sort_index()
            .tolist()
        )
    return bins.tolist(), counts


@pytest.fixture(scope="module")
def sample_pdf():
    rng = np.random.RandomState(42)
    return pd.DataFrame(
        {
            "x": rng.lognormal(5, 1, 4000),
            "y": rng.randint(0, 3, 4000).astype(float),  # few distinct -> dup edges
            "lang": rng.choice(["py", "go", "rs"], 4000, p=[0.6, 0.3, 0.1]),
        }
    )


@pytest.fixture(scope="module")
def snap(spark, sample_pdf):
    df = spark.createDataFrame(sample_pdf)
    return compute_baseline(df, ["x", "y"], ["lang"], exact_quantiles=True)


def test_moments_match_pandas(snap, sample_pdf):
    nb = snap.numerical["x"]
    s = sample_pdf["x"]
    assert nb.mean == pytest.approx(s.mean(), rel=1e-9)
    assert nb.std == pytest.approx(s.std(), rel=1e-9)  # pandas ddof=1 == stddev_samp
    assert nb.min == pytest.approx(s.min())
    assert nb.max == pytest.approx(s.max())
    assert nb.median == pytest.approx(s.median(), rel=1e-9)
    assert nb.q25 == pytest.approx(s.quantile(0.25), rel=1e-9)
    assert nb.q75 == pytest.approx(s.quantile(0.75), rel=1e-9)


def test_qcut_edges_match_reference(snap, sample_pdf):
    want_bins, want_counts = reference_psi_bins(sample_pdf["x"])
    nb = snap.numerical["x"]
    np.testing.assert_allclose(nb.bins, want_bins, rtol=1e-9)
    assert [int(c) for c in nb.counts] == [int(c) for c in want_counts]


def test_duplicate_edge_drop(snap, sample_pdf):
    """y has 3 distinct values -> qcut edges collapse; duplicates='drop'."""
    want_bins, want_counts = reference_psi_bins(sample_pdf["y"])
    nb = snap.numerical["y"]
    np.testing.assert_allclose(nb.bins, want_bins, rtol=1e-9)
    assert [int(c) for c in nb.counts] == [int(c) for c in want_counts]


def test_constant_column_fallback(spark):
    pdf = pd.DataFrame({"z": [7.0] * 100})
    df = spark.createDataFrame(pdf)
    snap = compute_baseline(df, ["z"], [], exact_quantiles=True)
    nb = snap.numerical["z"]
    assert len(nb.bins) >= 2 and sum(nb.counts) == 100


def test_categorical_proportions(snap, sample_pdf):
    cb = snap.categorical["lang"]
    vc = sample_pdf["lang"].value_counts()
    assert cb.categories[0] == vc.index[0]
    assert cb.counts[0] == float(vc.iloc[0])
    assert sum(cb.proportions) == pytest.approx(1.0)


def test_snapshot_roundtrip(tmp_path, snap):
    p = str(tmp_path / "baseline.json")
    snap.save(p)
    loaded = BaselineSnapshot.load(p)
    assert loaded.to_dict() == snap.to_dict()


def test_qcut_edges_unit():
    assert qcut_edges([1.0, 1.0, 2.0, 2.0, 3.0], 1.0, 3.0) == [1.0, 2.0, 3.0]
    # constant -> fallback still yields usable edges
    e = qcut_edges([5.0] * 11, 5.0, 5.0)
    assert len(e) >= 2


# --------------------------------------------------------------------------
# Adversarial inputs: snapshots pinned from the per-column histogram loop
# the two-pass baseline replaced
# --------------------------------------------------------------------------

_DEGENERATE_NUM = {
    "mean": 0.0, "std": 0.0, "min": 0.0, "max": 0.0, "median": 0.0,
    "q25": 0.0, "q75": 0.0, "bins": [0.0, 0.0], "counts": [0.0],
}
_NO_CATEGORIES = {"categories": [], "counts": [], "proportions": []}


@pytest.mark.parametrize(
    "rows,want",
    [
        pytest.param(
            [],
            {
                "n_samples": 0,
                "numerical": {"x": _DEGENERATE_NUM},
                "categorical": {"c": _NO_CATEGORIES},
                "binary": {},
            },
            id="empty_table",
        ),
        pytest.param(
            [(None, "a"), (None, "b"), (None, "a")],
            {
                "n_samples": 3,
                "numerical": {"x": _DEGENERATE_NUM},
                "categorical": {
                    "c": {
                        "categories": ["a", "b"],
                        "counts": [2.0, 1.0],
                        "proportions": [0.6666666666666666, 0.3333333333333333],
                    }
                },
                "binary": {},
            },
            id="all_null_numerical",
        ),
        pytest.param(
            [(1.0, None), (2.0, None), (5.0, None)],
            {
                "n_samples": 3,
                "numerical": {
                    "x": {
                        "mean": 2.6666666666666665, "std": 2.081665999466133, "min": 1.0,
                        "max": 5.0, "median": 2.0, "q25": 1.0, "q75": 5.0,
                        "bins": [1.0, 2.0, 5.0], "counts": [2.0, 1.0],
                    }
                },
                "categorical": {"c": _NO_CATEGORIES},
                "binary": {},
            },
            id="all_null_categorical",
        ),
    ],
)
def test_adversarial_snapshots_unchanged(spark, rows, want):
    df = spark.createDataFrame(rows, "x double, c string")
    assert compute_baseline(df, ["x"], ["c"]).to_dict() == want


def _jobs_and_result(spark, group: str, fn):
    """(number of Spark jobs ``fn`` ran, its result), via a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "job count")
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), result


@pytest.mark.parametrize("n_num,n_bin", [(1, 0), (40, 11)], ids=["2", "51"])
def test_compute_baseline_job_count(spark, n_num, n_bin):
    """Two passes whatever the feature count: at most 5 Spark jobs (AQE
    submits each shuffle stage as its own job) for 2 and for 51 features.
    The per-column histogram loop this replaced ran 7 and 157 here."""
    rng = np.random.RandomState(3)
    n = 2000
    pdf = pd.DataFrame(
        {
            **{f"n{i}": rng.lognormal(3, 1, n) for i in range(n_num)},
            **{f"b{i}": (rng.uniform(size=n) < 0.3).astype(float) for i in range(n_bin)},
            "cat": rng.choice(["a", "b", "c"], n),
        }
    )
    df = spark.createDataFrame(pdf).cache()
    df.count()
    feats = [c for c in pdf.columns if c != "cat"]
    try:
        jobs, snap = _jobs_and_result(
            spark, f"baseline-{n_num}-{n_bin}",
            lambda: compute_baseline(df, feats, ["cat"]),
        )
    finally:
        df.unpersist()
    assert jobs <= 5
    assert len(snap.numerical) == n_num and len(snap.binary) == n_bin
    assert snap.categorical["cat"].categories != []


# --------------------------------------------------------------------------
# SO2: data-driven binary dispatch
# --------------------------------------------------------------------------

def _dispatch_df(spark, shift=False):
    import numpy as np

    rng = np.random.RandomState(7)
    n = 400
    p_ones = 0.8 if shift else 0.2
    pdf = pd.DataFrame(
        {
            "num": rng.normal(50, 10, n),
            "bin01": (rng.uniform(size=n) < p_ones).astype(float),
            "tri": rng.randint(0, 3, n).astype(float),
            "const0": [0.0] * n,
            "bin_null": [1.0, 0.0, None] * (n // 3) + [0.0] * (n % 3),
        }
    )
    return spark.createDataFrame(pdf)


def test_detect_binary_columns(spark):
    from mlops_drift_detection_spark.baseline import detect_binary_columns

    df = _dispatch_df(spark)
    flags = detect_binary_columns(df, ["num", "bin01", "tri", "const0", "bin_null"])
    # reference rule (baseline_calculator.py:48-50): EXACTLY {0,1} observed
    assert flags == {
        "num": False,
        "bin01": True,
        "tri": False,
        "const0": False,   # len(unique)==1, not 2
        "bin_null": False, # NaN in unique set breaks the subset test
    }


def test_compute_baseline_binary_dispatch(spark):
    df = _dispatch_df(spark)
    snap = compute_baseline(
        df, ["num", "bin01", "tri", "const0", "bin_null"], [], exact_quantiles=True
    )
    assert set(snap.binary) == {"bin01"}
    assert set(snap.numerical) == {"num", "tri", "const0", "bin_null"}
    prop = snap.binary["bin01"].proportion_ones
    assert 0.1 < prop < 0.3
    assert snap.binary["bin01"].n == 400


def test_binary_snapshot_roundtrip(spark, tmp_path):
    snap = compute_baseline(
        _dispatch_df(spark), ["num", "bin01"], [], exact_quantiles=True
    )
    p = str(tmp_path / "b.json")
    snap.save(p)
    loaded = BaselineSnapshot.load(p)
    assert loaded.to_dict() == snap.to_dict()


def test_degenerate_bins_compat_reproduces_reference_blindspot(spark):
    """The SHIPPED reference artifact's bug (SURVEY §1.3/§7): StandardScaler
    ran before the baseline there, so a 0/1 column is no longer {0,1} and
    takes the numerical qcut path, whose duplicate-edge drop leaves a
    2-edge/1-count bin set -> PSI ~ 0 even under a massive proportion shift
    (drift UNDETECTABLE). The unscaled column takes the binary path, whose
    proportion test alarms on the same shift."""
    from mlops_drift_detection_spark.operators.drift import fused_drift_verdicts

    base_df = _dispatch_df(spark, shift=False)
    drifted_df = _dispatch_df(spark, shift=True)  # 0.2 -> 0.8 proportion of 1s

    # the reference's scaler: fit on the baseline, applied to both
    base_pdf = base_df.select("bin01").toPandas()
    mu, sd = base_pdf["bin01"].mean(), base_pdf["bin01"].std(ddof=0)

    def scaled(df):
        return df.select(((df["bin01"] - float(mu)) / float(sd)).alias("bin01"))

    blind = compute_baseline(scaled(base_df), ["bin01"], [], exact_quantiles=True)
    assert "bin01" in blind.numerical and not blind.binary
    nb = blind.numerical["bin01"]
    assert len(nb.bins) == 2 and len(nb.counts) == 1  # degenerate 1-bin set
    blind_verdicts = fused_drift_verdicts(scaled(drifted_df), blind).collect()
    assert len(blind_verdicts) == 1
    assert blind_verdicts[0]["psi"] == 0.0
    assert not blind_verdicts[0]["drift_detected"]  # blind

    native = compute_baseline(base_df, ["bin01"], [], exact_quantiles=True)
    native_verdicts = fused_drift_verdicts(drifted_df, native).collect()
    assert len(native_verdicts) == 1
    r = native_verdicts[0]
    assert r["kind"] == "categorical_binary"
    assert r["drift_detected"] and r["drift_severity"] == "high"
