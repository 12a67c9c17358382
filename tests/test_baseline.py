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
# SO2: data-driven binary dispatch + degenerate-bin compat mode
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


def test_compute_baseline_auto_dispatch(spark):
    from mlops_drift_detection_spark.baseline import compute_baseline_auto

    df = _dispatch_df(spark)
    snap = compute_baseline_auto(df, ["num", "bin01"], exact_quantiles=True)
    assert "bin01" in snap.binary and "bin01" not in snap.numerical
    assert "num" in snap.numerical
    prop = snap.binary["bin01"].proportion_ones
    assert 0.1 < prop < 0.3


def test_binary_snapshot_roundtrip(spark, tmp_path):
    from mlops_drift_detection_spark.baseline import compute_baseline_auto

    snap = compute_baseline_auto(
        _dispatch_df(spark), ["num", "bin01"], exact_quantiles=True
    )
    p = str(tmp_path / "b.json")
    snap.save(p)
    loaded = BaselineSnapshot.load(p)
    assert loaded.to_dict() == snap.to_dict()


def test_degenerate_bins_compat_reproduces_reference_blindspot(spark):
    """The SHIPPED reference artifact's bug, behind the flag (SURVEY §1.3/§7):
    compat mode routes a 0/1 column down the numerical qcut path, whose
    duplicate-edge drop leaves 2-edge/1-count bins -> PSI ~ 0 even under a
    massive proportion shift (drift UNDETECTABLE); native mode's proportion
    test alarms on the same shift."""
    from mlops_drift_detection_spark.baseline import compute_baseline_auto
    from mlops_drift_detection_spark.operators.drift import fused_drift_verdicts

    base_df = _dispatch_df(spark, shift=False)
    drifted_df = _dispatch_df(spark, shift=True)  # 0.2 -> 0.8 proportion of 1s

    compat = compute_baseline_auto(
        base_df, ["bin01"], exact_quantiles=True, degenerate_bins_compat=True
    )
    assert "bin01" in compat.numerical and not compat.binary
    nb = compat.numerical["bin01"]
    assert nb.bins == [0.0, 1.0]  # degenerate 2-edge/1-count set
    compat_verdicts = fused_drift_verdicts(drifted_df, compat).collect()
    assert all(not r["drift_detected"] for r in compat_verdicts)  # blind

    native = compute_baseline_auto(base_df, ["bin01"], exact_quantiles=True)
    native_verdicts = fused_drift_verdicts(drifted_df, native).collect()
    assert len(native_verdicts) == 1
    r = native_verdicts[0]
    assert r["kind"] == "categorical_binary"
    assert r["drift_detected"] and r["drift_severity"] == "high"
