"""PSI/KS kernels: reference-exact semantics (drift_detector.py:43-85) and
native-Column ≡ numpy equivalence."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from numpy_oracles import ks_from_counts, psi_severity, wasserstein_from_counts

from mlops_drift_detection_spark.operators.psi import (
    ks_expr,
    psi_expr,
    psi_from_counts,
)


def reference_psi(expected_counts, actual_counts):
    """Verbatim reimplementation of the reference formula as a test oracle
    (reference: src/monitoring/drift_detector.py:43-85)."""
    expected = np.array(expected_counts, dtype=float)
    actual = np.array(actual_counts, dtype=float)
    if actual.sum() == 0 or expected.sum() == 0:
        return 0.0
    expected_prop = expected / expected.sum()
    actual_prop = actual / actual.sum()
    expected_prop = np.where(expected_prop == 0, 0.0001, expected_prop)
    actual_prop = np.where(actual_prop == 0, 0.0001, actual_prop)
    psi = np.sum((actual_prop - expected_prop) * np.log(actual_prop / expected_prop))
    if np.isnan(psi) or np.isinf(psi):
        return 0.0
    return float(psi)


CASES = [
    ([10, 20, 30, 40], [10, 20, 30, 40]),          # identical -> 0
    ([10, 20, 30, 40], [40, 30, 20, 10]),          # reversed
    ([100, 0, 0, 0], [0, 0, 0, 100]),              # disjoint, zero bins -> floor
    ([0, 0, 0, 0], [1, 2, 3, 4]),                  # zero expected -> 0.0 guard
    ([1, 2, 3, 4], [0, 0, 0, 0]),                  # zero actual -> 0.0 guard
    ([5], [7]),                                    # single bin
    ([1e9, 2e9, 3e9], [3e9, 2e9, 1e9]),            # large counts
    ([3, 0, 7, 0, 90], [90, 0, 7, 0, 3]),          # interleaved zeros
]


@pytest.mark.parametrize("expected,actual", CASES)
def test_psi_matches_reference(expected, actual):
    assert psi_from_counts(expected, actual) == pytest.approx(
        reference_psi(expected, actual), abs=1e-12
    )


def test_psi_known_value():
    # hand-computed: e=[.5,.5], a=[.9,.1]
    want = (0.9 - 0.5) * math.log(0.9 / 0.5) + (0.1 - 0.5) * math.log(0.1 / 0.5)
    assert psi_from_counts([50, 50], [90, 10]) == pytest.approx(want, rel=1e-12)


@pytest.mark.parametrize("expected,actual", CASES)
def test_psi_expr_matches_numpy(spark, expected, actual):
    df = spark.createDataFrame(
        [([float(x) for x in expected], [float(x) for x in actual])],
        "e array<double>, a array<double>",
    )
    got = df.select(psi_expr(F.col("e"), F.col("a")).alias("psi")).collect()[0]["psi"]
    assert got == pytest.approx(psi_from_counts(expected, actual), abs=1e-9)


def test_psi_expr_null_and_mismatched(spark):
    df = spark.createDataFrame(
        [(None, [1.0, 2.0]), ([1.0, 2.0], [1.0, 2.0, 3.0])],
        "e array<double>, a array<double>",
    )
    got = [r["psi"] for r in df.select(psi_expr(F.col("e"), F.col("a")).alias("psi")).collect()]
    assert got == [0.0, 0.0]


def test_ks_from_counts():
    assert ks_from_counts([10, 10, 10, 10], [10, 10, 10, 10]) == 0.0
    # e cdf = .25,.5,.75,1 ; a cdf = .7,.8,.9,1 -> max diff .45
    assert ks_from_counts([10, 10, 10, 10], [70, 10, 10, 10]) == pytest.approx(0.45)
    assert ks_from_counts([0, 0], [1, 1]) == 0.0


@pytest.mark.parametrize("expected,actual", CASES)
def test_ks_expr_matches_numpy(spark, expected, actual):
    df = spark.createDataFrame(
        [([float(x) for x in expected], [float(x) for x in actual])],
        "e array<double>, a array<double>",
    )
    got = df.select(ks_expr(F.col("e"), F.col("a")).alias("ks")).collect()[0]["ks"]
    assert got == pytest.approx(ks_from_counts(expected, actual), abs=1e-9)


def test_severity_ladder():
    # reference: drift_detector.py:227-234
    assert psi_severity(0.05) == "low"
    assert psi_severity(0.1) == "medium"
    assert psi_severity(0.19) == "medium"
    assert psi_severity(0.2) == "high"
    assert psi_severity(5.0) == "high"


def test_wasserstein_from_counts():
    # identical -> 0; all diffs = .45,.3,.15,0 with unit widths -> 0.9
    assert wasserstein_from_counts([10, 10, 10, 10], [10, 10, 10, 10], [1, 1, 1, 1]) == 0.0
    assert wasserstein_from_counts(
        [10, 10, 10, 10], [70, 10, 10, 10], [1, 1, 1, 1]
    ) == pytest.approx(0.9)
    # widths weigh the tail: same mass shift scores 2x with 2x-wide bins
    assert wasserstein_from_counts(
        [10, 10, 10, 10], [70, 10, 10, 10], [2, 2, 2, 2]
    ) == pytest.approx(1.8)
    assert wasserstein_from_counts([0, 0], [1, 1], [1, 1]) == 0.0


@pytest.mark.parametrize("expected,actual", CASES)
def test_wasserstein_expr_matches_numpy(spark, expected, actual):
    from mlops_drift_detection_spark.operators.psi import wasserstein_expr

    widths = [float(2 ** i) for i in range(len(expected))]
    df = spark.createDataFrame(
        [([float(x) for x in expected], [float(x) for x in actual])],
        "e array<double>, a array<double>",
    )
    got = df.select(
        wasserstein_expr(F.col("e"), F.col("a"), widths).alias("w1")
    ).collect()[0]["w1"]
    assert got == pytest.approx(
        wasserstein_from_counts(expected, actual, widths), abs=1e-9
    )


def test_wasserstein_expr_null_and_mismatched(spark):
    from mlops_drift_detection_spark.operators.psi import wasserstein_expr

    df = spark.createDataFrame(
        [(None, [1.0, 2.0]), ([1.0, 2.0], [1.0, 2.0, 3.0])],
        "e array<double>, a array<double>",
    )
    got = [
        r["w1"]
        for r in df.select(
            wasserstein_expr(F.col("e"), F.col("a"), [1.0, 1.0]).alias("w1")
        ).collect()
    ]
    assert got == [0.0, 0.0]


def test_wasserstein_widths_size_mismatch_is_zero(spark):
    """zip_with null-pads the shorter side, so without the explicit
    count-vs-widths size guard a 3-bin array with 2 widths returned NULL
    instead of the documented degenerate 0.0 (code-review r5 finding)."""
    from mlops_drift_detection_spark.operators.psi import wasserstein_expr

    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [3.0, 2.0, 1.0])],
        "e array<double>, a array<double>",
    )
    got = df.select(
        wasserstein_expr(F.col("e"), F.col("a"), [1.0, 1.0]).alias("w1")
    ).collect()[0]["w1"]
    assert got == 0.0
    assert wasserstein_from_counts([1, 2, 3], [3, 2, 1], [1.0, 1.0]) == 0.0
