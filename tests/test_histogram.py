"""Histogram bucketing vs pd.cut oracle (drift_detector.py:115-126 semantics):
the drift kernel's count stage, ``drift_counts``, over one numerical feature."""

import numpy as np
import pandas as pd
import pytest
from numpy_oracles import histogram_from_values

from mlops_drift_detection_spark.baseline import BaselineSnapshot, NumericalBaseline
from mlops_drift_detection_spark.operators.drift import drift_counts


def pd_cut_counts(values, edges):
    """The reference's binning oracle: pd.cut(...include_lowest).value_counts()
    zero-filled to n_bins (drift_detector.py:115-126)."""
    s = pd.Series(values).dropna()
    binned = pd.cut(s, bins=edges, include_lowest=True)
    counts = binned.value_counts().sort_index().to_numpy(dtype=float)
    full = np.zeros(len(edges) - 1)
    full[: len(counts)] = counts
    return full


EDGES = [0.0, 1.0, 2.5, 5.0, 10.0]


def kernel_counts(df, edges, group_col=None) -> dict:
    """{partition: dense bin counts} of column ``x`` from ``drift_counts``;
    key "-1" (NULL, NaN, out of range) falls in no bin."""
    nb = NumericalBaseline(0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, list(edges), [])
    snap = BaselineSnapshot(n_samples=0, numerical={"x": nb})
    out: dict = {}
    for r in drift_counts(df, snap, partition_col=group_col).collect():
        counts = out.setdefault(r["partition"], np.zeros(len(edges) - 1))
        if r["__k"] != "-1":
            counts[int(r["__k"])] += r["__cnt"]
    return out


DATASETS = [
    [0.0, 0.5, 1.0, 1.5, 2.5, 2.6, 5.0, 9.9, 10.0],       # edge values
    [-5.0, 0.0, 10.0, 10.1, 11.0],                        # out of range both sides
    [0.0] * 10,                                            # all at include_lowest
    [3.3, None, 4.4, float("nan"), 7.7],                  # nulls / NaNs
    [float(v) for v in np.linspace(-2, 12, 101)],          # dense sweep
    [],                                                    # empty
]


@pytest.mark.parametrize("values", DATASETS, ids=range(len(DATASETS)))
def test_histogram_matches_pd_cut(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "x double")
    got = kernel_counts(df, EDGES).get("__all__", np.zeros(len(EDGES) - 1))
    want = pd_cut_counts([v for v in values if v is not None], EDGES)
    np.testing.assert_allclose(got, want)


def test_histogram_from_values_oracle():
    vals = [v for v in DATASETS[4]]
    np.testing.assert_allclose(
        histogram_from_values(vals, EDGES), pd_cut_counts(vals, EDGES)
    )


def test_histogram_grouped(spark):
    rows = [("a", float(i % 7)) for i in range(50)] + [
        ("b", float(i % 3)) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "g string, x double")
    got = kernel_counts(df, EDGES, group_col="g")
    pdf = pd.DataFrame(rows, columns=["g", "x"])
    for g, sub in pdf.groupby("g"):
        np.testing.assert_allclose(got[g], pd_cut_counts(sub["x"].tolist(), EDGES))


def test_histogram_partition_invariance(spark):
    """Same counts regardless of physical partitioning (merge-then-count)."""
    vals = [float(v) for v in np.linspace(0, 10, 500)]
    df1 = spark.createDataFrame([(v,) for v in vals], "x double").repartition(1)
    df2 = spark.createDataFrame([(v,) for v in vals], "x double").repartition(13)
    c1 = kernel_counts(df1, EDGES)["__all__"]
    c2 = kernel_counts(df2, EDGES)["__all__"]
    assert list(c1) == list(c2)
