"""NumPy oracles for the drift scorers: driver-side twins of the Spark
Column expressions in ``operators/psi.py`` and of the bucketing in
``operators/histogram.py``, shared by the tests that check them. The engine
itself never calls these.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np


def histogram_from_values(
    values: Sequence[float], edges: Sequence[float]
) -> np.ndarray:
    """pd.cut-equivalent counts via numpy."""
    e = np.asarray(edges, dtype=float)
    x = np.asarray(values, dtype=float)
    x = x[~np.isnan(x)]
    x = x[(x >= e[0]) & (x <= e[-1])]
    idx = np.searchsorted(e, x, side="left") - 1
    idx = np.where(x == e[0], 0, idx)
    return np.bincount(idx.astype(int), minlength=len(e) - 1).astype(float)


def psi_severity(psi: float) -> str:
    if psi < 0.1:
        return "low"
    if psi < 0.2:
        return "medium"
    return "high"


def ks_from_counts(
    expected_counts: Sequence[float], actual_counts: Sequence[float]
) -> float:
    """Two-sample KS statistic on binned CDFs.

    The reference *names* KS but never computes it (drift_detector.py:131-134
    falls back to PSI); the north_star requires a real one. On binned data the
    KS statistic is max |CDF_e(b) - CDF_a(b)| over bin boundaries.
    """
    expected = np.asarray(expected_counts, dtype=float)
    actual = np.asarray(actual_counts, dtype=float)
    if expected.sum() == 0 or actual.sum() == 0:
        return 0.0
    e_cdf = np.cumsum(expected) / expected.sum()
    a_cdf = np.cumsum(actual) / actual.sum()
    return float(np.max(np.abs(e_cdf - a_cdf)))


def wasserstein_from_counts(
    expected_counts: Sequence[float],
    actual_counts: Sequence[float],
    widths: Sequence[float],
) -> float:
    """NumPy twin of ``operators.psi.wasserstein_expr``: binned W1 =
    sum_i |CDF_e(i) - CDF_a(i)| * width_i; either side empty, or any size
    mismatch between the three arrays, -> 0.0 (same rule as the expr)."""
    expected = np.asarray(expected_counts, dtype=float)
    actual = np.asarray(actual_counts, dtype=float)
    w = np.asarray(widths, dtype=float)
    if len(expected) != len(actual) or len(expected) != len(w):
        return 0.0
    if expected.sum() == 0 or actual.sum() == 0:
        return 0.0
    e_cdf = np.cumsum(expected) / expected.sum()
    a_cdf = np.cumsum(actual) / actual.sum()
    return float(np.sum(np.abs(e_cdf - a_cdf) * w))
