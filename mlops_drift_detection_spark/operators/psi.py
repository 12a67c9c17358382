"""Population Stability Index + binned KS statistic.

Reference-exact PSI semantics (reference: src/monitoring/drift_detector.py:43-85):

* if ``sum(actual) == 0`` or ``sum(expected) == 0`` -> PSI = 0.0
* normalize each count vector to proportions
* floor zero proportions at 0.0001 (AFTER normalizing)
* PSI = sum((a_p - e_p) * ln(a_p / e_p))
* NaN or Inf result -> 0.0

Two entry points with identical results (pytest-asserted):

* :func:`psi_expr` — a native Spark ``Column`` over two ``array<double>`` count
  columns. Runs entirely JVM-side via ``aggregate``/``zip_with``; this is what
  the distributed drift pass uses, so PSI on a billion-group table is one
  whole-stage-codegen projection over merged histogram arrays, never Python.
* :func:`psi_from_counts` — numpy on the driver, for the streaming
  micro-batch verdicts (a handful of categories per batch, already counted
  by Spark).

The critical scale rule (SURVEY.md §7): histograms are merged across
partitions FIRST, then PSI is computed on the merged vector. Never average
per-partition PSIs — PSI is not decomposable.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

PROP_FLOOR = 1e-4  # reference: drift_detector.py:75-76

# PSI severity ladder — reference: drift_detector.py:227-234
PSI_ALARM_THRESHOLD = 0.2


def _add(acc: Column, x: Column) -> Column:
    return acc + x


def psi_from_counts(
    expected_counts: Sequence[float], actual_counts: Sequence[float]
) -> float:
    """NumPy PSI with reference-exact edge-case handling."""
    expected = np.asarray(expected_counts, dtype=float)
    actual = np.asarray(actual_counts, dtype=float)
    if actual.sum() == 0 or expected.sum() == 0:
        return 0.0
    expected_prop = expected / expected.sum()
    actual_prop = actual / actual.sum()
    expected_prop = np.where(expected_prop == 0, PROP_FLOOR, expected_prop)
    actual_prop = np.where(actual_prop == 0, PROP_FLOOR, actual_prop)
    # extreme count ratios (floored prop / denormal prop) can overflow the
    # division to inf; the NaN/Inf guard below already handles the result
    # (reference drift_detector.py:82-83), so silence the RuntimeWarning to
    # keep real warnings visible in test runs (VERDICT r3 minor #3)
    with np.errstate(over="ignore", divide="ignore", invalid="ignore"):
        psi = np.sum(
            (actual_prop - expected_prop) * np.log(actual_prop / expected_prop)
        )
    if np.isnan(psi) or np.isinf(psi):
        return 0.0
    return float(psi)


def _prop_array(counts: Column, total: Column) -> Column:
    """counts / total with the 0 -> PROP_FLOOR floor applied post-normalize.

    The divisor is forced nonzero: when total == 0 every proportion is
    floored anyway (and the callers' sum==0 guard zeroes the result), but the
    division itself must never raise — ANSI mode makes double/0 an error, and
    codegen subexpression elimination can hoist the division OUT of the
    callers' ``when`` guard, so guarding at the call site is not enough
    (found by hypothesis: all-zero current-window counts crashed psi_expr).
    Flooring tests the *proportion* == 0, not the count == 0, mirroring the
    reference's "floor zero proportions AFTER normalizing" rule exactly even
    when a tiny count underflows to a zero proportion.
    """
    safe_total = F.when(total == F.lit(0.0), F.lit(1.0)).otherwise(total)
    return F.transform(
        counts,
        lambda c: F.when(
            (c / safe_total) == F.lit(0.0), F.lit(PROP_FLOOR)
        ).otherwise(c / safe_total),
    )


def psi_expr(expected_counts: Column, actual_counts: Column) -> Column:
    """Native PSI over two ``array<double>`` columns (JVM-side, no UDF).

    NULL/short arrays are treated as no-signal -> 0.0, matching the reference's
    guard behavior. Result is a ``double`` column.
    """

    def psi(e: Column, a: Column, e_sum: Column, a_sum: Column) -> Column:
        terms = F.zip_with(
            _prop_array(a, a_sum),
            _prop_array(e, e_sum),
            lambda ap, ep: (ap - ep) * F.log(ap / ep),
        )
        # the finish step binds the PSI once for its NaN/Inf guard
        return F.aggregate(
            terms,
            F.lit(0.0),
            _add,
            lambda v: F.when(
                F.isnan(v) | (F.abs(v) == F.lit(float("inf"))), F.lit(0.0)
            ).otherwise(v),
        )

    return _over_sums(expected_counts, actual_counts, psi)


def psi_severity_expr(psi: Column) -> Column:
    """Severity ladder: <0.1 low / <0.2 medium / else high (drift_detector.py:227-234)."""
    return (
        F.when(psi < 0.1, F.lit("low"))
        .when(psi < 0.2, F.lit("medium"))
        .otherwise(F.lit("high"))
    )


def _cdf_array(arr: Column, total: Column) -> Column:
    """Running-sum CDF array of a count array, shared by the KS and
    Wasserstein exprs: aggregate into a (running_total, array_of_cdf)
    struct. Nonzero-safe divisor for the same ANSI/subexpr-hoisting reason
    as _prop_array."""
    safe_total = F.when(total == F.lit(0.0), F.lit(1.0)).otherwise(total)
    return F.aggregate(
        arr,
        F.struct(
            F.lit(0.0).alias("run"),
            F.array().cast("array<double>").alias("cdf"),
        ),
        lambda acc, x: F.struct(
            (acc["run"] + x).alias("run"),
            F.concat(
                acc["cdf"], F.array((acc["run"] + x) / safe_total)
            ).alias("cdf"),
        ),
        lambda acc: acc["cdf"],
    )


def _over_sums(
    expected_counts: Column,
    actual_counts: Column,
    metric: Callable[[Column, Column, Column, Column], Column],
) -> Column:
    """``metric(e, a, e_sum, a_sum)`` over the two count arrays cast to
    double, behind the degenerate-input rule every count-array metric
    shares: either side NULL, size-mismatched, or all-zero -> 0.0 (no
    signal).

    Each sum is computed once per row and bound as a lambda variable (the
    ``finish`` step of ``aggregate``), so ``metric`` may use it any number
    of times, per-element lambdas included, without the plan carrying (and
    evaluating) one aggregate per use.
    """
    e = F.transform(expected_counts, lambda x: x.cast("double"))
    a = F.transform(actual_counts, lambda x: x.cast("double"))
    return F.when(
        expected_counts.isNull()
        | actual_counts.isNull()
        | (F.size(expected_counts) != F.size(actual_counts)),
        F.lit(0.0),
    ).otherwise(
        F.aggregate(
            e,
            F.lit(0.0),
            _add,
            lambda e_sum: F.aggregate(
                a,
                F.lit(0.0),
                _add,
                lambda a_sum: F.when(
                    (e_sum == F.lit(0.0)) | (a_sum == F.lit(0.0)), F.lit(0.0)
                ).otherwise(metric(e, a, e_sum, a_sum)),
            ),
        )
    )


def ks_expr(expected_counts: Column, actual_counts: Column) -> Column:
    """Native binned-KS over two ``array<double>`` columns (JVM-side).

    Builds running-sum CDF arrays with ``aggregate`` (accumulating into an
    array), then takes max |diff|.
    """
    return _over_sums(
        expected_counts,
        actual_counts,
        lambda e, a, e_sum, a_sum: F.array_max(
            F.zip_with(
                _cdf_array(e, e_sum), _cdf_array(a, a_sum), lambda x, y: F.abs(x - y)
            )
        ),
    )


def wasserstein_expr(
    expected_counts: Column, actual_counts: Column, widths: Sequence[float]
) -> Column:
    """Binned 1-D Wasserstein-1 (earth mover's) distance over two
    ``array<double>`` count columns — the third drift metric alongside PSI
    and KS (Ramdas et al. 2017 give the CDF identity: for 1-D
    distributions, W1 = integral of |CDF_e − CDF_a|, which on a fixed
    binning discretizes to sum_i |CDF_e(i) − CDF_a(i)| * width_i — public
    literature).

    Unlike PSI (which saturates once mass moves anywhere) and KS (max
    single deviation), W1 weighs HOW FAR mass moved in the value domain,
    so a shift from bin 0 to bin 6 scores ~6x a shift to bin 1 — the
    metric a content-length drift monitor wants. Same JVM-side shape as
    :func:`ks_expr` (running-sum CDFs via ``aggregate`` + ``zip_with``
    over bin-count arrays, per-row over ALREADY-MERGED histograms — these
    HOFs run once per group over ~10-element arrays, not per input row,
    so CodegenFallback cost is nil here); the shared degenerate-input rule
    (either side empty/mismatched -> 0.0) keeps verdict plumbing uniform,
    extended here with a count-vs-widths size check (zip_with null-pads
    the shorter side, which would otherwise poison the sum to NULL).
    ``widths`` are the static bin widths from the histogram edges; all
    bins must be finite — the sole production binning
    (histogram.bucket_expr_native) NULLs values outside the edges, so
    there is no open tail bin to weigh.
    """
    w_arr = F.array(*[F.lit(float(w)) for w in widths])

    def w1(e: Column, a: Column, e_sum: Column, a_sum: Column) -> Column:
        diffs = F.zip_with(
            _cdf_array(e, e_sum), _cdf_array(a, a_sum), lambda x, y: F.abs(x - y)
        )
        return F.aggregate(
            F.zip_with(diffs, w_arr, lambda d, w: d * w), F.lit(0.0), _add
        )

    return F.when(
        F.size(expected_counts) != F.lit(len(widths)), F.lit(0.0)
    ).otherwise(_over_sums(expected_counts, actual_counts, w1))
