"""Baseline snapshot: frozen statistics a drift run compares against.

Mirrors the reference's ``models/baseline_stats.json`` artifact
(src/monitoring/baseline_calculator.py:31-100):

* per numerical feature: mean/std/min/max/median/q25/q75 and 10-quantile PSI
  bin edges (``pd.qcut(q=10, duplicates='drop')`` semantics: quantile edges
  with duplicate-edge drop, equal-width ``np.linspace`` fallback when <2 bins
  survive — baseline_calculator.py:81-93) plus per-bin counts.
* per binary feature (a numerical column whose observed values are exactly
  {0, 1}, baseline_calculator.py:48-58): the proportion of ones.
* per categorical feature: the category list and per-category counts /
  proportions.

The snapshot is tiny (KBs) regardless of input size. It takes two full-data
passes for any feature count: one aggregate for the moments, quantile edges
and binary flags, then the drift kernel's own count stage (``drift_counts``)
for the bin and category counts. It is collected to the driver, persisted as
JSON, and carried into the drift plan as literals. At 100 TB the cost
is the scan; everything after the partial aggregation is O(features x bins).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from dataclasses import dataclass, field
from typing import Any

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

N_PSI_BINS = 10  # reference: baseline_calculator.py:73
QUANTILE_REL_ERR = 1e-4  # approxQuantile relative error at scale


@dataclass
class NumericalBaseline:
    mean: float
    std: float
    min: float
    max: float
    median: float
    q25: float
    q75: float
    bins: list[float]
    counts: list[float]


@dataclass
class CategoricalBaseline:
    categories: list[str]
    counts: list[float]
    proportions: list[float]


@dataclass
class BinaryBaseline:
    """Reference ``categorical_distributions`` entry: the proportion of ones
    of a strictly-{0,1} column (baseline_calculator.py:53-58)."""

    proportion_ones: float
    n: int


@dataclass
class BaselineSnapshot:
    n_samples: int
    numerical: dict[str, NumericalBaseline] = field(default_factory=dict)
    categorical: dict[str, CategoricalBaseline] = field(default_factory=dict)
    binary: dict[str, BinaryBaseline] = field(default_factory=dict)

    def to_dict(self) -> dict[str, Any]:
        return {
            "n_samples": self.n_samples,
            "numerical": {k: vars(v) for k, v in self.numerical.items()},
            "categorical": {k: vars(v) for k, v in self.categorical.items()},
            "binary": {k: vars(v) for k, v in self.binary.items()},
        }

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> "BaselineSnapshot":
        return cls(
            n_samples=d["n_samples"],
            numerical={k: NumericalBaseline(**v) for k, v in d["numerical"].items()},
            categorical={
                k: CategoricalBaseline(**v) for k, v in d["categorical"].items()
            },
            binary={
                k: BinaryBaseline(**v) for k, v in d.get("binary", {}).items()
            },
        )

    def sha256(self) -> str:
        """Digest of the canonical JSON (sorted keys, no whitespace): equal
        for a snapshot and its :meth:`save`/:meth:`load` round trip."""
        canonical = json.dumps(self.to_dict(), sort_keys=True, separators=(",", ":"))
        return hashlib.sha256(canonical.encode()).hexdigest()

    def blind_features(self) -> dict[str, str]:
        """Features whose frozen snapshot can never raise a drift alarm, each
        with the reason: all-zero expected counts score PSI and KS 0.0
        against any input, and an empty category list yields no verdict."""
        out = {
            f: "all baseline bin counts are zero"
            for f, nb in self.numerical.items()
            if not any(nb.counts)
        }
        out.update(
            (f, "the baseline has no categories")
            for f, cb in self.categorical.items()
            if not cb.categories
        )
        return out

    def save(self, path: str) -> None:
        """Atomic write-then-rename so a killed run never leaves a torn file."""
        tmp = path + ".tmp"
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(tmp, "w") as f:
            json.dump(self.to_dict(), f, indent=2)
        os.replace(tmp, path)

    @classmethod
    def load(cls, path: str) -> "BaselineSnapshot":
        with open(path) as f:
            return cls.from_dict(json.load(f))


def qcut_edges(quantiles: list[float], lo: float, hi: float) -> list[float]:
    """qcut(duplicates='drop') edge post-processing + equal-width fallback.

    ``quantiles`` are the 0,10,...,100th percentiles. Drops duplicate edges
    (pd.qcut duplicates='drop'); if fewer than 2 edges survive (constant
    column), falls back to ``np.linspace(min, max, 11)`` like
    baseline_calculator.py:89-93 (degenerate: all edges equal -> single
    catch-all handled by histogram's out-of-range rules).
    """
    edges: list[float] = []
    for q in quantiles:
        if not edges or q > edges[-1]:
            edges.append(float(q))
    if len(edges) < 2:
        edges = list(np.linspace(lo, hi, N_PSI_BINS + 1)) if hi > lo else [lo, hi]
        if len(edges) < 2 or edges[0] == edges[-1]:
            # fully constant column: one degenerate bin [v, v]
            edges = [lo, hi if hi > lo else lo]
    return [float(e) for e in edges]


def compute_baseline(
    df: DataFrame,
    numerical_cols: list[str],
    categorical_cols: list[str],
    exact_quantiles: bool = False,
    max_categories: int = 1000,
) -> BaselineSnapshot:
    """Compute the snapshot in two full-data passes, whatever the feature
    count.

    Pass 1: one ``agg`` computing the row count and, for every numerical
    column, its moments, quantile edges (``percentile_approx`` returns the
    whole edge array per column — no per-column jobs), :func:`binary_flag`
    and non-NULL count. A numerical column whose observed values are
    exactly {0, 1} with no NULLs takes the binary-proportion path — the
    reference's dispatch rule (baseline_calculator.py:48-50); every other
    one gets :func:`qcut_edges` bins. Pass 2: :func:`fill_baseline_counts`
    counts every bin and category in one :func:`drift_counts` job.

    ``exact_quantiles=True`` uses the exact ``percentile`` aggregate — for
    tests / small data; at 100 TB use the default approx path (rel. err 1e-4).
    """
    # one sorted grid: the 11 decile edges plus exact q25/q75 positions
    probs = sorted({i / N_PSI_BINS for i in range(N_PSI_BINS + 1)} | {0.25, 0.75})
    decile_idx = [probs.index(i / N_PSI_BINS) for i in range(N_PSI_BINS + 1)]
    pfunc = "percentile" if exact_quantiles else "percentile_approx"
    acc_arg = "" if exact_quantiles else f", {int(1.0 / QUANTILE_REL_ERR)}"

    aggs: list = [F.count(F.lit(1)).alias("__n")]
    for c in numerical_cols:
        aggs += [
            F.avg(c).alias(f"{c}__mean"),
            F.stddev_samp(c).alias(f"{c}__std"),
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
            F.expr(
                f"{pfunc}({c}, array({','.join(str(p) for p in probs)}){acc_arg})"
            ).alias(f"{c}__qs"),
            binary_flag(F.col(c)).alias(f"{c}__bin"),
            F.count(c).alias(f"{c}__nv"),
        ]
    row = df.agg(*aggs).collect()[0]

    snap = BaselineSnapshot(n_samples=int(row["__n"]))
    for c in numerical_cols:
        if row[f"{c}__bin"]:
            snap.binary[c] = BinaryBaseline(
                proportion_ones=_f(row[f"{c}__mean"]), n=int(row[f"{c}__nv"])
            )
            continue
        qs = row[f"{c}__qs"]
        lo = float(row[f"{c}__min"]) if row[f"{c}__min"] is not None else 0.0
        hi = float(row[f"{c}__max"]) if row[f"{c}__max"] is not None else 0.0
        deciles = [float(qs[i]) for i in decile_idx] if qs else []
        snap.numerical[c] = NumericalBaseline(
            mean=_f(row[f"{c}__mean"]),
            std=_f(row[f"{c}__std"]),
            min=lo,
            max=hi,
            median=float(qs[probs.index(0.5)]) if qs else 0.0,
            q25=float(qs[probs.index(0.25)]) if qs else 0.0,
            q75=float(qs[probs.index(0.75)]) if qs else 0.0,
            bins=qcut_edges(deciles, lo, hi),
            counts=[],
        )
    for c in categorical_cols:
        snap.categorical[c] = CategoricalBaseline([], [], [])
    fill_baseline_counts(df, snap, {c: max_categories for c in categorical_cols})
    return snap


def fill_baseline_counts(
    df: DataFrame, snap: BaselineSnapshot, max_categories: dict[str, int]
) -> None:
    """Pass 2 of a baseline, in place: every numerical feature's per-bin
    counts over its ``bins``, and every categorical feature's top
    ``max_categories[feature]`` values (count desc, value asc) with counts
    and proportions. One :func:`drift_counts` job over ``snap``'s numerical
    and categorical features.

    NULL, NaN and out-of-range numerical values fall in no bin, and NULL
    categories are not counted (pd.cut / value_counts semantics). The top-k
    is ranked in Spark, so only k values per feature reach the driver.
    Categories are compared and returned as strings, as the drift kernel
    reads them.
    """
    from mlops_drift_detection_spark.operators.drift import _NULL_KEY, drift_counts

    if not (snap.numerical or snap.categorical):
        return
    numerical = list(snap.numerical)
    is_num = F.col("__f").isin(numerical) if numerical else F.lit(False)
    counted = drift_counts(
        df, BaselineSnapshot(snap.n_samples, snap.numerical, snap.categorical)
    ).where(F.when(is_num, F.col("__k") != "-1").otherwise(F.col("__k") != _NULL_KEY))
    rank = F.row_number().over(
        Window.partitionBy("__f").orderBy(F.desc("__cnt"), F.asc("__k"))
    )
    cap = F.lit(0)
    for c, k in max_categories.items():
        cap = F.when(F.col("__f") == c, k).otherwise(cap)
    rows = (
        counted.select("__f", "__k", "__cnt", rank.alias("__rn"))
        .where(is_num | (F.col("__rn") <= cap))
        .collect()
    )

    by_feature: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: r["__rn"]):
        by_feature.setdefault(r["__f"], []).append((r["__k"], r["__cnt"]))
    for c, nb in snap.numerical.items():
        nb.counts = [0.0] * (len(nb.bins) - 1)
        for k, n in by_feature.get(c, []):
            nb.counts[int(k)] = float(n)
    for c in snap.categorical:
        top = by_feature.get(c, [])
        total = sum(n for _k, n in top) or 1
        snap.categorical[c] = CategoricalBaseline(
            categories=[k for k, _n in top],
            counts=[float(n) for _k, n in top],
            proportions=[n / total for _k, n in top],
        )


def _f(x) -> float:
    if x is None:
        return 0.0
    x = float(x)
    return 0.0 if math.isnan(x) else x


# ---------------------------------------------------------------------------
# SO2: data-driven binary-categorical dispatch
# ---------------------------------------------------------------------------

def binary_flag(c: Column) -> Column:
    """Aggregate expression: TRUE iff the column's OBSERVED values are
    exactly {0, 1} with no nulls — the reference's dispatch rule
    (baseline_calculator.py:48-50: ``len(unique)==2 and unique ⊆ {0,1}``)
    made scale-safe. Instead of a distinct-count (expensive on continuous
    columns), the same predicate follows from min==0 ∧ max==1 ∧ all values
    integral ∧ no nulls — one agg pass, exact."""
    return (
        (F.count(F.when(c.isNull(), 1)) == 0)
        & (F.min(c) == 0)
        & (F.max(c) == 1)
        & (F.max(F.abs(c.cast("double") - F.round(c.cast("double")))) == 0)
    )


def detect_binary_columns(df: DataFrame, cols: list[str]) -> dict[str, bool]:
    """One aggregate pass -> {col: is_binary} for every candidate column."""
    if not cols:
        return {}
    row = df.agg(
        *[binary_flag(F.col(c)).alias(f"__b_{c}") for c in cols]
    ).collect()[0]
    return {c: bool(row[f"__b_{c}"]) for c in cols}
