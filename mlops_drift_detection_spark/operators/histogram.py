"""Distributed histograms against frozen bin edges.

Reproduces ``pd.cut(data, bins=edges, include_lowest=True).value_counts()``
(reference: src/monitoring/drift_detector.py:115-126 and
src/monitoring/baseline_calculator.py:84) at Spark scale:

* bin i covers ``(edges[i], edges[i+1]]``; bin 0 additionally includes
  ``edges[0]`` (include_lowest).
* values outside ``[edges[0], edges[-1]]`` and NULLs fall in NO bin
  (pd.cut yields NaN -> excluded from value_counts).
* bins with no data get count 0 (the reference zero-fills short vectors,
  drift_detector.py:123-126).

Bucketing is a WHEN-chain Column expression (:func:`bucket_expr_native`):
for the 10-bin PSI case it stays inside whole-stage codegen, with no Python
in the loop.

Aggregation is a plain ``groupBy(bucket).count()`` — map-side partial
aggregation makes the shuffle O(groups x bins), independent of row count, so
the plan survives a 100x scale-up: the only full-data pass is the scan+project.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bucket_expr_native(col: Column, edges: Sequence[float]) -> Column:
    """WHEN-chain bucket index for pd.cut semantics; NULL for out-of-range."""
    e = [float(x) for x in edges]
    expr = F.when(col.isNull() | F.isnan(col.cast("double")), F.lit(None))
    expr = expr.when((col < F.lit(e[0])) | (col > F.lit(e[-1])), F.lit(None))
    # value == edges[0] -> bin 0 (include_lowest); otherwise (lo, hi] intervals.
    for i in range(len(e) - 2):
        expr = expr.when(col <= F.lit(e[i + 1]), F.lit(i))
    return expr.otherwise(F.lit(len(e) - 2)).cast("int")


def histogram_counts(
    df: DataFrame,
    value_col: str,
    edges: Sequence[float],
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-group zero-filled bin counts: ``group_cols... , counts array<double>``.

    One shuffle on (group, bucket) with map-side combine, then one tiny
    shuffle on group to assemble the array. With no ``group_cols`` returns a
    single row.
    """
    n_bins = len(edges) - 1
    gcols = list(group_cols)
    bucketed = df.select(
        *gcols, bucket_expr_native(F.col(value_col), edges).alias("__bucket")
    ).where(F.col("__bucket").isNotNull())
    counted = bucketed.groupBy(*gcols, "__bucket").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    # Assemble a dense, zero-filled vector per group: build sparse
    # (bucket, cnt) maps then read every index. All native array ops.
    pairs = counted.groupBy(*gcols).agg(
        F.map_from_arrays(
            F.collect_list("__bucket"), F.collect_list("__cnt")
        ).alias("__m")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(n_bins - 1)),
        lambda i: F.coalesce(F.col("__m")[i].cast("double"), F.lit(0.0)),
    )
    return pairs.select(*gcols, dense.alias("counts"))


def histogram_from_values(
    values: Sequence[float], edges: Sequence[float]
) -> np.ndarray:
    """Driver-side oracle: pd.cut-equivalent counts via numpy (for tests)."""
    e = np.asarray(edges, dtype=float)
    x = np.asarray(values, dtype=float)
    x = x[~np.isnan(x)]
    x = x[(x >= e[0]) & (x <= e[-1])]
    idx = np.searchsorted(e, x, side="left") - 1
    idx = np.where(x == e[0], 0, idx)
    return np.bincount(idx.astype(int), minlength=len(e) - 1).astype(float)
