"""Histogram bucketing against frozen bin edges.

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
in the loop. The counting is the drift kernel's count stage
(``operators.drift.drift_counts``): one ``groupBy`` on (partition, feature,
bucket) whose map-side partial aggregation makes the shuffle O(groups x
bins), independent of row count.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
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
