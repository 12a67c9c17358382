"""Skew-handling helpers: salted two-phase aggregation.

The engine's own skewed join, the referential anti-join, is left to AQE's
skew-join split in the plan. For algebraic aggregates Spark's map-side
partial aggregation already neutralizes key skew; salting matters when a
single key's *reduce-side* state is heavy (high-cardinality collect, big
per-key sort). This makes the pattern explicit and testable:

  phase 1: groupBy(key, salt) partial aggregate  (salt = hash(row) % S)
  phase 2: groupBy(key) final merge

The salt column is deterministic (derived from stable row columns, not
rand()) so re-runs and resumes see identical partitioning.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salt_column(cols: Sequence[str], buckets: int) -> Column:
    """Deterministic salt in [0, buckets) from the given columns."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(buckets)).cast("int")


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    partial_aggs: dict[str, Column],
    final_aggs: dict[str, Column],
    salt_cols: Sequence[str],
    salt_buckets: int = 16,
) -> DataFrame:
    """Generic two-phase salted aggregation.

    ``partial_aggs``: name -> aggregate Column over raw rows (phase 1).
    ``final_aggs``: name -> aggregate Column over phase-1 columns (phase 2).
    """
    keys = list(keys)
    salted = df.withColumn("__salt", salt_column(salt_cols, salt_buckets))
    partial = salted.groupBy(*keys, "__salt").agg(
        *[c.alias(n) for n, c in partial_aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[c.alias(n) for n, c in final_aggs.items()]
    )
