"""Preprocessing operators: the reference's pandas feature pipeline
re-expressed as reusable, vectorized DataFrame transforms.

Reference mapping (SURVEY.md §2.2/2.7):
* drop_null_rows — dropna(), data_preprocessing.py:122-133
* align_to_template — preprocessing.py:63-68 (missing -> 0, fixed order)
* hash_split — deterministic train/val/test split (data_preprocessing.py:265-307)
* weighted_sample — deterministic A-ES weighted sampling (no reference
  counterpart; retry-safe md5 uniforms)

The reference's derived ratios, one-hot, standardize and impute steps are
catalog queries (queries.py) over the same DataFrame API. None of the
operators here runs Python.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def drop_null_rows(
    df: DataFrame, cols: Sequence[str] | None = None, how: str = "any"
) -> DataFrame:
    """P7 residual-row filter (reference ``dropna()``,
    data_preprocessing.py:122-133): drop rows with nulls in ``cols`` (all
    columns when None). ``how='any'|'all'`` as pandas. Pure filter — stays
    in the scan's pushdown path."""
    return df.na.drop(how=how, subset=list(cols) if cols else None)


def align_to_template(
    df: DataFrame, template_cols: Sequence[str], fill=0
) -> DataFrame:
    """Project onto a fixed column template: missing columns materialize as
    ``fill``, extras are dropped, order is the template's. The J2 alignment
    (preprocessing.py:63-68) as one select — schema-stable across batches."""
    exprs = []
    for c in template_cols:
        if c in df.columns:
            exprs.append(F.col(c).alias(c))
        else:
            exprs.append(F.lit(fill).alias(c))
    return df.select(*exprs)


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: Sequence[float] = (0.7, 0.1, 0.2),
    labels: Sequence[str] = ("train", "val", "test"),
    buckets: int = 10_000,
) -> DataFrame:
    """Deterministic 'random' split (SP1, data_preprocessing.py:265-307):
    bucket = md5(id) mod buckets, cumulative-weight thresholds pick the
    split. Unlike randomSplit, membership is a pure function of the row id —
    stable across runs, partitionings and cluster sizes, and exactly
    reproducible by any engine with md5 (the DuckDB oracle uses the same
    formula). Stratification comes free: hashing is independent of any
    stratum column, so per-stratum proportions converge to the weights."""
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("bigint") % buckets
    )
    acc = 0.0
    expr = None
    for w, lab in zip(weights, labels):
        acc += w
        cond = bucket < F.lit(int(round(acc * buckets)))
        expr = F.when(cond, F.lit(lab)) if expr is None else expr.when(cond, F.lit(lab))
    return df.withColumn("split", expr.otherwise(F.lit(labels[-1])))


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    n: int,
    id_col: str,
    seed: int = 42,
) -> DataFrame:
    """Deterministic weighted sampling without replacement — the A-ES scheme
    (Efraimidis & Spirakis, IPL 2006): each row gets priority u^(1/w) for a
    uniform u, and the n largest priorities are the sample, giving inclusion
    probability proportional to weight.

    Spark-first shape: u is derived from md5(id, seed), NOT rand() — fully
    deterministic across retries/stragglers (a recomputed task must sample
    the SAME rows or speculative execution corrupts the sample) and
    reproducible by the DuckDB oracle bit-for-bit. The order-by + limit
    compiles to TakeOrderedAndProject: each partition keeps a local top-n
    heap and only n rows per partition reach the driver-side merge — no
    global sort, no full shuffle, works at any scale where n fits in memory.
    Weights must be strictly positive.

    Priority form: rank by ln(u)/w, NOT u^(1/w) (same order — ln is
    monotonic and both are negative-domain increasing in u). pow compounds
    two non-correctly-rounded transcendentals across engines (java.lang
    .Math.pow vs libm std::pow), so a 1-ulp divergence at the rank-n
    boundary could flip the selected row; ln(u)/w is ONE transcendental of
    an exactly-reproduced operand followed by a correctly-rounded IEEE
    division (ADVICE r3).

    The result is then rounded to 9 SIGNIFICANT digits — RELATIVE
    precision, not the previous fixed 1e-9 absolute grid (ADVICE r4): the
    priority scales as |ln u|/w, so with production-sized weights it lives
    arbitrarily close to 0 and an absolute grid collapsed every
    |priority| < 5e-10 row into one tie class broken by ascending id —
    deterministic, but no longer weight-distributed. Relative rounding
    (p scaled into [-1,-0.1) by its own decade, rounded, scaled back)
    keeps the grid ~1e-9 of each value at every weight scale: wide enough
    to absorb sub-ulp cross-engine ln() wobble, narrow enough that the
    tie-class measure stays ~1e-9 regardless of weights. Residual caveat
    (documented, not fixable without exact arithmetic): a priority within
    ~1 ulp of an exact power of ten can land in adjacent decades across
    engines — probability ~1e-15 per row, absorbed by the id tiebreak in
    all but adversarial inputs."""
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f"#{seed}"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + 1.0
    ) / F.lit(4294967297.0)  # (k+1) / (2^32 + 1) in (0, 1]
    p = F.log(u) / F.col(weight_col).cast("double")
    decade = F.pow(F.lit(10.0), F.ceil(F.log10(F.abs(p))))
    priority = F.round(p / decade, 9) * decade
    return (
        df.withColumn("__priority", priority)
        .orderBy(F.desc("__priority"), F.col(id_col))
        .limit(n)
        .drop("__priority")
    )
