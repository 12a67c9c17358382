"""Constraint checks emitting verdicts + violation rows.

Generalizes the reference's validation surface — pydantic range validators
(src/api/schemas.py:19,31,35), the z-score out-of-range check
(src/monitoring/drift_detector.py:295-334), and the feature-set consistency
oracle (compare_features.py:61-86) — into distributed, declarative checks over
the source-code table:

* uniqueness on key columns: hash-partitioned ``groupBy(...).count()`` —
  Spark's hash shuffle IS the hash partitioning; map-side partial counts make
  the shuffle proportional to distinct keys, not rows.
* referential (fact.commit -> dim.commit): LEFT ANTI join. The dim keys are
  broadcast by default (explicit ``F.broadcast``); opting out gives a
  shuffled anti-join with AQE skew-split handling the planted mega-repo.
* row rules (not-null, not-empty, range, regex, z-score, the sha256
  per-row invariant, ...): :class:`RowRule` Column predicates, all fused into
  one scan by :func:`fused_row_violations` — they stay in whole-stage
  codegen, and violations are a filter + explode.
* contains / endswith string rules: standalone filters for the catalog's
  string-rule query.

All checks return violation DataFrames with a common shape so the suite can
union them: (check, column, repo, path, commit, detail).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

VIOLATION_COLS = ["partition", "check", "column", "repo", "path", "commit", "detail"]

_KEY_COLS = ["repo", "path", "commit"]

# suite-injected logical-partition column; violations keep it when present
PARTITION_COL = "part_id"


def _shape(df: DataFrame, check: str, column: str, detail: Column) -> DataFrame:
    part = (
        F.col(PARTITION_COL).cast("string")
        if PARTITION_COL in df.columns
        else F.lit(None).cast("string")
    )
    cols = []
    for k in _KEY_COLS:
        cols.append(
            F.col(k).cast("string").alias(k)
            if k in df.columns
            else F.lit(None).cast("string").alias(k)
        )
    return df.select(
        part.alias("partition"),
        F.lit(check).alias("check"),
        F.lit(column).alias("column"),
        *cols,
        detail.cast("string").alias("detail"),
    )


def uniqueness_violations(
    df: DataFrame, key_cols: Sequence[str] = ("repo", "path", "commit")
) -> DataFrame:
    """Keys appearing more than once. One shuffle on the key; emits one row per
    duplicated key (with its multiplicity), not per duplicate row — at scale
    the violation set stays proportional to the number of bad keys."""
    keys = list(key_cols)
    gcols = keys + ([PARTITION_COL] if PARTITION_COL in df.columns else [])
    dup = (
        df.groupBy(*gcols)
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )
    return _shape(
        dup,
        "uniqueness",
        ",".join(keys),
        F.concat(F.lit("multiplicity="), F.col("n")),
    )


def referential_violations(
    facts: DataFrame,
    dim: DataFrame,
    fact_key: str = "commit",
    dim_key: str = "commit",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Fact rows whose key is absent from the dim (LEFT ANTI).

    ``broadcast_dim=True`` (default) broadcasts the dim's key column only.
    It is not deduplicated: a LEFT ANTI join emits the same fact rows
    whatever duplicates its build side holds, and a ``distinct`` would cost
    a shuffle job of its own under the broadcast. With ``False``, a shuffled
    anti-join is used and AQE's skew-join splitting covers skewed fact keys.
    """
    dim_keys = dim.select(F.col(dim_key).alias(fact_key))
    if broadcast_dim:
        dim_keys = F.broadcast(dim_keys)
    missing = facts.join(dim_keys, on=fact_key, how="left_anti")
    return _shape(
        missing,
        "referential",
        fact_key,
        F.concat(F.lit("dangling "), F.col(fact_key)),
    )


def contains_violations(
    df: DataFrame, column: str, token: str, forbid: bool = True
) -> DataFrame:
    """F5 string rule (reference: str.contains('_missing'),
    evaluate_test.py:108): ``forbid=True`` -> rows CONTAINING the token
    violate; ``forbid=False`` -> rows NOT containing it violate."""
    hit = F.col(column).contains(token)
    cond = hit if forbid else ~hit
    word = "contains" if forbid else "missing"
    return _shape(
        df.where(F.col(column).isNotNull() & cond),
        "contains",
        column,
        F.lit(f"{word} '{token}'"),
    )


def endswith_violations(
    df: DataFrame, column: str, suffix: str, forbid: bool = True
) -> DataFrame:
    """F5 string rule (reference: endswith('_missing'),
    data_preprocessing.py:170): suffix-match constraint, same polarity
    convention as :func:`contains_violations`."""
    hit = F.col(column).endswith(suffix)
    cond = hit if forbid else ~hit
    word = "endswith" if forbid else "does not end with"
    return _shape(
        df.where(F.col(column).isNotNull() & cond),
        "endswith",
        column,
        F.lit(f"{word} '{suffix}'"),
    )


class RowRule:
    """A row-level violation rule: (check, column, cond, detail). ``cond``
    true => the row violates. Used by :func:`fused_row_violations`."""

    def __init__(self, check: str, column: str, cond: Column, detail: Column):
        self.check = check
        self.column = column
        self.cond = cond
        self.detail = detail


def fused_row_violations(df: DataFrame, rules: Sequence[RowRule]) -> DataFrame:
    """ALL row-level checks in ONE scan.

    Unioning k per-check filters costs k passes over the input (or k branches
    of a cached slice — either way k traversals). Instead, build per row an
    array of violation structs (null for satisfied rules), drop the nulls,
    and explode: one projection + filter per scan, zero rows emitted for
    clean rows, one row per (row, violated rule). This is the scan
    shape that survives 100 TB — the input is read once regardless of how
    many row rules the suite carries.
    """
    if not rules:
        return empty_violations(df.sparkSession)
    part = (
        F.col(PARTITION_COL).cast("string")
        if PARTITION_COL in df.columns
        else F.lit(None).cast("string")
    )
    keys = [
        (F.col(k).cast("string") if k in df.columns else F.lit(None).cast("string")).alias(k)
        for k in _KEY_COLS
    ]
    structs = F.array(
        *[
            F.when(
                r.cond,
                F.struct(
                    F.lit(r.check).alias("check"),
                    F.lit(r.column).alias("column"),
                    r.detail.cast("string").alias("detail"),
                ),
            )
            for r in rules
        ]
    )
    hits = F.filter(structs, lambda s: s.isNotNull())
    return (
        df.select(part.alias("partition"), *keys, hits.alias("_hits"))
        .where(F.size("_hits") > 0)
        .select("partition", *_KEY_COLS, F.explode("_hits").alias("v"))
        .select(
            "partition",
            F.col("v.check").alias("check"),
            F.col("v.column").alias("column"),
            *_KEY_COLS,
            F.col("v.detail").alias("detail"),
        )
    )


def empty_violations(spark) -> DataFrame:
    return spark.createDataFrame(
        [], ", ".join(f"{c} string" for c in VIOLATION_COLS)
    )


def functional_dependency_profile(
    df: DataFrame, determinant: str, dependent: str
) -> DataFrame:
    """Approximate-functional-dependency check ``determinant -> dependent``
    — the schema-conformance question "does X determine Y, and where it
    does not, how badly?" (classic data-profiling FD discovery, e.g. TANE /
    Metanome — public literature; the reference app's fixed pydantic schema
    has no cross-column rule, so this extends the constraint family the
    way a warehouse validator needs: lang derived from path extension,
    license derived from repo, ...).

    One row PER DETERMINANT VALUE: total rows, number of distinct dependent
    values, the majority dependent value with its share, the violation
    count (rows disagreeing with the majority), and ``fd_holds`` (exactly
    one dependent value). Majority ties break deterministically by
    descending dependent value (row_number over (count DESC, dep DESC) —
    the same rule the SQL oracle states, so cross-engine results are
    byte-identical; max_by/arg_max tie behavior is engine-unspecified,
    which is why neither engine uses it here).

    Scale shape: groupBy (det, dep) first — a billion-row determinant group
    collapses to |distinct dep| rows before the window, so the per-det
    window and final rollup run over group COUNTS, never rows, and a hot
    determinant cannot skew a task. Both the window and the rollup reuse
    the first shuffle's hash(det, dep) -> hash(det) co-location (one
    exchange for the window's repartition, none after).
    """
    from pyspark.sql import Window

    g = df.groupBy(determinant, dependent).agg(F.count(F.lit(1)).alias("__n"))
    w = Window.partitionBy(determinant).orderBy(
        F.col("__n").desc(), F.col(dependent).desc()
    )
    ranked = g.withColumn("__rk", F.row_number().over(w))
    out = ranked.groupBy(determinant).agg(
        F.sum("__n").alias("n_rows"),
        F.count(F.lit(1)).alias(f"n_distinct_{dependent}"),
        F.max(F.when(F.col("__rk") == 1, F.col(dependent))).alias(
            f"majority_{dependent}"
        ),
        F.max(F.when(F.col("__rk") == 1, F.col("__n"))).alias("__mn"),
    )
    return out.select(
        determinant,
        "n_rows",
        f"n_distinct_{dependent}",
        f"majority_{dependent}",
        F.round(F.col("__mn") / F.col("n_rows"), 6).alias("majority_share"),
        (F.col("n_rows") - F.col("__mn")).alias("n_violations"),
        (F.col(f"n_distinct_{dependent}") == 1).alias("fd_holds"),
    )


def aggregate_reconciliation_profile(
    parent: DataFrame,
    child: DataFrame,
    parent_key: str,
    child_key: str,
    parent_total: Column,
    child_amount: Column,
    group_col: str,
    tol: float = 0.01,
) -> DataFrame:
    """Cross-table AGGREGATE reconciliation — the "does the rollup column
    actually equal the sum of its detail rows" check (the consistency
    condition data-quality suites run between a fact table and its
    pre-aggregated parent; TPC-H states the same invariant between
    O_TOTALPRICE and the lineitem expression as its consistency condition).
    Per ``group_col`` value: parent count, parents with NO detail rows,
    parents whose |total - sum(detail)| exceeds ``tol``, and the max / mean
    absolute gap over matched parents.

    Money must not float: callers pass ``parent_total`` and
    ``child_amount`` as DECIMAL-typed expressions, so the per-parent sums,
    gaps, and threshold counts are EXACT and engine-order-independent — a
    double sum would differ between engines (and between runs, under AQE
    re-partitioning) in the last ulps, which is precisely the magnitude a
    reconciliation check inspects. The only doubles in the output are final
    casts of exact decimals (deterministic) and one mean quotient, both
    rounded at >= their exact scale.

    Scale shape: ONE child shuffle (groupBy child_key, map-side partial
    sums), one parent-key join (AQE-planned; both sides hash on the key),
    one |groups|-sized rollup. A mega-parent with 10^9 detail rows
    collapses to one sum row before the join, so parent-side skew cannot
    make a hot task."""
    sums = child.groupBy(F.col(child_key).alias(parent_key)).agg(
        F.sum(child_amount).alias("__s")
    )
    base = parent.select(
        group_col, parent_key, parent_total.alias("__t")
    ).join(sums, parent_key, "left")
    gap = F.abs(F.col("__t") - F.col("__s"))
    matched = F.col("__s").isNotNull()
    return base.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_parents"),
        F.sum(F.when(~matched, 1).otherwise(0)).alias("n_no_children"),
        F.sum(F.when(matched & (gap > tol), 1).otherwise(0)).alias(
            "n_mismatch"
        ),
        F.round(F.max(gap).cast("double"), 6).alias("max_abs_gap"),
        F.round(
            (
                F.sum(F.when(matched, gap)).cast("double")
                / F.sum(F.when(matched, 1).otherwise(0))
            ),
            6,
        ).alias("avg_abs_gap"),
    )


def k_anonymity_profile(
    df: DataFrame,
    quasi_cols: Sequence[str],
    report_col: str,
    k: int = 5,
) -> DataFrame:
    """k-anonymity audit (Sweeney 2002) — the privacy-validation check that
    pairs with PII detection: rows whose quasi-identifier combination is
    shared by fewer than ``k`` rows are re-identifiable by linkage. Per
    ``report_col`` value (which must be one of the quasi-identifiers, so
    the rollup nests cleanly inside the grouping): total rows, distinct
    quasi-identifier groups, groups below ``k``, rows AT RISK (sum of
    small-group sizes), the risk rate, the smallest group, and whether
    k-anonymity holds outright.

    Scale shape (the groups-not-rows discipline of
    ``functional_dependency_profile``): ONE quasi-identifier groupBy with
    map-side partials collapses the corpus to |QI-combinations| rows;
    the per-``report_col`` rollup then runs over group COUNTS, so a hot
    identifier combination cannot skew any later stage."""
    if report_col not in quasi_cols:
        raise ValueError(
            f"report_col {report_col!r} must be one of quasi_cols"
        )
    g = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("__n"))
    small = F.col("__n") < k
    return g.groupBy(report_col).agg(
        F.sum("__n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_qi_groups"),
        F.sum(F.when(small, 1).otherwise(0)).alias("n_small_groups"),
        F.sum(F.when(small, F.col("__n")).otherwise(0)).alias(
            "n_rows_at_risk"
        ),
        F.round(
            F.sum(F.when(small, F.col("__n")).otherwise(0)) / F.sum("__n"), 6
        ).alias("risk_rate"),
        F.min("__n").alias("min_group_size"),
        (F.min("__n") >= k).alias("k_anonymous"),
    )
