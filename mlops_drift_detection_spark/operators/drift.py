"""Distribution-drift checks: PSI + KS per (partition, feature) vs a baseline.

Spark-first restructuring of the reference's ``detect_drift`` loop
(drift_detector.py:236-293): instead of N per-feature pandas passes, every
baseline feature — numerical, categorical and binary — compiles into ONE
multi-aggregate job (:func:`fused_drift_verdicts`):

  numerical:   bucket index against the frozen baseline edges (pd.cut
               semantics, histogram.py) plus moment sums for mean/std;
  categorical: the raw category value, densified over the frozen category
               list after the shuffle (unknown values and NULLs drop out);
  binary:      the reference's proportion-difference test
               (drift_detector.py:203-225) from the same moment sums.

Baseline count vectors ride the plan as a literal spec map; the only full-data
work is the scan + one shuffle keyed on (partition, feature, key) — the
count stage :func:`drift_counts`, which ``baseline.compute_baseline`` also
uses to count the snapshot it freezes. PSI is
always computed on MERGED histograms — never averaged across partitions
(PSI does not decompose).

Verdict rows mirror the reference's report fields: psi, drift_detected
(psi >= 0.2), drift_severity ladder, baseline/current mean + std,
mean_change_pct with the same NaN/zero guards (drift_detector.py:137-165).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mlops_drift_detection_spark.baseline import BaselineSnapshot
from mlops_drift_detection_spark.operators.histogram import bucket_expr_native
from mlops_drift_detection_spark.operators.psi import (
    PSI_ALARM_THRESHOLD,
    ks_expr,
    psi_expr,
    psi_severity_expr,
)

VERDICT_SCHEMA = (
    "partition string, feature string, kind string, psi double, ks double, "
    "drift_detected boolean, drift_severity string, baseline_mean double, "
    "current_mean double, mean_change_pct double, baseline_std double, "
    "current_std double, n_samples long"
)

# Sentinel for NULL category values inside the fused (feature, key) explode.
# Never read back: the verdict's dense count vector indexes only the frozen
# category list, and the baseline's count pass drops the key.
_NULL_KEY = "\x00__null__"
_BIN_KEY = "__bin__"


def drift_counts(
    df: DataFrame,
    baseline: BaselineSnapshot,
    partition_col: str | None = None,
) -> DataFrame:
    """The drift kernel's count stage: ONE scan and ONE shuffle of ``df``
    giving ``(partition, __f, __k, __cnt, __cnt_val, __sum, __sum2)`` rows.

    Each row of ``df`` is projected to one (feature, key, value) entry per
    baseline feature and exploded:

      numerical   key = bucket index against the frozen edges (pd.cut
                  semantics, histogram.py); NULL/NaN/out-of-range -> "-1";
      categorical key = the raw value cast to string (NULL -> a sentinel);
                  the frozen category list is NOT applied here, so the
                  baseline can count every observed value;
      binary      key = a constant.

    Then ``groupBy(partition, __f, __k)`` with map-side combine counts rows
    (``__cnt``), non-NULL values (``__cnt_val``) and the value moment sums.
    Reduce-side state is O(partitions x sum(keys per feature)), independent
    of row count, and the rows merge by plain addition.
    """
    num_feats = list(baseline.numerical.items())
    cat_feats = list(baseline.categorical)
    bin_feats = list(baseline.binary)
    if not (num_feats or cat_feats or bin_feats):
        raise ValueError("baseline has no features")
    part = (
        F.col(partition_col).cast("string") if partition_col else F.lit("__all__")
    )

    entries = []
    for feat, nb in num_feats:
        v = F.col(feat).cast("double")
        entries.append(
            F.struct(
                F.lit(feat).alias("f"),
                F.coalesce(
                    bucket_expr_native(v, nb.bins).cast("string"), F.lit("-1")
                ).alias("k"),
                v.alias("v"),
            )
        )
    for feat in cat_feats:
        entries.append(
            F.struct(
                F.lit(feat).alias("f"),
                F.coalesce(F.col(feat).cast("string"), F.lit(_NULL_KEY)).alias("k"),
                F.lit(None).cast("double").alias("v"),
            )
        )
    for feat in bin_feats:
        entries.append(
            F.struct(
                F.lit(feat).alias("f"),
                F.lit(_BIN_KEY).alias("k"),
                F.col(feat).cast("double").alias("v"),
            )
        )

    proj = df.select(
        part.alias("partition"), F.explode(F.array(*entries)).alias("e")
    ).select(
        "partition",
        F.col("e.f").alias("__f"),
        F.col("e.k").alias("__k"),
        F.col("e.v").alias("__v"),
    )
    return proj.groupBy("partition", "__f", "__k").agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.count("__v").alias("__cnt_val"),
        F.sum("__v").alias("__sum"),
        F.sum(F.col("__v") * F.col("__v")).alias("__sum2"),
    )


def fused_drift_verdicts(
    df: DataFrame,
    baseline: BaselineSnapshot,
    partition_col: str | None = None,
    psi_threshold: float = PSI_ALARM_THRESHOLD,
    binary_diff_threshold: float = 0.1,
) -> DataFrame:
    """EVERY baseline feature's drift verdict from ONE scan of ``df``.

    The reference's flagship pass is 51 features per drift request
    (drift_detector.py:236-293) — run one at a time in pandas there, and
    SURVEY §2.10 mandates the loop "compiles into ONE multi-agg job, not N
    jobs" here. This is that job, with no per-feature branches at all:

      1-2. :func:`drift_counts`: project each row to one (feature, key,
         value) entry per feature, ``explode``, and count in ONE shuffle
         on (partition, feature, key) with map-side combine;
      3. a tiny second aggregate assembles each (partition, feature)'s
         sparse key->count map plus moment sums;
      4. a lookup in the baseline spec, a plan literal mapping each feature
         to its kind, frozen key list, expected counts and mean/std (KBs
         for any feature count, and no job of its own), densifies the
         counts, projects PSI and KS once each, and derives
         the moments and verdict fields in one kind-switched projection.

    A partition whose rows all miss a feature's frozen category list (or
    are all NULL) emits NO row for that categorical feature: there is no
    in-list count to compare. Numerical and binary features always emit a
    row per partition. ``tests/test_drift.py`` checks every row against an
    independent pandas/numpy mirror of these semantics.

    At 100 TB and 51 features this replaces 51 scans + 51 shuffles with one
    scan + one full-data shuffle; everything after step 2 is metadata-sized.
    """
    spec_map = _spec_map(baseline)
    micro = drift_counts(df, baseline, partition_col)
    per_feature = micro.groupBy("partition", "__f").agg(
        F.map_from_arrays(
            F.collect_list("__k"), F.collect_list("__cnt")
        ).alias("__m"),
        F.sum("__cnt").alias("__n_all"),
        F.sum("__cnt_val").alias("__n_val"),
        F.sum("__sum").alias("__tsum"),
        F.sum("__sum2").alias("__tsum2"),
    )

    # The spec is a plan literal looked up by feature name: a spec TABLE
    # would be one more broadcast job per action (an RDD- or local-table-
    # backed DataFrame still runs its BroadcastExchange as a job). A feature
    # with no spec entry drops out, as under an inner join.
    j = (
        per_feature.withColumn("__spec", spec_map[F.col("__f")])
        .where(F.col("__spec").isNotNull())
        .select("*", F.col("__f").alias("feature"), "__spec.*")
    )
    # Staged: the dense counts, then their total, PSI and KS, are projected
    # once each as columns. The verdict projection reads psi four times, and
    # Catalyst keeps a stage apart rather than duplicate a non-trivial
    # column, so the plan carries one PSI tree instead of one per use.
    scored = j.withColumn(
        "counts",
        F.transform(
            F.col("keys"),
            lambda k: F.coalesce(F.col("__m")[k].cast("double"), F.lit(0.0)),
        ),
    ).select(
        "*",
        F.aggregate("counts", F.lit(0.0), lambda a, x: a + x).alias("total"),
        psi_expr(F.col("bcounts"), F.col("counts")).alias("psi"),
        ks_expr(F.col("bcounts"), F.col("counts")).alias("ks"),
    )
    counts, total, psi, ks = (F.col(c) for c in ("counts", "total", "psi", "ks"))
    n = F.col("__n_val").cast("double")
    num_mean = F.when(n > 0, F.col("__tsum") / n).otherwise(F.lit(0.0))
    var = (F.col("__tsum2") - F.col("__tsum") * F.col("__tsum") / n) / (n - 1)
    num_std = F.when(n > 1, F.sqrt(F.greatest(var, F.lit(0.0)))).otherwise(F.lit(0.0))
    cat_mean = F.when(total > 0, F.element_at(counts, 1) / total).otherwise(F.lit(0.0))
    bin_prop = F.when(n > 0, F.col("__tsum") / n)  # NULL if no non-null values (= F.avg)
    is_cat = F.col("kind") == "categorical"
    is_bin = F.col("kind") == "categorical_binary"

    cur_mean = F.coalesce(
        F.nanvl(F.when(is_cat, cat_mean).otherwise(num_mean), F.lit(0.0)), F.lit(0.0)
    )
    cur_std = F.coalesce(
        F.nanvl(F.when(is_cat | is_bin, F.lit(0.0)).otherwise(num_std), F.lit(0.0)),
        F.lit(0.0),
    )
    mcp_raw = (cur_mean - F.col("bmean")) / F.col("bmean") * 100
    mcp = F.when(is_bin | (F.col("bmean") == 0), F.lit(0.0)).otherwise(
        F.when(F.isnan(mcp_raw) | (F.abs(mcp_raw) == float("inf")), 0.0).otherwise(
            mcp_raw
        )
    )
    diff = F.abs(bin_prop - F.col("bmean"))
    bin_sev = (
        F.when(diff >= 0.2, "high").when(diff >= 0.1, "medium").otherwise("low")
    )
    return scored.where(~(is_cat & (total == 0))).select(
        F.col("partition").cast("string").alias("partition"),
        "feature",
        "kind",
        F.when(is_bin, F.round(diff, 4)).otherwise(F.round(psi, 4)).alias("psi"),
        F.when(is_bin, F.lit(None).cast("double"))
        .otherwise(F.round(ks, 4))
        .alias("ks"),
        F.when(is_bin, diff >= F.lit(binary_diff_threshold))
        .otherwise(psi >= F.lit(psi_threshold))
        .alias("drift_detected"),
        F.when(is_bin, bin_sev).otherwise(psi_severity_expr(psi)).alias(
            "drift_severity"
        ),
        F.round(F.col("bmean"), 4).alias("baseline_mean"),
        F.when(is_bin, F.round(bin_prop, 4))
        .otherwise(F.round(cur_mean, 4))
        .alias("current_mean"),
        F.round(mcp, 2).alias("mean_change_pct"),
        F.round(F.col("bstd"), 4).alias("baseline_std"),
        F.round(cur_std, 4).alias("current_std"),
        F.when(is_cat, total).otherwise(F.col("__n_all")).cast("long").alias(
            "n_samples"
        ),
    )


def _spec_map(baseline: BaselineSnapshot) -> Column:
    """``feature -> struct(kind, keys, bcounts, bmean, bstd)`` as one literal
    map: the frozen key list, expected counts and baseline moments of every
    feature. Feature names must be unique across kinds, because a map has
    one entry per key and the count stage keys its rows by name alone."""
    entries = [
        (
            feat,
            "numerical",
            [str(i) for i in range(max(len(nb.bins) - 1, 1))],
            nb.counts,
            nb.mean,
            nb.std,
        )
        for feat, nb in baseline.numerical.items()
    ]
    entries += [
        (
            feat,
            "categorical",
            [str(c) for c in cb.categories],
            cb.counts,
            cb.proportions[0] if cb.proportions else 0.0,
            0.0,
        )
        for feat, cb in baseline.categorical.items()
    ]
    entries += [
        (feat, "categorical_binary", [], [], bb.proportion_ones, 0.0)
        for feat, bb in baseline.binary.items()
    ]
    seen: set[str] = set()
    for feat, *_ in entries:
        if feat in seen:
            raise ValueError(
                f"baseline feature {feat!r} appears under more than one kind; "
                "drift features need unique names"
            )
        seen.add(feat)
    pairs = []
    for feat, kind, keys, bcounts, bmean, bstd in entries:
        pairs += [
            F.lit(feat),
            F.struct(
                F.lit(kind).alias("kind"),
                F.array(*[F.lit(k) for k in keys]).cast("array<string>").alias("keys"),
                F.array(*[F.lit(float(c)) for c in bcounts])
                .cast("array<double>")
                .alias("bcounts"),
                F.lit(float(bmean)).alias("bmean"),
                F.lit(float(bstd)).alias("bstd"),
            ),
        ]
    return F.create_map(*pairs)


def drift_summary(verdicts: DataFrame) -> DataFrame:
    """Per-partition rollup with the reference's exact summary semantics
    (drift_detector.py:277-293): drift %, overall flag, severity
    (>30% high / >10% medium / else low)."""
    agg = verdicts.groupBy("partition").agg(
        F.count(F.lit(1)).alias("total_features_checked"),
        F.sum(F.col("drift_detected").cast("int")).alias("features_with_drift"),
    )
    pct = F.when(
        F.col("total_features_checked") > 0,
        F.col("features_with_drift") / F.col("total_features_checked") * 100,
    ).otherwise(F.lit(0.0))
    return agg.select(
        "partition",
        "total_features_checked",
        "features_with_drift",
        F.round(pct, 2).alias("drift_percentage"),
        (F.col("features_with_drift") > 0).alias("overall_drift_detected"),
        F.when(pct > 30, "high").when(pct > 10, "medium").otherwise("low").alias(
            "severity"
        ),
    )
