"""Salted two-phase aggregation: correctness (exact equality with the plain
groupBy), determinism, and the partition-spread property that motivates it."""

from pyspark.sql import functions as F

from mlops_drift_detection_spark.operators.skew import salt_column, salted_agg


def _skewed(spark, n=20_000):
    # one mega-key owning ~half the rows (the planted mega-repo shape)
    return spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit("mega")).otherwise(
            F.concat(F.lit("k"), (F.col("id") % 97).cast("string"))
        ).alias("repo"),
        F.col("id").alias("row_id"),
        (F.col("id") % 13).cast("double").alias("v"),
    )


def test_salted_agg_sum_avg(spark):
    df = _skewed(spark)
    out = salted_agg(
        df,
        ["repo"],
        {"__s": F.sum("v"), "__c": F.count(F.lit(1))},
        {"total": F.sum("__s"), "n": F.sum("__c")},
        salt_cols=["row_id"],
        salt_buckets=8,
    )
    got = {r["repo"]: (r["total"], r["n"]) for r in out.collect()}
    exp = {
        r["repo"]: (r["total"], r["n"])
        for r in df.groupBy("repo").agg(F.sum("v").alias("total"), F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == exp


def test_salt_deterministic_across_runs(spark):
    df = _skewed(spark, 2000)
    a = df.select("row_id", salt_column(["row_id"], 16).alias("s")).collect()
    b = df.repartition(7).select("row_id", salt_column(["row_id"], 16).alias("s")).collect()
    assert {r["row_id"]: r["s"] for r in a} == {r["row_id"]: r["s"] for r in b}


def test_salt_spreads_mega_key(spark):
    df = _skewed(spark)
    spread = (
        df.where(F.col("repo") == "mega")
        .select(salt_column(["row_id"], 16).alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    # all 16 salt buckets used, and no bucket owns more than 2x the fair share
    assert len(spread) == 16
    fair = 10_000 / 16
    assert max(r["n"] for r in spread) < 2 * fair
