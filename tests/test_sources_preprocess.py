"""Sources (schema-enforced readers, partitioned log sink) and the
preprocessing operators (align, hash split, weighted sample)."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from mlops_drift_detection_spark.functions.preprocess import (
    align_to_template,
    hash_split,
)
from mlops_drift_detection_spark.sources import (
    CODE_FILES_SCHEMA,
    append_log,
    read_table,
    write_table,
)


def test_csv_roundtrip_schema_enforced(spark, tmp_path):
    df = spark.createDataFrame(
        [("r1", "a.py", "c" * 40, "python", "print(1)")], CODE_FILES_SCHEMA
    )
    p = str(tmp_path / "csv")
    write_table(df, p, fmt="csv")
    back = read_table(spark, p, fmt="csv", schema=CODE_FILES_SCHEMA)
    assert back.schema == CODE_FILES_SCHEMA
    assert back.collect() == df.collect()
    with pytest.raises(ValueError, match="explicit schema"):
        read_table(spark, p, fmt="csv")


def test_append_log_partition_pruning(spark, tmp_path):
    import datetime as dt

    schema = StructType(
        [StructField("id", LongType()), StructField("ts", TimestampType())]
    )
    rows = [
        Row(id=i, ts=dt.datetime(2026, 1, 1 + (i % 3), 12, 0)) for i in range(30)
    ]
    p = str(tmp_path / "log")
    append_log(spark.createDataFrame(rows, schema), p)
    back = spark.read.parquet(p)
    pruned = back.where(F.col("log_date") == "2026-01-02")
    assert pruned.count() == 10
    # the date predicate must reach the source as partition pruning
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "log_date" in plan


def test_align_to_template(spark):
    df = spark.createDataFrame([(1, 2)], ["a", "extra"])
    out = align_to_template(df, ["a", "b", "c"], fill=0)
    assert out.columns == ["a", "b", "c"]
    assert out.collect()[0] == Row(a=1, b=0, c=0)


def test_hash_split_deterministic_and_proportional(spark):
    df = spark.range(20000).withColumnRenamed("id", "doc_id")
    s1 = hash_split(df, "doc_id")
    s2 = hash_split(df.repartition(13), "doc_id")
    c1 = {r["split"]: r["n"] for r in s1.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    c2 = {r["split"]: r["n"] for r in s2.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert c1 == c2  # partitioning-independent membership
    n = sum(c1.values())
    assert abs(c1["train"] / n - 0.7) < 0.02
    assert abs(c1["val"] / n - 0.1) < 0.02
    assert abs(c1["test"] / n - 0.2) < 0.02


def test_weighted_sample_deterministic_and_proportional(spark):
    from mlops_drift_detection_spark.functions.preprocess import weighted_sample

    df = spark.createDataFrame(
        [(i, 1_000_000.0 if i == 7 else 1.0) for i in range(200)],
        "id long, w double",
    )
    s1 = sorted(r["id"] for r in weighted_sample(df, "w", 20, "id").collect())
    # determinism: same seed -> same set regardless of physical partitioning
    s2 = sorted(
        r["id"]
        for r in weighted_sample(df.repartition(13), "w", 20, "id").collect()
    )
    assert s1 == s2
    # the overwhelming-weight row is (essentially) always included
    assert 7 in s1
    # different seed -> (almost surely) different set, same size
    s3 = sorted(r["id"] for r in weighted_sample(df, "w", 20, "id", seed=99).collect())
    assert len(s3) == 20 and s3 != s1


def test_weighted_sample_inclusion_tracks_weight(spark):
    """A-ES property check: across many seeds, a weight-10 row should be
    sampled far more often than weight-1 rows."""
    from collections import Counter

    from mlops_drift_detection_spark.functions.preprocess import weighted_sample

    df = spark.createDataFrame(
        [(i, 10.0 if i < 10 else 1.0) for i in range(100)], "id long, w double"
    )
    hits = Counter()
    for seed in range(15):
        for r in weighted_sample(df, "w", 10, "id", seed=seed).collect():
            hits[r["id"]] += 1
    heavy = sum(hits[i] for i in range(10)) / 10        # avg hits, weight 10
    light = sum(hits[i] for i in range(10, 100)) / 90   # avg hits, weight 1
    assert heavy > 3 * light, f"heavy {heavy} vs light {light}"


def test_weighted_sample_no_tie_collapse_at_large_weights(spark):
    """ADVICE r4: with production-sized weights (1e9) every |ln(u)/w| is
    < 5e-10, so the old FIXED 1e-9 grid collapsed all priorities to one
    tie class and the 'weighted' sample degenerated to lowest-id-first.
    Relative (significant-digit) rounding must instead reproduce the exact
    un-rounded A-ES selection."""
    import hashlib
    import math

    from pyspark.sql import functions as F

    from mlops_drift_detection_spark.functions.preprocess import weighted_sample

    n_rows, k = 2_000, 25
    df = spark.range(n_rows).select(
        F.col("id"), (F.col("id") % 17 + 1).cast("double") * 1e9
    ).toDF("id", "w")
    got = sorted(r["id"] for r in weighted_sample(df, "w", k, "id").collect())
    # exact A-ES mirror (no grid at all): same md5-derived uniforms
    pri = {}
    for i in range(n_rows):
        h = hashlib.md5(f"{i}#42".encode()).hexdigest()[:8]
        u = (int(h, 16) + 1.0) / 4294967297.0
        pri[i] = math.log(u) / (((i % 17) + 1) * 1e9)
    want = sorted(sorted(range(n_rows), key=lambda i: (-pri[i], i))[:k])
    assert got == want
    # and explicitly NOT the degenerate lowest-id-first answer
    assert got != list(range(k))
