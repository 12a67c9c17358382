"""Evidence tests for the shuffle levers the engine relies on: AQE
skew-join splitting (the referential join's mega-repo case) and the
size-governed compaction sink. The skew test asserts on the EXECUTED plan,
not just configuration — proving the lever actually engages on this
engine's session settings.
"""

from pyspark.sql import functions as F


def _final_plan(df) -> str:
    df.collect()  # AQE finalizes the plan only after execution
    return df._jdf.queryExecution().executedPlan().toString()


def test_aqe_skew_join_actually_splits(spark):
    """A planted mega-repo (one key owning ~95% of fact rows, the FIXTURES.md
    skew case) must trigger AQE's OptimizeSkewedJoin on the engine's
    referential shape — the left-anti join of facts against the dim — so the
    final plan splits the skewed shuffle partition instead of one straggler
    task processing the whole mega-key.

    Shape lesson baked into this test (found empirically on Spark 4.1):
    OptimizeSkewedJoin only fires when the join sits at a stage boundary —
    an aggregation consuming the join INSIDE the same stage (e.g.
    ``join(...).groupBy(...)``) suppresses the split. The referential check
    emits violation rows straight to the sink, which is exactly the shape
    that splits."""
    confs = {
        # force sort-merge (broadcast would hide the skew entirely)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # scale the skew detector down to test-sized data
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.range(0, 300_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(0)).otherwise(F.col("id") % 97)
            .alias("repo_id"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        dim = spark.range(0, 90).select(F.col("id").alias("repo_id"))
        dangling = fact.join(dim, "repo_id", "left_anti")
        plan = _final_plan(dangling)
        assert "SortMergeJoin" in plan, plan
        assert "skew=true" in plan and "AQEShuffleRead skewed" in plan, (
            f"skew split did not engage:\n{plan}"
        )
        # and the anti-join is still correct: only keys 90..96 dangle
        want = sum(1 for i in range(0, 300_000, 20) if i % 97 >= 90)
        assert dangling.count() == want
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_write_compacted_governs_file_sizes(spark, tmp_path):
    """A skewed dataframe (one fat partition + 31 near-empty ones) writes
    one oversized file and a pile of tiny ones naively; write_compacted's
    REBALANCE pass must land every file near the target with no data loss."""
    import glob
    import os

    from mlops_drift_detection_spark.sources.io import write_compacted

    # ~45 MB of incompressible-ish text in partition 0, crumbs elsewhere
    skewed = (
        spark.range(0, 150_000)
        .select(
            F.col("id"),
            F.sha2(F.col("id").cast("string"), 512).alias("a"),
            F.sha2((F.col("id") + 1).cast("string"), 512).alias("b"),
        )
        .repartition(32, (F.col("id") % 100 != 0).cast("int"))
    )
    naive = str(tmp_path / "naive")
    skewed.write.parquet(naive)
    naive_sizes = sorted(
        os.path.getsize(f) for f in glob.glob(f"{naive}/*.parquet")
    )

    compacted = str(tmp_path / "compacted")
    write_compacted(skewed, compacted, target_mb=4)
    sizes = sorted(os.path.getsize(f) for f in glob.glob(f"{compacted}/*.parquet"))

    assert spark.read.parquet(compacted).count() == 150_000  # no data loss
    # the naive layout's max file dwarfs its median; the compacted one's
    # files sit in a band around the target (parquet compression means
    # under-target is fine; >3x over is not)
    assert naive_sizes[-1] > 5 * max(naive_sizes[len(naive_sizes) // 2], 1)
    assert len(sizes) > 1, "skew was not split"
    assert max(sizes) < 3 * 4 * 1024 * 1024, f"oversized file: {sizes[-1]}"
