"""SparkSession factory with scale-oriented defaults.

Local mode is for tests/bench only; the configs are the ones that matter on a
real multi-executor cluster: AQE (runtime re-plan, skew-join splitting,
partition coalescing), Arrow for the few vectorized-UDF hot paths, and a
shuffle-partition count sized to the parallelism level.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mlops-drift-detection-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the validation engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    ``shuffle_partitions`` defaults to the core count — at cluster scale set
    this to 2-3x total executor cores; AQE coalesces small partitions anyway.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_env) if cpus_env and cpus_env.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime re-planning, small-partition coalescing, skew-join split.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow transfer for the Python batch paths: media decode
        # (mapInPandas), the fixture generator, and pandas <-> DataFrame
        # conversion.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Keep scans right-sized: at 100 TB this bounds per-task input.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Throughput GC: this engine's hot loops are allocation-heavy string
        # work (content decode, sha2, regex). G1's region/GCLocker machinery
        # collapses under 32 concurrent tasks in virtualized environments
        # (observed: 60% sys time, 5x slowdown vs ParallelGC on the identical
        # job); ParallelGC is the right collector for batch throughput.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GC_OPTS", "-XX:+UseParallelGC"),
        )
        .config(
            "spark.executor.extraJavaOptions",
            os.environ.get("SPARK_GC_OPTS", "-XX:+UseParallelGC"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    # Opt-in extra jars (e.g. an iceberg-spark-runtime to flip the Iceberg
    # adapter from emulated to real — see sources/iceberg.py and
    # tests/test_iceberg_real.py's skip manifest).
    extra_jars = os.environ.get("SPARK_GRAFT_EXTRA_JARS")
    if extra_jars:
        builder = builder.config("spark.jars", extra_jars)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
