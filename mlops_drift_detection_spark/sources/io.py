"""Sources & sinks: schema-enforced readers and partitioned writers.

Covers the reference's I/O surface (SURVEY.md §2.1) Spark-first:

* CSV scan/sink (reference: src/models/data_preprocessing.py:316,332-337) —
  explicit schema, header, NO inferSchema (a schema-inference pass at 100 TB
  is a full extra read of the data).
* JSON artifact I/O (baseline_calculator.py:99-100) — handled by
  BaselineSnapshot.save/load (driver-side KB-scale artifacts, not here).
* Append-only prediction-log shape (src/api/database.py:20-54,
  main.py:170-190) — ``append_log``: partitioned append, the parquet stand-in
  for an Iceberg ``writeStream.toTable``/``.mode("append")`` target.

Partitioning discipline: event/log tables are written partitioned by date so
the reference's lookback predicate (main.py:271-275) becomes partition
pruning, not a scan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

CODE_FILES_SCHEMA = StructType(
    [
        StructField("repo", StringType()),
        StructField("path", StringType()),
        StructField("commit", StringType()),
        StructField("lang", StringType()),
        StructField("content", StringType()),
    ]
)

COMMITS_SCHEMA = StructType(
    [
        StructField("commit", StringType()),
        StructField("repo", StringType()),
    ]
)


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: StructType | None = None,
) -> DataFrame:
    """Schema-enforced scan. ``fmt`` in {parquet, csv, json}. For csv/json a
    schema is REQUIRED — inference re-reads the data and silently widens
    types; a fixed StructType keeps the scan one pass and the plan stable."""
    reader = spark.read
    if fmt == "parquet":
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(path)
    if schema is None:
        raise ValueError(f"{fmt} scans require an explicit schema (no inferSchema)")
    if fmt == "csv":
        return reader.schema(schema).option("header", "true").csv(path)
    if fmt == "json":
        return reader.schema(schema).json(path)
    raise ValueError(f"unsupported format: {fmt}")


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: Sequence[str] = (),
    mode: str = "overwrite",
) -> None:
    """Partitioned sink. Parquet by default; csv only when interop demands it
    (row format — loses pushdown/pruning/stats)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "parquet":
        writer.parquet(path)
    elif fmt == "csv":
        writer.option("header", "true").csv(path)
    elif fmt == "json":
        writer.json(path)
    else:
        raise ValueError(f"unsupported format: {fmt}")


def write_compacted(
    df: DataFrame,
    path: str,
    target_mb: int = 128,
    mode: str = "overwrite",
) -> None:
    """Size-governed parquet sink: AQE's REBALANCE hint re-plans the final
    shuffle so every output partition lands near ``target_mb`` — splitting
    skewed partitions AND coalescing tiny ones in one pass. This is the
    small-files control a long-running 100 TB pipeline needs: a thousand
    1 MB files poison every later scan (task-per-file scheduling, footer
    overhead), one 10 GB file serializes a task; both come out of naive
    ``df.write`` after skewed upstream stages. REBALANCE is the built-in,
    statistics-driven answer — no hand-tuned ``repartition(n)`` that's wrong
    at the next data size. (Shuffle-size ~ on-disk parquet size for text;
    columnar-compressible data lands under target, which errs safe.)

    Session-wide side effect (ADVICE r3): the advisory-partition-size conf
    is SESSION-scoped, so any query that happens to run concurrently on the
    same SparkSession during this write picks up the altered AQE target for
    its own shuffles. Single-threaded drivers (this engine's CLI and tests)
    are unaffected; a multi-tenant driver should call this through its own
    ``spark.newSession()`` (shared SparkContext, isolated SQL conf) after
    re-deriving ``df`` in that session."""
    spark = df.sparkSession
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    saved = spark.conf.get(key, None)
    spark.conf.set(key, f"{target_mb}m")
    try:
        df.hint("rebalance").write.mode(mode).parquet(path)
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


def append_log(
    df: DataFrame,
    path: str,
    ts_col: str = "ts",
    partition_col: str = "log_date",
) -> None:
    """Append-only log write, date-partitioned so time-window queries prune
    partitions instead of scanning history (the reference's prediction-log
    `timestamp >= cutoff` becomes `log_date >= date(cutoff)` pruning)."""
    (
        df.withColumn(partition_col, F.to_date(F.col(ts_col)))
        .write.mode("append")
        .partitionBy(partition_col)
        .parquet(path)
    )
