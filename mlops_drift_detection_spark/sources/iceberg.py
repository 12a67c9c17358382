"""Iceberg table I/O: real when the runtime is present, emulated otherwise.

BASELINE.json's north_star/input_hint name an *Iceberg* table as the engine's
source and log sink. This sandbox ships NO iceberg-spark-runtime jar (checked:
/opt/spark/jars and the pyspark jars dir), so this module provides:

* ``iceberg_available(spark)`` — detects the runtime.
* ``IcebergTableIO`` — ONE adapter interface for both worlds:
    - runtime present: ``spark.read.format("iceberg")``, ``append`` via
      ``writeTo(...).append()``, snapshots from the table's ``.snapshots``
      metadata table. (Code path exists but is necessarily UNTESTED here.)
    - runtime absent (this sandbox): a parquet emulation that reproduces the
      Iceberg SEMANTICS the engine depends on —
        append-only commits:   each append writes parquet under a unique
                               commit dir, then atomically publishes it in a
                               snapshot log (write-tmp + os.replace — the
                               same commit discipline as an Iceberg metadata
                               swap);
        snapshot isolation:    readers list the snapshot log first and read
                               ONLY published commit dirs — a torn/killed
                               write is invisible until published;
        time travel:           ``read(as_of_snapshot=n)`` reads the first n
                               commits.
      What it does NOT emulate: hidden partition transforms, schema
      evolution, manifest-level file pruning, compaction. Those need the
      real runtime; the engine's scan-level partition pruning uses hive
      directory layout instead (see plans/suite.py part_id).

At 100 TB the real runtime is mandatory (manifest pruning + atomic commits
on object storage). No engine path calls this module yet: the suite, CLI and
streaming read parquet paths, and only the tests drive the adapter. It is
kept as the table-format interface the engine's reads are meant to move
behind, and its snapshot id is the candidate input fingerprint for resume
lineage. Behind it, swapping the emulation for the runtime is a config
change, not a code change.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the iceberg-spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:  # noqa: BLE001 — ClassNotFound surfaces as Py4J error
        return False


class IcebergTableIO:
    """Append-only table with snapshot isolation + time travel.

    ``location``: real mode -> an Iceberg table identifier (catalog.db.table);
    emulated mode -> a directory path.
    """

    def __init__(self, spark: SparkSession, location: str, force_emulation: bool = False):
        self.spark = spark
        self.location = location
        self.real = iceberg_available(spark) and not force_emulation
        if not self.real:
            os.makedirs(self._data_dir, exist_ok=True)

    # ------------------------------------------------------------- emulation
    @property
    def _data_dir(self) -> str:
        return os.path.join(self.location, "data")

    @property
    def _log_path(self) -> str:
        return os.path.join(self.location, "snapshots.json")

    def _read_log(self) -> list[dict]:
        try:
            with open(self._log_path) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return []

    def _publish(self, entry: dict) -> int:
        """Commit the entry to the snapshot log; returns its sequence number.

        Two-part discipline:
        * writers serialize on an exclusive advisory ``flock`` for the whole
          read-modify-write, so concurrent appenders can't lose each other's
          commits (the pre-r3 version was last-writer-wins);
        * the log itself is swapped via tmp + ``os.replace`` so READERS
          (which take no lock) never observe a torn file.

        Real Iceberg uses optimistic compare-and-swap on the metadata
        pointer (commit, detect conflict, retry) rather than a lock — on
        object storage there is nothing to flock. Same end state on a single
        host: serialized, lossless, atomic-swap commits."""
        import fcntl

        with open(os.path.join(self.location, ".commit.lock"), "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            log = self._read_log()
            entry = {**entry, "sequence": len(log) + 1}
            log.append(entry)
            tmp = f"{self._log_path}.tmp.{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(log, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, self._log_path)
            return entry["sequence"]

    # ------------------------------------------------------------------- api
    def append(self, df: DataFrame) -> str:
        """Append-commit the DataFrame; returns the snapshot/commit id.
        Emulated: data lands in an unpublished commit dir first — a kill
        before ``_publish`` leaves garbage files but NO visible rows."""
        if self.real:
            df.writeTo(self.location).append()
            return str(
                self.spark.sql(
                    f"SELECT snapshot_id FROM {self.location}.snapshots "
                    "ORDER BY committed_at DESC LIMIT 1"
                ).collect()[0][0]
            )
        commit_id = uuid.uuid4().hex[:16]
        commit_dir = os.path.join(self._data_dir, f"commit-{commit_id}")
        df.write.mode("overwrite").parquet(commit_dir)
        # sequence is assigned INSIDE _publish's lock — computing it here
        # would race a concurrent appender
        self._publish(
            {
                "snapshot_id": commit_id,
                "committed_at_epoch": time.time(),
                "operation": "append",
                "path": commit_dir,
            }
        )
        return commit_id

    def read(self, as_of_snapshot: str | int | None = None) -> DataFrame:
        """Current table state, or time travel to a snapshot id (str) /
        sequence number (int)."""
        if self.real:
            reader = self.spark.read.format("iceberg")
            if as_of_snapshot is not None:
                reader = reader.option("snapshot-id", str(as_of_snapshot))
            return reader.load(self.location)
        log = self._read_log()
        if as_of_snapshot is not None:
            if isinstance(as_of_snapshot, int):
                log = log[:as_of_snapshot]
            else:
                upto = [i for i, e in enumerate(log) if e["snapshot_id"] == as_of_snapshot]
                if not upto:
                    raise ValueError(f"unknown snapshot {as_of_snapshot}")
                log = log[: upto[0] + 1]
        if not log:
            raise ValueError(f"table {self.location} has no committed snapshots")
        return self.spark.read.parquet(*[e["path"] for e in log])

    def snapshots(self) -> list[dict]:
        """Commit history (emulated) / .snapshots metadata rows (real)."""
        if self.real:
            return [
                r.asDict()
                for r in self.spark.sql(
                    f"SELECT * FROM {self.location}.snapshots"
                ).collect()
            ]
        return self._read_log()
