"""Checkpoint manifest: per-partition lineage + metrics, atomic, resumable.

north_rule: "persisting a checkpoint manifest of completed partitions with
lineage + row/violation metrics so a killed run resumes without
recomputation."

Design: one JSON file per completed partition in ``<dir>/parts/``, written
tmp-then-``os.replace`` (:func:`replace_atomically`) so a kill mid-write
never leaves a torn entry (the same atomicity discipline as a Spark/Iceberg
commit; on HDFS/S3 this maps to a rename-based or Iceberg-append commit). A
partition is "complete" iff its file exists and parses. Manifest entries
carry lineage (the input path from the CLI; the engine version and the
baseline and config digests from ``ValidationSuite.run``) so a resume
against a CHANGED setup refuses to skip — silent staleness is worse than
recomputation.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections.abc import Callable
from dataclasses import asdict, dataclass, field
from typing import Any, BinaryIO


@dataclass
class PartitionEntry:
    partition: str
    n_rows: int
    n_violations: int
    checks_run: list[str]
    lineage: dict[str, Any] = field(default_factory=dict)
    metrics: dict[str, Any] = field(default_factory=dict)
    completed_at_epoch: float = 0.0


def replace_atomically(path: str, write: Callable[[BinaryIO], Any]) -> None:
    """Create or replace the local file ``path`` with what ``write`` puts in
    a binary file: written and fsync'd under a ``.``-prefixed temp name in
    the same directory (parquet and JSON readers skip it), then renamed over
    ``path``. A kill leaves either the old file or the new one, never a torn
    one."""
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}.tmp.{os.getpid()}")
    with open(tmp, "wb") as f:
        write(f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _slug(partition: str) -> str:
    return hashlib.sha256(partition.encode("utf-8")).hexdigest()[:24]


class CheckpointManifest:
    def __init__(self, directory: str, lineage: dict[str, Any] | None = None):
        self.dir = directory
        self.parts_dir = os.path.join(directory, "parts")
        os.makedirs(self.parts_dir, exist_ok=True)
        self.lineage = lineage or {}
        meta_path = os.path.join(directory, "manifest.json")
        if not os.path.exists(meta_path):
            self._atomic_write(meta_path, {"lineage": self.lineage, "version": 1})

    @staticmethod
    def _atomic_write(path: str, obj: dict) -> None:
        replace_atomically(path, lambda f: f.write(json.dumps(obj).encode()))

    def _entry_path(self, partition: str) -> str:
        return os.path.join(self.parts_dir, f"{_slug(partition)}.json")

    def is_complete(self, partition: str, lineage: dict[str, Any] | None = None) -> bool:
        """Complete AND lineage-compatible. A corrupt/torn file reads as
        incomplete (safe: recompute)."""
        try:
            with open(self._entry_path(partition)) as f:
                entry = json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return False
        want = lineage if lineage is not None else self.lineage
        got = entry.get("lineage", {})
        return all(got.get(k) == v for k, v in want.items())

    def mark_complete(self, entry: PartitionEntry) -> None:
        entry.completed_at_epoch = time.time()
        if not entry.lineage:
            entry.lineage = dict(self.lineage)
        self._atomic_write(self._entry_path(entry.partition), asdict(entry))

    def completed_partitions(self) -> list[PartitionEntry]:
        out = []
        for name in sorted(os.listdir(self.parts_dir)):
            if not name.endswith(".json"):
                continue
            try:
                with open(os.path.join(self.parts_dir, name)) as f:
                    out.append(PartitionEntry(**json.load(f)))
            except (json.JSONDecodeError, TypeError):
                continue  # torn entry -> treated as incomplete
        return out

    def totals(self) -> dict[str, int]:
        parts = self.completed_partitions()
        return {
            "partitions": len(parts),
            "rows": sum(p.n_rows for p in parts),
            "violations": sum(p.n_violations for p in parts),
        }
