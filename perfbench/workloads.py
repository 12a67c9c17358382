"""The perfbench workloads.

Each workload builds its inputs from the run's seed in ``setup``, then
``op`` issues one closed-loop operation through the engine's public entry
points and checks its output. An op returns an :class:`Op` with the timed
part of its work; ``problems`` lists every output-check failure (an empty
list means the output was correct). ``probes`` (traced runs only) calls
single layers on the same inputs, each under its own Spark job group.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from mlops_drift_detection_spark import cli
from mlops_drift_detection_spark.baseline import BaselineSnapshot, compute_baseline
from mlops_drift_detection_spark.datagen import (
    LANG_PROBS,
    LANG_PROBS_DRIFTED,
    LANGS,
    CodeFilesSpec,
    expected_violation_counts,
    write_fixture,
)
from mlops_drift_detection_spark.plans.manifest import CheckpointManifest, PartitionEntry
from mlops_drift_detection_spark.plans.suite import SuiteConfig, ValidationSuite
from mlops_drift_detection_spark.streaming.drift_stream import (
    assert_unique_tags,
    foreach_batch_validator,
    run_file_stream_validation,
)

from observe import meter

N_BUCKETS = 16  # logical partitions: SuiteConfig's default
ROW_RULES = (
    "not_null_lang",
    "not_empty_content",
    "content_length_range",
    "commit_format",
    "sha256_invariant",
)


@dataclass
class Op:
    rows: int
    wall_s: float  # the timed part (for durable_resume: the fresh run)
    cpu_s: float
    resume_s: float  # getting the result back after the simulated kill
    problems: list[str]
    batch_ms: list[float]
    trace: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    seed: int
    work: str
    tracer: object
    jvm_pid: int

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p


def _code_spec(rows: int, seed: int) -> CodeFilesSpec:
    return CodeFilesSpec(
        n_rows=rows,
        n_repos=max(100, rows // 5000),
        n_commits=max(1000, rows // 50),
        seed=seed,
        partitions=4,
    )


def _expected_checks(spec: CodeFilesSpec) -> dict[str, int]:
    """Violation rows per check that datagen plants: one uniqueness row per
    duplicated key, one referential row per dangling commit, and each
    null-lang row also has empty content (so it breaks three rules)."""
    e = expected_violation_counts(spec)
    return {
        "uniqueness": e["duplicates"],
        "referential": e["dangling"],
        "not_null": e["null_lang"],
        "not_empty": e["null_lang"],
        "range": e["null_lang"],
    }


def _compare(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: got {got!r}, want {want!r}"]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _scan_probe(ctx: Ctx, path: str) -> None:
    with ctx.tracer.span("probe.scan", layer="scan"):
        _noop(ctx.spark.read.parquet(path))


def _manifest_probe(ctx: Ctx) -> dict:
    """Direct mark_complete / is_complete calls, one per partition."""
    man = CheckpointManifest(ctx.path("manifest_probe"), lineage={"input": "probe"})
    commit, lookup = [], []
    for p in range(N_BUCKETS):
        t0 = time.perf_counter()
        man.mark_complete(PartitionEntry(str(p), 1, 0, list(ROW_RULES)))
        commit.append(time.perf_counter() - t0)
    for p in range(N_BUCKETS):
        t0 = time.perf_counter()
        if not man.is_complete(str(p)):
            raise RuntimeError(f"manifest probe: partition {p} not complete")
        lookup.append(time.perf_counter() - t0)
    return {
        "manifest.commit_ms": 1e3 * sum(commit) / len(commit),
        "manifest.lookup_ms": 1e3 * sum(lookup) / len(lookup),
    }


def _suite_probes(ctx: Ctx, baseline: BaselineSnapshot, cf, cm, n_rows: int) -> dict:
    """Constraint and drift layers of the suite, each called alone on the
    full input through ValidationSuite's public methods."""
    out = {}
    dfp = ValidationSuite(baseline, SuiteConfig(n_partition_buckets=N_BUCKETS)).with_partition(cf)
    for layer, checks in (
        ("constraints.row_rules", ROW_RULES),
        ("constraints.uniqueness", ("uniqueness",)),
        ("constraints.referential", ("referential",)),
    ):
        suite = ValidationSuite(
            baseline, SuiteConfig(n_partition_buckets=N_BUCKETS, checks=checks)
        )
        with ctx.tracer.span(f"probe.{layer}", layer=layer):
            _noop(suite.violations(dfp, cm))
        out[f"{layer}.rows_out"] = suite.violations(dfp, cm).count()
    suite = ValidationSuite(baseline, SuiteConfig(n_partition_buckets=N_BUCKETS))
    with ctx.tracer.span("probe.drift.fused", layer="drift.fused"):
        _noop(suite.drift_verdicts(dfp))
    n_feats = len(baseline.numerical) + len(baseline.categorical) + len(baseline.binary)
    out["drift.fused.values"] = n_rows * n_feats
    return out


def _sink_digest(out_dir: str) -> str:
    """Order-independent digest of everything the suite wrote to its sink,
    with run_id (which differs between runs by design) removed."""
    h = hashlib.sha256()
    for part in ("violations", "verdicts", "summary"):
        table = pq.read_table(os.path.join(out_dir, part))
        if "run_id" in table.column_names:
            table = table.drop(["run_id"])
        rows = sorted(
            json.dumps([str(v) for v in row.values()]) for row in table.to_pylist()
        )
        h.update(part.encode())
        h.update("\n".join(rows).encode())
    return h.hexdigest()


def _dir_size(path: str) -> tuple[float, int]:
    size, files = 0, 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size / 2**20, files


def _run_cli(argv: list[str]) -> dict:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = cli.main(argv)
    if rc != 0:
        raise RuntimeError(f"cli.main exited {rc}")
    return json.loads(buf.getvalue().strip().splitlines()[-1])


class DurableResume:
    """cli.main over a part_id-partitioned input with manifest, sink and
    4 cached waves; then a simulated kill (the newest half of the manifest
    entries and their sink partitions deleted) and cli.main --resume."""

    name = "durable_resume"
    op_layer = "cli"
    warmup_ops = 1  # one op is two cli.main runs: fresh, then --resume

    def __init__(self, rows: int = 60_000, tamper: bool = False):
        self.rows = rows
        self.tamper = tamper
        self.n_ops = 0

    def setup(self, ctx: Ctx) -> None:
        spec = _code_spec(self.rows, ctx.seed)
        d = ctx.path("resume")
        with ctx.tracer.span("setup.fixture"):
            self.paths = write_fixture(ctx.spark, f"{d}/input", spec, partition_buckets=N_BUCKETS)
        self.cf = ctx.spark.read.parquet(self.paths["code_files"])
        self.cm = ctx.spark.read.parquet(self.paths["commits"])
        with ctx.tracer.span("setup.baseline", layer="baseline"):
            self.baseline = ValidationSuite.compute_baseline_snapshot(self.cf)
        self.baseline_path = f"{d}/baseline.json"
        self.baseline.save(self.baseline_path)
        self.n_input = self.rows + expected_violation_counts(spec)["duplicates"]
        self.expected_violations = sum(_expected_checks(spec).values())
        if self.tamper:
            self.expected_violations += 1

    def op(self, ctx: Ctx, warmup: bool = False) -> Op:
        self.n_ops += 1
        d = ctx.path("resume", f"op{self.n_ops}")
        out = f"{d}/out"
        argv = [
            "--input", self.paths["code_files"],
            "--commits-dim", self.paths["commits"],
            "--baseline", self.baseline_path,
            "--manifest-dir", f"{d}/manifest",
            "--output", out,
            "--n-buckets", str(N_BUCKETS),
            "--n-waves", "4",
        ]
        start = time.time()
        with ctx.tracer.span("op.fresh"), meter(ctx.jvm_pid) as m:
            fresh = _run_cli(argv)
        trace = {}
        trace["sink.write_mb"], trace["sink.files"] = _dir_size(out)
        digest = _sink_digest(out)
        entries = []
        for name in os.listdir(f"{d}/manifest/parts"):
            with open(f"{d}/manifest/parts/{name}") as f:
                entries.append((json.load(f), name))
        entries.sort(key=lambda e: e[0]["completed_at_epoch"])
        # one batch per manifest wave: waves take every 4th sorted partition
        parts = sorted(int(e["partition"]) for e, _ in entries)
        wave_end: dict[int, float] = {}
        for e, _ in entries:
            w = parts.index(int(e["partition"])) % 4
            wave_end[w] = max(wave_end.get(w, 0.0), e["completed_at_epoch"])
        ends = sorted(wave_end.values())
        batch_ms = [1e3 * (b - a) for a, b in zip([start] + ends[:-1], ends)]
        # simulated kill: the newest half of the committed partitions is lost
        killed = entries[len(entries) // 2 :]
        for e, name in killed:
            os.remove(f"{d}/manifest/parts/{name}")
            for part in ("violations", "verdicts"):
                shutil.rmtree(f"{out}/{part}/partition={e['partition']}", ignore_errors=True)
        with ctx.tracer.span("op.resume", layer=None if warmup else "cli.resume"):
            with meter(ctx.jvm_pid) as r:
                resumed = _run_cli(argv + ["--resume"])
        problems = (
            _compare("fresh rows validated", fresh["rows_validated"], self.n_input)
            + _compare("fresh violations", fresh["violations"], self.expected_violations)
            + _compare("fresh verdicts", fresh["verdicts"], 2 * N_BUCKETS)
            + _compare("resumed verdicts", resumed["verdicts"], 2 * N_BUCKETS)
            + _compare("skipped partitions", resumed["skipped_partitions"], len(entries) - len(killed))
            + _compare("resumed sink digest", _sink_digest(out), digest)
        )
        shutil.rmtree(d)
        return Op(
            fresh["rows_validated"], m["wall_s"], m["cpu_s"], r["wall_s"], problems, batch_ms,
            trace,
        )

    def probes(self, ctx: Ctx) -> dict:
        _scan_probe(ctx, self.paths["code_files"])
        out = _suite_probes(ctx, self.baseline, self.cf, self.cm, self.n_input)
        out.update(_manifest_probe(ctx))
        return out


STREAM_SCHEMA = StructType(
    [StructField("drop_id", IntegerType()), StructField("lang", StringType())]
)


class StreamBacklog:
    """Parquet drops through run_file_stream_validation (availableNow, one
    file per trigger) with foreach_batch_validator writing to a sink. The
    normal drops arrive first; the query then stops, the drifted drops land,
    and the query restarts from its checkpoint."""

    name = "stream_backlog"
    op_layer = "stream"
    warmup_ops = 2

    def __init__(self, drops: int = 40, rows_per_drop: int = 25_000, tamper: bool = False):
        self.drops = drops
        self.rows_per_drop = rows_per_drop
        self.tamper = tamper
        self.n_ops = 0
        self.run_ids: list[str] = []

    def setup(self, ctx: Ctx) -> None:
        rng = np.random.default_rng(ctx.seed)
        self.staging = ctx.path("stream", "staging")
        ref_dir = ctx.path("stream", "reference")
        with ctx.tracer.span("setup.fixture"):
            for i in range(self.drops):
                probs = LANG_PROBS_DRIFTED if i >= self.drops // 2 else LANG_PROBS
                table = pa.table(
                    {
                        "drop_id": pa.array(np.full(self.rows_per_drop, i, np.int32)),
                        "lang": rng.choice(LANGS, size=self.rows_per_drop, p=probs),
                    }
                )
                pq.write_table(table, f"{self.staging}/drop_{i:03d}.parquet")
            ref_rows = 4 * self.rows_per_drop
            pq.write_table(
                pa.table(
                    {
                        "drop_id": pa.array(np.full(ref_rows, -1, np.int32)),
                        "lang": rng.choice(LANGS, size=ref_rows, p=LANG_PROBS),
                    }
                ),
                f"{ref_dir}/reference.parquet",
            )
        with ctx.tracer.span("setup.baseline", layer="baseline"):
            snap = compute_baseline(ctx.spark.read.parquet(ref_dir), [], ["lang"])
        cb = snap.categorical["lang"]
        self.categories = list(cb.categories)
        self.expected_counts = dict(zip(cb.categories, cb.counts))
        self.drifted = set(range(self.drops // 2, self.drops))
        if self.tamper:
            self.drifted.discard(min(self.drifted))

    def op(self, ctx: Ctx, warmup: bool = False) -> Op:
        self.n_ops += 1
        d = ctx.path("stream", f"op{self.n_ops}")
        src, ckpt, sink = ctx.path("stream", f"op{self.n_ops}", "src"), f"{d}/ckpt", f"{d}/sink"
        half = self.drops // 2
        # warm-up ops drain a short backlog through the same code path
        n = 1 if warmup else half
        waves = [range(0, n), range(half, half + n)]
        verdicts: list[dict] = []
        on_batch = foreach_batch_validator(
            self.expected_counts, self.categories, out_rows=verdicts,
            sink_path=sink, tag_col="drop_id",
        )
        progress: list[dict] = []
        wall_s = cpu_s = 0.0
        for k, wave in enumerate(waves):
            for i in wave:  # the drops land
                shutil.copyfile(
                    f"{self.staging}/drop_{i:03d}.parquet", f"{src}/drop_{i:03d}.parquet"
                )
            name = "op.stream" if k == 0 else "op.stream.resume"
            with ctx.tracer.span(name, layer=None if warmup else "stream"):
                with meter(ctx.jvm_pid) as m:
                    q = run_file_stream_validation(
                        ctx.spark, src, STREAM_SCHEMA, ckpt, on_batch, max_files_per_trigger=1
                    )
                    q.awaitTermination()
            wall_s += m["wall_s"]
            cpu_s += m["cpu_s"]
            if not warmup:
                self.run_ids.append(str(q.runId))
            progress += [json.loads(p.json) for p in q.recentProgress]
        fed = [i for w in waves for i in w]
        problems = _compare("verdicts", len(verdicts), len(fed))
        try:
            assert_unique_tags(verdicts, "drop_id")
        except AssertionError as e:
            problems.append(str(e))
        alarms = {r["drop_id"] for r in verdicts if r["drift_detected"]}
        problems += _compare("alarmed drops", sorted(alarms), sorted(self.drifted & set(fed)))
        problems += _compare("sink rows", pq.read_table(sink).num_rows, len(fed))
        batches = [p for p in progress if p["numInputRows"] > 0]
        shutil.rmtree(d)
        return Op(
            len(fed) * self.rows_per_drop, wall_s, cpu_s, m["wall_s"], problems,
            [float(p["durationMs"]["triggerExecution"]) for p in batches],
            {"progress": batches},
        )

    def probes(self, ctx: Ctx) -> dict:
        _scan_probe(ctx, self.staging)
        return _manifest_probe(ctx)


WORKLOADS = {w.name: w for w in (DurableResume, StreamBacklog)}
