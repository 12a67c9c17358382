"""ValidationSuite: the full constraint + drift pass, one declarative plan.

The engine's flagship entry point (north_rule): over a code-files table
``(repo, path, commit, lang, content [, content_sha256])`` it runs

  constraints: uniqueness(repo,path,commit), referential commit->dim,
               not-null lang, not-empty content, content-length range,
               commit-format regex, sha256 per-row invariant
  drift:       PSI + KS on the lang mix and the content-length histogram
               against a frozen BaselineSnapshot, per logical partition,
               with the reference's thresholds/severity ladder

and emits (violations DF, verdicts DF, per-partition summary DF), recording
each completed partition wave in a CheckpointManifest so a killed run
resumes without recomputing finished waves. Wave results are persisted to
the output sink BEFORE each manifest commit (dynamic partition overwrite —
idempotent under retry), so resume recovers completed waves' ROWS, not just
their row counts.

Scale shape: every check is a Column-expression filter or a single
partial-aggregated shuffle. The violations and verdicts plans are built
ONCE per run; a wave is only a predicate on the logical partition, which
Catalyst pushes through the aggregates and joins into each check's
column-pruned scan, so the pass over N rows does O(1) scans per wave. A
wave's only Spark actions are its two writes: its counters (rows,
violations per partition and per check, drift alarms, max PSI) are
``DataFrame.observe`` metrics collected with the writes, so with a sink no
wave is cached and no count is collected. The logical partition is
``pmod(xxhash64(repo), n_buckets)``; when the input table is WRITTEN
partitioned by that id (``part_id`` hive layout), the pushed wave
predicate becomes a scan PartitionFilter and resume prunes whole
directories from the scan — I/O-level skipping, not just compute-level.
"""

from __future__ import annotations

import functools
import hashlib
import json
import uuid
from dataclasses import asdict, dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from mlops_drift_detection_spark import __version__
from mlops_drift_detection_spark.baseline import BaselineSnapshot, compute_baseline
from mlops_drift_detection_spark.operators import constraints as C
from mlops_drift_detection_spark.operators.drift import (
    VERDICT_SCHEMA,
    drift_summary,
    fused_drift_verdicts,
)
from mlops_drift_detection_spark.plans.manifest import (
    CheckpointManifest,
    PartitionEntry,
)

PART = C.PARTITION_COL
CONTENT_LEN = "content_length"

# the ``check`` value each configured check writes into its violation rows
VIOLATION_CHECK = {
    "uniqueness": "uniqueness",
    "referential": "referential",
    "not_null_lang": "not_null",
    "not_empty_content": "not_empty",
    "content_length_range": "range",
    "commit_format": "regex",
    "sha256_invariant": "sha256_invariant",
}
SEVERITIES = ("low", "medium", "high")


@dataclass
class SuiteConfig:
    key_cols: tuple[str, ...] = ("repo", "path", "commit")
    n_partition_buckets: int = 16
    psi_threshold: float = 0.2
    max_content_length: float = 10_000_000.0  # range rule on length(content)
    commit_regex: str = "^[0-9a-f]{40}$"
    checks: tuple[str, ...] = (
        "uniqueness",
        "referential",
        "not_null_lang",
        "not_empty_content",
        "content_length_range",
        "commit_format",
        "sha256_invariant",
    )

    def __post_init__(self) -> None:
        unknown = [c for c in self.checks if c not in VIOLATION_CHECK]
        if unknown:
            raise ValueError(
                f"unknown check(s) {unknown}; valid checks: {sorted(VIOLATION_CHECK)}"
            )


@dataclass
class SuiteResult:
    violations: DataFrame
    verdicts: DataFrame
    summary: DataFrame
    n_rows_validated: int = 0
    skipped_partitions: list[str] = field(default_factory=list)
    # counters observed on this run's waves (skipped partitions not included):
    # verdict rows, violations per check value, drift alarms per severity
    n_verdicts: int = 0
    violations_by_check: dict[str, int] = field(default_factory=dict)
    drift_alarms: dict[str, int] = field(default_factory=dict)
    warnings: list[str] = field(default_factory=list)
    # wave caches backing violations/verdicts when no output_dir was given;
    # with a sink nothing is cached, because the outputs read the sink
    _caches: list[DataFrame] = field(default_factory=list)

    def release(self) -> None:
        """Unpersist the wave caches backing the returned DataFrames. Call
        when done acting on them (they remain usable — just recomputed)."""
        for df in self._caches:
            df.unpersist()
        self._caches = []


class ValidationSuite:
    def __init__(self, baseline: BaselineSnapshot, config: SuiteConfig | None = None):
        self.baseline = baseline
        self.config = config or SuiteConfig()

    # ---------------------------------------------------------------- baseline
    @staticmethod
    def compute_baseline_snapshot(
        df: DataFrame, exact_quantiles: bool = False
    ) -> BaselineSnapshot:
        """Baseline over the code table: numerical content_length + categorical
        lang (the two drift features the north_star names)."""
        prepared = df.select(
            F.length("content").cast("double").alias(CONTENT_LEN),
            "lang",
        )
        return compute_baseline(
            prepared, [CONTENT_LEN], ["lang"], exact_quantiles=exact_quantiles
        )

    def lineage(self) -> dict[str, str]:
        """Manifest lineage of this suite's results: the engine version, a
        sha256 of the canonical baseline JSON and a digest of every config
        field. :meth:`run` checks and stamps it on top of the manifest's own
        lineage, so a resume under entries that carry other values
        recomputes."""
        config = json.dumps(asdict(self.config), sort_keys=True)
        return {
            "engine_version": __version__,
            "baseline_sha256": self.baseline.sha256(),
            "config_sha256": hashlib.sha256(config.encode()).hexdigest(),
        }

    # ------------------------------------------------------------------- parts
    def with_partition(self, df: DataFrame) -> DataFrame:
        """Attach the logical partition id.

        If the input ALREADY carries ``part_id`` — i.e. the table was written
        partitioned by it (datagen ``partition_buckets``, cli
        ``--partition-input``) — it is used as-is: wave filters then hit the
        PHYSICAL partition column and Catalyst prunes the untouched
        directories from the scan, so a resume skips I/O, not just compute.
        Otherwise the id is derived (pmod(xxhash64(repo), n)) and wave
        filters only skip compute (every file is still read)."""
        if PART in df.columns:
            return df
        return df.withColumn(
            PART,
            F.pmod(F.xxhash64("repo"), F.lit(self.config.n_partition_buckets))
            .cast("int"),
        )

    # ------------------------------------------------------------- constraints
    def _active_checks(self, df: DataFrame, commits_dim: DataFrame | None) -> list[str]:
        """The configured checks that apply to this input: referential needs
        a dim, the sha256 invariant a ``content_sha256`` column."""
        return [
            c
            for c in self.config.checks
            if (c != "referential" or commits_dim is not None)
            and (c != "sha256_invariant" or "content_sha256" in df.columns)
        ]

    def violations(self, df: DataFrame, commits_dim: DataFrame | None) -> DataFrame:
        """All constraint checks: the row-level rules are FUSED into one scan
        (array-of-structs + explode — see C.fused_row_violations); uniqueness
        adds its key shuffle and referential its anti-join. Three data
        traversals total, independent of the number of row rules."""
        cfg = self.config
        active = self._active_checks(df, commits_dim)
        checks: list[DataFrame] = []
        if "uniqueness" in active:
            checks.append(C.uniqueness_violations(df, cfg.key_cols))
        if "referential" in active:
            checks.append(C.referential_violations(df, commits_dim))

        rules: list[C.RowRule] = []
        if "not_null_lang" in active:
            rules.append(
                C.RowRule(
                    VIOLATION_CHECK["not_null_lang"],
                    "lang",
                    F.col("lang").isNull(),
                    F.lit("null value"),
                )
            )
        if "not_empty_content" in active:
            rules.append(
                C.RowRule(
                    VIOLATION_CHECK["not_empty_content"],
                    "content",
                    F.col("content").isNotNull() & (F.length("content") == 0),
                    F.lit("empty value"),
                )
            )
        if "content_length_range" in active:
            clen = F.length("content")
            rules.append(
                C.RowRule(
                    VIOLATION_CHECK["content_length_range"],
                    CONTENT_LEN,
                    clen.isNotNull()
                    & ((clen < F.lit(1.0)) | (clen > F.lit(cfg.max_content_length))),
                    F.concat(F.lit("value="), clen.cast("string")),
                )
            )
        if "commit_format" in active:
            rules.append(
                C.RowRule(
                    VIOLATION_CHECK["commit_format"],
                    "commit",
                    F.col("commit").isNotNull()
                    & ~F.col("commit").rlike(cfg.commit_regex),
                    F.concat(F.lit("value="), F.col("commit").cast("string")),
                )
            )
        if "sha256_invariant" in active:
            rules.append(
                C.RowRule(
                    VIOLATION_CHECK["sha256_invariant"],
                    "content",
                    F.col("content").isNotNull()
                    & (F.sha2(F.col("content"), 256) != F.col("content_sha256")),
                    F.concat(F.lit("expected="), F.col("content_sha256")),
                )
            )
        if rules:
            checks.append(C.fused_row_violations(df, rules))

        if not checks:
            return C.empty_violations(df.sparkSession)
        return functools.reduce(lambda a, b: a.unionByName(b), checks)

    # ------------------------------------------------------------------- drift
    def drift_verdicts(self, df: DataFrame) -> DataFrame:
        """All drift features from ONE scan via the N-feature fused operator
        (single (partition, feature, key) shuffle + the baseline spec as a
        plan literal — no checkpointed micro-table, so a multi-wave run
        leaves no cached blocks behind). Any feature set the baseline
        carries compiles into the same one job; the suite's default baseline
        has the two north-rule features (content_length histogram + lang
        mix)."""
        cfg = self.config
        prepared = df.select(
            PART, "lang", F.length("content").cast("double").alias(CONTENT_LEN)
        )
        return fused_drift_verdicts(
            prepared,
            self.baseline,
            partition_col=PART,
            psi_threshold=cfg.psi_threshold,
        )

    # --------------------------------------------------------------------- run
    def run(
        self,
        df: DataFrame,
        commits_dim: DataFrame | None = None,
        manifest: CheckpointManifest | None = None,
        resume: bool = False,
        n_waves: int = 1,
        output_dir: str | None = None,
    ) -> SuiteResult:
        """Full pass. With a manifest, partitions are processed in ``n_waves``
        groups and each finished wave is checkpointed; ``resume=True`` skips
        completed partitions whose entry lineage matches the manifest's
        lineage plus :meth:`lineage` (so even a manifest built without a
        lineage never reuses results of another baseline, config or engine
        version). The violations and verdicts
        plans are built once per run, and each wave filters them to its
        partitions. If the input is physically partitioned by ``part_id``
        (see :meth:`with_partition`) that filter reaches the scan and the
        skip is I/O-level — pruned directories are never read.

        ``output_dir``: per-wave DURABLE persistence. Each wave's violations
        and verdicts are written (the wave's ``partition=<p>`` directories
        are deleted, then a dynamic partition overwrite keyed on the logical
        partition — idempotent under wave retry, and a recomputed partition
        with no rows keeps none of an older run's) BEFORE the manifest
        marks the wave complete, so a kill between waves loses nothing: a
        resumed run unions its fresh waves with the skipped partitions' rows
        read back from the sink. Without it, a killed run's completed-wave
        results exist only in the (lost) driver plan — the manifest would
        skip their recomputation and the final output would silently omit
        them.

        Without ``output_dir`` each wave is cached, because the caches back
        the returned DataFrames, and materialized by one ``noop`` write of
        its violations and one of its verdicts. Either way the wave's
        counters are observed on those writes (``pyspark.sql.Observation``)
        and feed the manifest entries (rows, violations, and in ``metrics``
        the drift alarms and max PSI per partition) and the result's
        ``n_rows_validated``, ``n_verdicts``, ``violations_by_check`` and
        ``drift_alarms``.
        Those cover this run's waves only; skipped partitions were counted
        by the run that produced them. ``warnings`` names 0 rows validated
        and any baseline feature that can never alarm.

        Every row this run emits carries a ``run_id`` (reference id-gen
        pattern: main.py:156 ``pred_{uuid4}``); resumed-in rows keep the
        run_id of the run that produced them — lineage per row.
        """
        spark = df.sparkSession
        run_id = f"run_{uuid.uuid4().hex[:12]}"
        physical = PART in df.columns
        dfp = self.with_partition(df)
        if physical:
            # the input's pre-existing part_id is trusted for pruning but NOT
            # for coverage: a table written with more buckets than
            # n_partition_buckets (or with NULL ids) would silently leave
            # rows out of every wave. Derive the wave list from the actual
            # distinct ids instead (one partition-column-only scan).
            vals = [r[0] for r in dfp.select(PART).distinct().collect()]
            if any(v is None for v in vals):
                raise ValueError(
                    f"input column '{PART}' contains NULLs - rows would "
                    "fall into no validation wave"
                )
            all_parts = sorted(int(v) for v in vals)
        else:
            all_parts = list(range(self.config.n_partition_buckets))
        skipped_i: list[int] = []
        if manifest is not None:
            lineage = {**manifest.lineage, **self.lineage()}
            if resume:
                skipped_i = [
                    p for p in all_parts if manifest.is_complete(str(p), lineage)
                ]
        todo = [p for p in all_parts if p not in skipped_i]

        violations_out: DataFrame | None = None
        verdicts_out: DataFrame | None = None
        n_rows_total = 0

        waves = [
            todo[i :: n_waves] for i in range(n_waves)
        ] if n_waves > 1 else [todo]
        waves = [w for w in waves if w]

        # built once: a wave only adds its partition predicate, so the suite
        # is not re-analyzed and re-optimized per wave
        viol_plan = self.violations(dfp, commits_dim).withColumn(
            "run_id", F.lit(run_id)
        )
        verd_plan = self.drift_verdicts(dfp).withColumn("run_id", F.lit(run_id))

        checks = [VIOLATION_CHECK[c] for c in self._active_checks(dfp, commits_dim)]
        by_check = dict.fromkeys(checks, 0)
        alarms = dict.fromkeys(SEVERITIES, 0)
        n_verdicts = 0
        caches: list[DataFrame] = []
        first_wave = True
        for wave in waves:
            in_wave = F.col("partition").isin([str(p) for p in wave])
            viol = viol_plan.where(in_wave)
            verd = verd_plan.where(in_wave)
            if output_dir is None:
                # no sink: the returned DataFrames are backed by these caches
                # (caller releases via SuiteResult.release() when done)
                viol, verd = viol.cache(), verd.cache()
                caches += [viol, verd]
                violations_out = (
                    viol if violations_out is None else violations_out.unionByName(viol)
                )
                verdicts_out = (
                    verd if verdicts_out is None else verdicts_out.unionByName(verd)
                )
            # the wave's counters ride its writes as observed metrics: no
            # count collect, so with a sink nothing needs caching
            viol_obs, verd_obs = Observation(), Observation()
            viol = viol.observe(viol_obs, *_violation_counters(wave, checks))
            verd = verd.observe(verd_obs, *_verdict_counters(wave))
            if output_dir is not None:
                # a fresh (non-resume) run statically overwrites the sink on
                # its first wave (clearing stale partitions from older runs);
                # everything else is a dynamic per-partition overwrite
                dynamic = resume or not first_wave
                for name, wave_df in (("violations", viol), ("verdicts", verd)):
                    _clear_partitions(spark, f"{output_dir}/{name}", wave)
                    self._persist_wave(wave_df, f"{output_dir}/{name}", dynamic)
            else:
                for wave_df in (viol, verd):
                    wave_df.write.format("noop").mode("overwrite").save()
            first_wave = False
            got = {**viol_obs.get, **verd_obs.get}
            # a sum over no matching row reads NULL: count it as 0
            n = {k: int(v or 0) for k, v in got.items() if not k.startswith("max_")}
            for c in checks:
                by_check[c] += n[f"check_{c}"]
            for sev in SEVERITIES:
                alarms[sev] += n[f"alarms_{sev}"]
            n_rows_total += sum(n[f"rows_{p}"] for p in wave)
            n_verdicts += n["verdicts"]
            if manifest is not None:
                for p in wave:
                    manifest.mark_complete(
                        PartitionEntry(
                            partition=str(p),
                            n_rows=n[f"rows_{p}"],
                            n_violations=n[f"violations_{p}"],
                            checks_run=list(self.config.checks),
                            lineage=lineage,
                            metrics={
                                "run_id": run_id,
                                "drift_alarms": n[f"alarms_{p}"],
                                "max_psi": got[f"max_psi_{p}"],
                            },
                        )
                    )

        verd_schema = VERDICT_SCHEMA + ", run_id string"
        if output_dir is not None:
            # authoritative outputs come from the durable sink: every wave of
            # this run plus skipped partitions recovered from prior runs
            # (their rows keep the run_id that produced them). The read is
            # FILTERED to this run's partition set — dynamic overwrite never
            # clears partitions outside the touched waves, so after a bucket-
            # count change (or an input that lost part_ids) the sink can hold
            # stale directories that must not leak into verdicts/summary
            # (ADVICE r3).
            viol_cols = C.empty_violations(spark).columns + ["run_id"]
            verd_cols = [f.split()[0] for f in verd_schema.split(",")]
            violations_out = self._read_sink(
                spark, f"{output_dir}/violations", all_parts, viol_cols
            )
            verdicts_out = self._read_sink(
                spark, f"{output_dir}/verdicts", all_parts, verd_cols
            )
        if violations_out is None:
            violations_out = C.empty_violations(spark).withColumn(
                "run_id", F.lit(run_id)
            )
        if verdicts_out is None:
            verdicts_out = spark.createDataFrame([], verd_schema)
        summary = drift_summary(verdicts_out)
        if output_dir is not None:
            summary.write.mode("overwrite").parquet(f"{output_dir}/summary")
        warnings = [
            f"baseline feature '{f}' can never alarm: {why}"
            for f, why in self.baseline.blind_features().items()
        ]
        if n_rows_total == 0:
            warnings.append("0 rows validated")
        return SuiteResult(
            violations=violations_out,
            verdicts=verdicts_out,
            summary=summary,
            n_rows_validated=n_rows_total,
            skipped_partitions=[str(p) for p in skipped_i],
            n_verdicts=n_verdicts,
            violations_by_check=by_check,
            drift_alarms=alarms,
            warnings=warnings,
            _caches=caches,
        )

    @staticmethod
    def _persist_wave(df: DataFrame, path: str, dynamic: bool) -> None:
        writer = df.write.mode("overwrite").partitionBy("partition")
        if dynamic:
            writer = writer.option("partitionOverwriteMode", "dynamic")
        writer.parquet(path)

    @staticmethod
    def _read_sink(
        spark: SparkSession,
        path: str,
        partitions: list[int] | None,
        columns: list[str],
    ) -> DataFrame | None:
        """Read persisted rows (optionally for specific logical partitions),
        normalized back to the in-memory schema (directory-partition columns
        read back type-inferred as int). ONLY an absent/row-less sink reads
        as None — a genuine read failure (corrupt files, permissions) must
        propagate, otherwise a resume would silently drop completed
        partitions' rows (ADVICE r2)."""
        from pyspark.errors import AnalysisException

        try:
            on_disk = spark.read.parquet(path)
        except AnalysisException:  # PATH_NOT_FOUND / no files to infer from
            return None
        if partitions is not None:
            on_disk = on_disk.where(F.col("partition").isin(partitions))
        return on_disk.withColumn(
            "partition", F.col("partition").cast("string")
        ).select(*columns)


def _clear_partitions(spark: SparkSession, path: str, wave: list[int]) -> None:
    """Delete the sink's ``partition=<p>`` directories of a wave about to be
    rewritten. A dynamic overwrite replaces only the partitions that receive
    rows, so a recomputed partition that now emits none would otherwise keep
    an older run's rows."""
    jvm = spark.sparkContext._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    for p in wave:
        fs.delete(jvm.org.apache.hadoop.fs.Path(root, f"partition={p}"), True)


def _violation_counters(wave: list[int], checks: list[str]) -> list[Column]:
    """Observed on a wave's violations: rows per wave partition and per
    check value."""
    part, check = F.col("partition"), F.col("check")
    return [
        F.count_if(part == F.lit(str(p))).alias(f"violations_{p}") for p in wave
    ] + [F.count_if(check == F.lit(c)).alias(f"check_{c}") for c in checks]


def _verdict_counters(wave: list[int]) -> list[Column]:
    """Observed on a wave's verdicts, per wave partition: input rows (the
    numerical ``content_length`` verdict's ``n_samples`` is its partition's
    row count), drift alarms and the largest PSI (binary features score a
    proportion difference, not a PSI, and are left out); and over the wave,
    verdict rows and drift alarms per severity."""
    part, alarm = F.col("partition"), F.col("drift_detected")
    out = []
    for p in wave:
        here = part == F.lit(str(p))
        out += [
            F.sum(
                F.when(here & (F.col("feature") == F.lit(CONTENT_LEN)), F.col("n_samples"))
            ).alias(f"rows_{p}"),
            F.count_if(here & alarm).alias(f"alarms_{p}"),
            F.max(
                F.when(here & (F.col("kind") != F.lit("categorical_binary")), F.col("psi"))
            ).alias(f"max_psi_{p}"),
        ]
    return out + [F.count(F.lit(1)).alias("verdicts")] + [
        F.count_if(alarm & (F.col("drift_severity") == F.lit(sev))).alias(f"alarms_{sev}")
        for sev in SEVERITIES
    ]
