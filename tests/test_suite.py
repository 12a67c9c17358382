"""End-to-end ValidationSuite: full pass, checkpoint manifest, kill + resume."""

import pytest
from pyspark.sql import functions as F

from mlops_drift_detection_spark.datagen import (
    CodeFilesSpec,
    expected_violation_counts,
    generate_code_files,
    generate_commits,
)
from mlops_drift_detection_spark.plans.manifest import CheckpointManifest
from mlops_drift_detection_spark.plans.suite import SuiteConfig, ValidationSuite


@pytest.fixture(scope="module")
def data(spark):
    spec = CodeFilesSpec(n_rows=4_000, n_repos=40, n_commits=400)
    cf = generate_code_files(spark, spec).cache()
    cm = generate_commits(spark, spec).cache()
    cf.count(), cm.count()
    baseline = ValidationSuite.compute_baseline_snapshot(cf, exact_quantiles=True)
    return spec, cf, cm, baseline


def test_full_pass_counts(data, spark):
    spec, cf, cm, baseline = data
    suite = ValidationSuite(baseline, SuiteConfig(n_partition_buckets=8))
    res = suite.run(cf, cm)
    exp = expected_violation_counts(spec)
    by_check = {
        r["check"]: r["n"]
        for r in res.violations.groupBy("check").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert by_check.get("uniqueness", 0) == exp["duplicates"]
    assert by_check.get("referential", 0) == exp["dangling"]
    assert by_check.get("not_null", 0) == exp["null_lang"]
    assert by_check.get("not_empty", 0) == exp["null_lang"]
    # empty content also violates min-length range rule
    assert by_check.get("range", 0) == exp["null_lang"]
    assert by_check.get("sha256_invariant", 0) == 0
    assert res.n_rows_validated == spec.n_rows + exp["duplicates"]


def test_self_drift_is_none(data):
    """Validating the baseline's own data must not alarm."""
    _, cf, cm, baseline = data
    suite = ValidationSuite(baseline, SuiteConfig(n_partition_buckets=4))
    res = suite.run(cf, cm)
    rows = res.verdicts.collect()
    assert rows and all(not r["drift_detected"] for r in rows)
    assert all(r["severity"] == "low" for r in res.summary.collect())


def test_drifted_batch_alarms(data, spark):
    spec, _, cm, baseline = data
    drifted = generate_code_files(
        spark,
        CodeFilesSpec(n_rows=spec.n_rows, n_repos=spec.n_repos,
                      n_commits=spec.n_commits, drifted=True),
    )
    suite = ValidationSuite(baseline, SuiteConfig(n_partition_buckets=4))
    res = suite.run(drifted, cm)
    verd = {(r["partition"], r["feature"]): r for r in res.verdicts.collect()}
    # every partition must alarm on both features (lang mix + content length)
    for (part, feat), r in verd.items():
        assert r["drift_detected"], (part, feat, r["psi"])
        assert r["drift_severity"] == "high"
    assert res.drift_alarms == {"low": 0, "medium": 0, "high": len(verd)}
    assert all(r["severity"] == "high" for r in res.summary.collect())


class _KilledAfter(CheckpointManifest):
    """Simulates a crash: dies after N partition commits."""

    def __init__(self, directory, lineage=None, die_after=3):
        super().__init__(directory, lineage)
        self._left = die_after

    def mark_complete(self, entry):
        if self._left <= 0:
            raise KeyboardInterrupt("simulated kill")
        self._left -= 1
        super().mark_complete(entry)


def test_kill_and_resume(data, tmp_path):
    spec, cf, cm, baseline = data
    cfg = SuiteConfig(n_partition_buckets=8)
    suite = ValidationSuite(baseline, cfg)
    mdir = str(tmp_path / "manifest")
    lineage = {"input": "fixture-v1", "baseline": "b1"}

    killed = _KilledAfter(mdir, lineage, die_after=3)
    with pytest.raises(KeyboardInterrupt):
        suite.run(cf, cm, manifest=killed, n_waves=8)
    done_entries = killed.completed_partitions()
    done_before = {p.partition for p in done_entries}
    rows_done_before = sum(p.n_rows for p in done_entries)
    assert len(done_before) == 3

    # resume: completed partitions skipped, run finishes, totals correct
    m2 = CheckpointManifest(mdir, lineage)
    res = suite.run(cf, cm, manifest=m2, resume=True, n_waves=8)
    assert set(res.skipped_partitions) == done_before
    totals = m2.totals()
    assert totals["partitions"] == cfg.n_partition_buckets
    exp = expected_violation_counts(spec)
    full_rows = spec.n_rows + exp["duplicates"]
    assert totals["rows"] == full_rows
    # resumed run only validated the remaining rows (no recomputation)
    assert res.n_rows_validated == full_rows - rows_done_before


def test_run_id_stamped(data):
    _, cf, cm, baseline = data
    suite = ValidationSuite(baseline, SuiteConfig(n_partition_buckets=4))
    res = suite.run(cf, cm)
    vids = {r["run_id"] for r in res.violations.select("run_id").distinct().collect()}
    dids = {r["run_id"] for r in res.verdicts.select("run_id").distinct().collect()}
    assert len(vids) == 1 and vids == dids
    assert next(iter(vids)).startswith("run_") and len(next(iter(vids))) == 16


def test_physical_partitioning_prunes_scan(data, spark, tmp_path):
    """With the input written partitionBy(part_id), a wave filter must read
    ONLY the matching directories: distinct input files under the filter are
    a strict subset of the table's files. This is the I/O half of resume —
    the round-1 derived-column filter re-read every file."""
    from mlops_drift_detection_spark.datagen import with_part_id

    spec, cf, cm, baseline = data
    n_buckets = 8
    path = str(tmp_path / "cf_part")
    with_part_id(cf, n_buckets).write.mode("overwrite").partitionBy("part_id").parquet(path)
    on_disk = spark.read.parquet(path)

    total_files = {
        r["f"]
        for r in on_disk.select(F.input_file_name().alias("f")).distinct().collect()
    }
    pruned_files = {
        r["f"]
        for r in on_disk.where(F.col("part_id").isin([0, 1]))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert pruned_files and pruned_files < total_files
    assert all("part_id=0" in f or "part_id=1" in f for f in pruned_files)

    # and the suite actually runs off the physical column: same violation
    # totals as the derived-partition path
    suite = ValidationSuite(baseline, SuiteConfig(n_partition_buckets=n_buckets))
    res = suite.run(on_disk, cm)
    exp = expected_violation_counts(spec)
    assert res.violations.count() == (
        exp["duplicates"] + exp["dangling"] + 3 * exp["null_lang"]
    )


def test_kill_resume_recovers_persisted_wave_rows(data, tmp_path):
    """THE resume-durability property: violations/verdicts of waves completed
    BEFORE a kill must appear in the resumed run's final output (they are
    persisted per wave, pre-manifest-commit — not recomputed, not lost)."""
    spec, cf, cm, baseline = data
    cfg = SuiteConfig(n_partition_buckets=8)
    suite = ValidationSuite(baseline, cfg)
    mdir = str(tmp_path / "manifest")
    odir = str(tmp_path / "out")
    lineage = {"input": "fixture-v1"}

    killed = _KilledAfter(mdir, lineage, die_after=3)
    with pytest.raises(KeyboardInterrupt):
        suite.run(cf, cm, manifest=killed, n_waves=8, output_dir=odir)
    done_before = {p.partition for p in killed.completed_partitions()}
    assert len(done_before) == 3

    m2 = CheckpointManifest(mdir, lineage)
    res = suite.run(cf, cm, manifest=m2, resume=True, n_waves=8, output_dir=odir)
    assert set(res.skipped_partitions) == done_before

    # full-run reference (no manifest): byte-identical violation multiset
    ref = suite.run(cf, cm)
    key = lambda r: (r["partition"], r["check"], r["column"], r["repo"], r["path"], r["commit"], r["detail"])  # noqa: E731
    got = sorted(key(r) for r in res.violations.collect())
    want = sorted(key(r) for r in ref.violations.collect())
    assert got == want
    # verdicts cover every partition, including pre-kill ones
    verd_parts = {r["partition"] for r in res.verdicts.collect()}
    assert done_before <= verd_parts
    # recovered rows keep the ORIGINAL run's id; fresh rows get the new one
    recovered = res.violations.where(F.col("partition").isin(list(done_before)))
    fresh = res.violations.where(~F.col("partition").isin(list(done_before)))
    rid_old = {r["run_id"] for r in recovered.select("run_id").distinct().collect()}
    rid_new = {r["run_id"] for r in fresh.select("run_id").distinct().collect()}
    assert len(rid_old) == 1 and len(rid_new) == 1 and rid_old != rid_new


def test_run_builds_one_plan_and_every_wave_stays_pruned(
    data, spark, tmp_path, monkeypatch
):
    """The violations and verdicts plans are built once per run, not once per
    wave, and each wave's persisted plan still reads only that wave's
    directories: every code-files FileScan carries PartitionFilters naming
    exactly the wave's part_ids."""
    import re

    from mlops_drift_detection_spark.datagen import with_part_id

    _, cf, cm, baseline = data
    path = str(tmp_path / "cf_part")
    with_part_id(cf, 8).write.mode("overwrite").partitionBy("part_id").parquet(path)

    calls = {"violations": 0, "drift_verdicts": 0}

    def counting(name):
        method = getattr(ValidationSuite, name)

        def wrapper(self, *args, **kwargs):
            calls[name] += 1
            return method(self, *args, **kwargs)

        return wrapper

    for name in calls:
        monkeypatch.setattr(ValidationSuite, name, counting(name))
    plans: list[str] = []
    persist = ValidationSuite._persist_wave

    def capturing(df, out, dynamic):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        persist(df, out, dynamic)

    monkeypatch.setattr(ValidationSuite, "_persist_wave", staticmethod(capturing))

    suite = ValidationSuite(baseline, SuiteConfig(n_partition_buckets=8))
    suite.run(
        spark.read.parquet(path), cm, n_waves=4, output_dir=str(tmp_path / "out")
    )
    assert calls == {"violations": 1, "drift_verdicts": 1}

    # waves take the sorted partition ids round-robin; each wave persists
    # its violations, then its verdicts
    waves = [{0, 4}, {1, 5}, {2, 6}, {3, 7}]
    assert len(plans) == 2 * len(waves)
    for i, plan in enumerate(plans):
        scans = [
            line for line in plan.splitlines()
            if "FileScan parquet" in line and "part_id" in line
        ]
        assert scans, plan
        for scan in scans:
            filters = re.search(r"PartitionFilters: \[([^\]]*)\]", scan).group(1)
            named = re.search(r"IN \(([^)]*)\)", filters)
            assert named, scan
            assert {int(v) for v in named.group(1).split(",")} == waves[i // 2]


def test_physical_part_id_beyond_bucket_config_not_lost(data, spark, tmp_path):
    """ADVICE r2: an input written with MORE part_id buckets than the suite
    config must still have every row validated — the wave list derives from
    the actual distinct part_id values, not range(n_partition_buckets)."""
    from mlops_drift_detection_spark.datagen import with_part_id

    spec, cf, cm, baseline = data
    path = str(tmp_path / "cf_16buckets")
    with_part_id(cf, 16).write.mode("overwrite").partitionBy("part_id").parquet(path)
    on_disk = spark.read.parquet(path)
    suite = ValidationSuite(baseline, SuiteConfig(n_partition_buckets=8))
    res = suite.run(on_disk, cm)
    exp = expected_violation_counts(spec)
    assert res.n_rows_validated == spec.n_rows + exp["duplicates"]
    assert res.violations.count() == (
        exp["duplicates"] + exp["dangling"] + 3 * exp["null_lang"]
    )


def test_physical_null_part_id_rejected(data):
    """NULL part ids would fall into no wave — refuse loudly."""
    _, cf, cm, baseline = data
    bad = cf.withColumn(
        "part_id",
        F.when(
            F.xxhash64("repo") % 10 != 0,
            F.pmod(F.xxhash64("repo"), F.lit(4)).cast("int"),
        ),
    )
    suite = ValidationSuite(baseline, SuiteConfig(n_partition_buckets=4))
    with pytest.raises(ValueError, match="NULL"):
        suite.run(bad, cm)


def test_read_sink_distinguishes_absent_from_corrupt(spark, tmp_path):
    """ADVICE r2: an absent sink reads as None (resume proceeds), but a
    corrupt sink must RAISE — swallowing it would silently drop completed
    partitions' rows from the resumed output."""
    assert (
        ValidationSuite._read_sink(spark, str(tmp_path / "nope"), None, ["partition"])
        is None
    )
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"garbage not parquet")
    with pytest.raises(Exception, match="(?i)parquet|aborted|footer"):
        df = ValidationSuite._read_sink(spark, str(bad), None, ["partition"])
        if df is not None:  # read may fail lazily at action time
            df.collect()


def test_wave_caches_released_when_sink_present(data, tmp_path, spark, monkeypatch):
    """VERDICT r2 #4: with an output sink, no wave is cached at all. The
    counters ride the writes, so no RDD holds blocks at any wave write, and
    none survives run()."""
    _, cf, cm, baseline = data
    storage = lambda: {  # noqa: E731
        r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }
    before = storage()
    cached_at_write: list[set] = []
    persist = ValidationSuite._persist_wave

    def checking(df, out, dynamic):
        cached_at_write.append(storage() - before)
        persist(df, out, dynamic)

    monkeypatch.setattr(ValidationSuite, "_persist_wave", staticmethod(checking))
    suite = ValidationSuite(baseline, SuiteConfig(n_partition_buckets=4))
    res = suite.run(cf, cm, output_dir=str(tmp_path / "out"), n_waves=2)
    assert cached_at_write == [set()] * 4, "a wave write found cached RDD blocks"
    assert storage() <= before, "run() leaked cached RDD blocks despite durable sink"
    assert res._caches == []
    # and the sink-backed outputs are complete
    assert res.violations.count() > 0 and res.verdicts.count() > 0


def test_sink_backed_wave_runs_at_most_six_jobs(data, spark, tmp_path, monkeypatch):
    """A sink-backed wave costs its two writes' jobs and nothing else: its
    counters are observed on the writes (no count collects, no cache), the
    referential build side has no ``distinct`` and the drift spec is a plan
    literal (no broadcast job). Inputs are parquet, as the CLI reads them."""
    from mlops_drift_detection_spark.datagen import with_part_id

    _, cf, cm, baseline = data
    path, dim = str(tmp_path / "cf_part"), str(tmp_path / "commits")
    with_part_id(cf, 8).write.mode("overwrite").partitionBy("part_id").parquet(path)
    cm.write.mode("overwrite").parquet(dim)

    next_job = spark.sparkContext._jsc.sc().dagScheduler().nextJobId
    starts: list[int] = []
    ends: list[int] = []
    persist = ValidationSuite._persist_wave

    def marking(df, out, dynamic):
        if out.endswith("/violations"):  # each wave writes violations first
            starts.append(next_job())
        persist(df, out, dynamic)

    class Marking(CheckpointManifest):
        def mark_complete(self, entry):
            if len(ends) < len(starts):  # the wave's first commit ends it
                ends.append(next_job())
            super().mark_complete(entry)

    monkeypatch.setattr(ValidationSuite, "_persist_wave", staticmethod(marking))
    suite = ValidationSuite(baseline, SuiteConfig(n_partition_buckets=8))
    suite.run(
        spark.read.parquet(path),
        spark.read.parquet(dim),
        manifest=Marking(str(tmp_path / "manifest")),
        n_waves=4,
        output_dir=str(tmp_path / "out"),
    )
    per_wave = [e - s for s, e in zip(starts, ends)]
    assert len(per_wave) == 4
    assert max(per_wave) <= 6, per_wave


@pytest.mark.parametrize("sink", [False, True], ids=["no_sink", "sink"])
def test_observed_counters_match_outputs(data, spark, tmp_path, sink):
    """The observed counters equal a groupBy over the run's outputs: manifest
    n_rows per partition against the input, n_violations against the
    returned violations, per-partition drift alarms and max PSI against the
    returned verdicts, and the run totals. The last wave ({3, 7}) has its
    flagged rows removed, so its counters read zero violations."""
    spec, cf, cm, baseline = data
    suite = ValidationSuite(baseline, SuiteConfig(n_partition_buckets=8))
    keys = ["repo", "path", "commit"]
    flagged = (
        suite.violations(suite.with_partition(cf), cm)
        .where(F.col("partition").isin("3", "7"))
        .select(*keys)
    )
    clean = cf.join(flagged, keys, "left_anti").cache()
    manifest = CheckpointManifest(str(tmp_path / "manifest"))
    res = suite.run(
        clean, cm, manifest=manifest, n_waves=4,
        output_dir=str(tmp_path / "out") if sink else None,
    )
    parts = [str(p) for p in range(8)]
    entries = {e.partition: e for e in manifest.completed_partitions()}
    assert sorted(entries) == parts

    def by(df, key, agg):
        return {r[key]: r["n"] for r in df.groupBy(key).agg(agg.alias("n")).collect()}

    rows = by(
        suite.with_partition(clean).withColumn("p", F.col("part_id").cast("string")),
        "p", F.count(F.lit(1)),
    )
    viol = by(res.violations, "partition", F.count(F.lit(1)))
    alarms = by(res.verdicts, "partition", F.count_if("drift_detected"))
    max_psi = by(
        res.verdicts, "partition",
        F.max(F.when(F.col("kind") != "categorical_binary", F.col("psi"))),
    )
    assert {p: entries[p].n_rows for p in parts} == {p: rows.get(p, 0) for p in parts}
    assert {p: entries[p].n_violations for p in parts} == {
        p: viol.get(p, 0) for p in parts
    }
    assert entries["3"].n_violations == entries["7"].n_violations == 0
    assert entries["3"].n_rows > 0 and entries["7"].n_rows > 0
    assert {p: entries[p].metrics["drift_alarms"] for p in parts} == {
        p: alarms.get(p, 0) for p in parts
    }
    assert {p: entries[p].metrics["max_psi"] for p in parts} == {
        p: max_psi.get(p) for p in parts
    }
    assert res.n_rows_validated == sum(rows.values())
    assert res.n_verdicts == res.verdicts.count()
    by_check = by(res.violations, "check", F.count(F.lit(1)))
    assert res.violations_by_check == {
        c: by_check.get(c, 0)
        for c in (
            "uniqueness", "referential", "not_null", "not_empty", "range", "regex",
            "sha256_invariant",
        )
    }
    assert sum(res.violations_by_check.values()) == sum(viol.values())
    assert res.drift_alarms == {"low": 0, "medium": 0, "high": 0}
    assert res.warnings == []
    res.release()
    clean.unpersist()


def test_warnings_name_empty_input_and_blind_baseline_features(data):
    """An empty input validates 0 rows, and a baseline feature with all-zero
    bin counts or no categories can never alarm: each lands in warnings."""
    from dataclasses import replace

    from mlops_drift_detection_spark.baseline import CategoricalBaseline

    _, cf, cm, baseline = data
    nb = baseline.numerical["content_length"]
    blind = replace(
        baseline,
        numerical={"content_length": replace(nb, counts=[0.0] * len(nb.counts))},
        categorical={"lang": CategoricalBaseline([], [], [])},
    )
    suite = ValidationSuite(blind, SuiteConfig(n_partition_buckets=4))
    res = suite.run(cf.limit(0), cm, n_waves=2)
    assert res.n_rows_validated == 0
    assert res.warnings == [
        "baseline feature 'content_length' can never alarm: "
        "all baseline bin counts are zero",
        "baseline feature 'lang' can never alarm: the baseline has no categories",
        "0 rows validated",
    ]
    assert ValidationSuite(baseline).run(cf, cm).warnings == []


def test_resume_refuses_stale_lineage(data, tmp_path):
    _, cf, cm, baseline = data
    mdir = str(tmp_path / "manifest2")
    suite = ValidationSuite(baseline, SuiteConfig(n_partition_buckets=4))
    m1 = CheckpointManifest(mdir, {"input": "v1"})
    suite.run(cf, cm, manifest=m1)
    # lineage changed -> nothing may be skipped
    m2 = CheckpointManifest(mdir, {"input": "v2-CHANGED"})
    res = suite.run(cf, cm, manifest=m2, resume=True)
    assert res.skipped_partitions == []


def test_resume_checks_suite_lineage_without_manifest_lineage(data, tmp_path):
    """A manifest built with no lineage of its own still refuses results of
    another config: suite.run checks and stamps the suite's lineage itself,
    so only an unchanged suite skips."""
    _, cf, cm, baseline = data
    mdir = str(tmp_path / "manifest")
    suite = ValidationSuite(baseline, SuiteConfig(n_partition_buckets=4))
    suite.run(cf, cm, manifest=CheckpointManifest(mdir))
    same = suite.run(cf, cm, manifest=CheckpointManifest(mdir), resume=True)
    assert sorted(same.skipped_partitions) == ["0", "1", "2", "3"]
    changed = ValidationSuite(
        baseline, SuiteConfig(n_partition_buckets=4, psi_threshold=0.25)
    )
    res = changed.run(cf, cm, manifest=CheckpointManifest(mdir), resume=True)
    assert res.skipped_partitions == []


def test_resume_recomputes_under_changed_engine_version(data, tmp_path, monkeypatch):
    from mlops_drift_detection_spark.plans import suite as suite_mod

    _, cf, cm, baseline = data
    mdir = str(tmp_path / "manifest")
    suite = ValidationSuite(baseline, SuiteConfig(n_partition_buckets=4))
    suite.run(cf, cm, manifest=CheckpointManifest(mdir, {"input": "v1"}))
    monkeypatch.setattr(suite_mod, "__version__", "0.0.0-other", raising=False)
    res = suite.run(
        cf, cm, manifest=CheckpointManifest(mdir, {"input": "v1"}), resume=True
    )
    assert res.skipped_partitions == []
    entries = CheckpointManifest(mdir).completed_partitions()
    assert {e.lineage["engine_version"] for e in entries} == {"0.0.0-other"}


def test_sink_read_excludes_stale_partitions(data, tmp_path):
    """ADVICE r3: the final sink read must be scoped to THIS run's partition
    set. Dynamic partition overwrite never clears untouched directories, so
    after n_partition_buckets shrinks (8 -> 4) the sink still holds the old
    run's partitions 4..7 — those rows must not leak into the new run's
    verdicts/violations/summary."""
    _, cf, cm, baseline = data
    out = str(tmp_path / "sink")
    wide = ValidationSuite(baseline, SuiteConfig(n_partition_buckets=8))
    wide.run(cf, cm, output_dir=out)
    narrow = ValidationSuite(baseline, SuiteConfig(n_partition_buckets=4))
    res = narrow.run(cf, cm, output_dir=out)
    vparts = {r["partition"] for r in res.verdicts.select("partition").distinct().collect()}
    assert vparts == {"0", "1", "2", "3"}, f"stale partitions leaked: {vparts}"
    viparts = {
        r["partition"] for r in res.violations.select("partition").distinct().collect()
    }
    assert viparts <= {"0", "1", "2", "3"}
    # exactly one verdict run_id: nothing resumed in from the 8-bucket run
    assert res.verdicts.select("run_id").distinct().count() == 1


def test_resume_under_changed_checks_drops_stale_violation_rows(data, tmp_path):
    """A resume under a changed lineage recomputes every partition, and the
    sink then holds only the new run's rows: a partition whose recomputed
    wave emits no violations keeps none of the previous run's."""
    _, cf, cm, baseline = data
    out, mdir = str(tmp_path / "out"), str(tmp_path / "manifest")
    full = ValidationSuite(baseline, SuiteConfig(n_partition_buckets=4))
    first = full.run(
        cf, cm, manifest=CheckpointManifest(mdir, full.lineage()), n_waves=2, output_dir=out
    )
    assert first.violations.where(F.col("check") != "regex").count() > 0
    narrow = ValidationSuite(
        baseline, SuiteConfig(n_partition_buckets=4, checks=("commit_format",))
    )
    res = narrow.run(
        cf,
        cm,
        manifest=CheckpointManifest(mdir, narrow.lineage()),
        resume=True,
        n_waves=2,
        output_dir=out,
    )
    assert res.skipped_partitions == []
    key = lambda r: (r["partition"], r["check"], r["repo"], r["path"], r["commit"])  # noqa: E731
    want = sorted(key(r) for r in narrow.run(cf, cm).violations.collect())
    assert sorted(key(r) for r in res.violations.collect()) == want
    assert {k[1] for k in want} <= {"regex"}


def test_unknown_check_names_rejected():
    """A misspelt check name fails loudly instead of silently running no
    check; the error names each unknown check and the valid ones."""
    with pytest.raises(ValueError, match="uniquness.*not_null'.*commit_format") as e:
        SuiteConfig(checks=("uniquness", "not_null", "commit_format"))
    assert "'commit_format'" not in str(e.value).split("valid")[0]
    assert SuiteConfig(checks=("commit_format",)).checks == ("commit_format",)


def test_code_validation_oracle_constants_track_fixture_arithmetic():
    """The catalog entry `code_validation_counts` compares the suite's
    violation counts against LITERAL constants in its DuckDB oracle
    (planted-parameter oracle). This test re-derives those constants from
    `expected_violation_counts` at the query's pinned fixture size, so
    changing _CODE_VALIDATION_N_ROWS (or the planted rates) without
    updating the SQL fails HERE, not in the driver gate."""
    import re

    from mlops_drift_detection_spark.queries import (
        _CODE_VALIDATION_N_ROWS,
        SQL_CODE_VALIDATION_COUNTS,
    )

    exp = expected_violation_counts(CodeFilesSpec(n_rows=_CODE_VALIDATION_N_ROWS))
    want = {
        "uniqueness": exp["duplicates"],
        "referential": exp["dangling"],
        "not_null": exp["null_lang"],
        "not_empty": exp["null_lang"],
        "range": exp["null_lang"],
    }
    got = {
        check: int(n)
        for check, n in re.findall(
            r"\('(\w+)',\s*'[^']*',\s*CAST\((\d+) AS BIGINT\)\)",
            SQL_CODE_VALIDATION_COUNTS,
        )
    }
    assert got == want


@pytest.fixture(scope="module")
def cli_input(spark, tmp_path_factory):
    from mlops_drift_detection_spark.datagen import write_fixture

    d = tmp_path_factory.mktemp("cli_lineage")
    spec = CodeFilesSpec(n_rows=2_000, n_repos=20, n_commits=200)
    paths = write_fixture(spark, str(d / "fixture"), spec)
    baseline = ValidationSuite.compute_baseline_snapshot(
        spark.read.parquet(paths["code_files"])
    )
    return paths, baseline


@pytest.fixture
def restore_conf(spark):
    """cli.main reuses the test session through get_spark, which re-applies
    its runtime confs (shuffle partitions among them): put them back."""
    before = dict(spark.conf.getAll)
    yield
    for key, value in before.items():
        if spark.conf.get(key, None) != value:
            spark.conf.set(key, value)


def _cli(argv: list[str]) -> dict:
    import contextlib
    import io
    import json

    from mlops_drift_detection_spark import cli

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert cli.main(argv) == 0
    return json.loads(buf.getvalue().strip().splitlines()[-1])


@pytest.mark.parametrize(
    "change",
    [None, "baseline", "psi_threshold", "max_content_length", "commit_regex"],
    ids=["unchanged", "baseline", "psi_threshold", "max_content_length", "commit_regex"],
)
def test_cli_resume_recomputes_under_changed_lineage(
    cli_input, tmp_path, monkeypatch, restore_conf, change
):
    """A CLI resume skips completed partitions only when the baseline and
    every suite-config field are unchanged; a change to any one of them
    forces a full recompute rather than mixing results of two setups."""
    import functools
    import json

    from mlops_drift_detection_spark.plans import suite as suite_mod

    paths, baseline = cli_input
    baseline_path = str(tmp_path / "baseline.json")
    baseline.save(baseline_path)
    argv = [
        "--input", paths["code_files"],
        "--commits-dim", paths["commits"],
        "--baseline", baseline_path,
        "--manifest-dir", str(tmp_path / "manifest"),
        "--output", str(tmp_path / "out"),
        "--n-buckets", "4",
        "--n-waves", "2",
    ]
    fresh = _cli(argv)
    assert fresh["skipped_partitions"] == 0 and fresh["rows_validated"] > 0

    if change == "baseline":
        with open(baseline_path) as f:
            snap = json.load(f)
        snap["numerical"]["content_length"]["mean"] += 1.0
        with open(baseline_path, "w") as f:
            json.dump(snap, f)
    elif change is not None:
        new_value = {
            "psi_threshold": 0.25,
            "max_content_length": 5_000_000.0,
            "commit_regex": "^[0-9a-f]{7,40}$",
        }[change]
        monkeypatch.setattr(
            suite_mod,
            "SuiteConfig",
            functools.partial(suite_mod.SuiteConfig, **{change: new_value}),
        )
    resumed = _cli(argv + ["--resume"])
    # a fresh run reports its observed counters, a resume counts its outputs;
    # none of these changes moves a violation or a verdict row count
    assert (resumed["violations"], resumed["verdicts"]) == (
        fresh["violations"], fresh["verdicts"]
    )
    if change is None:
        assert resumed["skipped_partitions"] == 4
        assert resumed["rows_validated"] == 0
        assert resumed["warnings"] == ["0 rows validated"]
    else:
        assert resumed["skipped_partitions"] == 0
        assert resumed["rows_validated"] == fresh["rows_validated"]
