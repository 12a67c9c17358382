"""spark-submit entrypoint for the full constraint + drift validation pass.

Usage (cluster):

    zip -r engine.zip mlops_drift_detection_spark
    spark-submit --py-files engine.zip \
        mlops_drift_detection_spark/cli.py \
        --input  s3://bucket/code_files \
        --commits-dim s3://bucket/commits \
        --baseline /path/baseline.json \
        --manifest-dir /path/manifest \
        --output /path/out \
        [--resume] [--n-buckets 256] [--n-waves 8]

Local smoke:

    python -m mlops_drift_detection_spark.cli --generate-rows 100000 \
        --workdir /tmp/vrun

Behavior (north_rule): reads the code-files table, computes or loads the
frozen baseline snapshot, runs every constraint + drift check as declarative
DataFrame plans, writes violations/verdicts/summary parquet, and checkpoints
each completed partition wave into the manifest so a killed run re-invoked
with ``--resume`` skips finished partitions (their slice is pruned before the
scan) as long as the input path, the baseline and the suite config are
unchanged. Prints one JSON status line for orchestration: row, violation and
verdict counts, the violations per check and drift alarms per severity of
this run's waves, and warnings (0 rows validated, a baseline feature that can
never alarm).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="constraint + drift validation pass")
    ap.add_argument("--input", help="code_files table path (parquet/iceberg)")
    ap.add_argument("--commits-dim", help="commits dimension table path")
    ap.add_argument("--baseline", help="baseline snapshot JSON (computed if absent)")
    ap.add_argument("--manifest-dir", help="checkpoint manifest directory")
    ap.add_argument("--output", help="output dir for violations/verdicts/summary")
    ap.add_argument("--resume", action="store_true", help="skip manifest-complete partitions")
    ap.add_argument(
        "--partition-input",
        action="store_true",
        help="rewrite the input hive-partitioned by part_id before validating "
        "(one extra pass; wave/resume filters then PRUNE partitions at the "
        "scan instead of re-reading everything — worth it for any input that "
        "will be resumed or validated more than once)",
    )
    ap.add_argument("--n-buckets", type=int, default=64, help="logical partition buckets")
    ap.add_argument("--n-waves", type=int, default=4, help="checkpoint waves per run")
    ap.add_argument("--master", default=None, help="override spark master")
    ap.add_argument("--generate-rows", type=int, default=0,
                    help="local smoke: generate a fixture of N rows under --workdir")
    ap.add_argument("--workdir", default="/tmp/mlops-drift-run")
    args = ap.parse_args(argv)

    from mlops_drift_detection_spark.baseline import BaselineSnapshot
    from mlops_drift_detection_spark.plans.manifest import CheckpointManifest
    from mlops_drift_detection_spark.plans.suite import SuiteConfig, ValidationSuite
    from mlops_drift_detection_spark.session import get_spark

    spark = get_spark(app_name="validation-pass", master=args.master)
    spark.sparkContext.setLogLevel("WARN")

    if args.generate_rows:
        from mlops_drift_detection_spark.datagen import CodeFilesSpec, write_fixture

        spec = CodeFilesSpec(
            n_rows=args.generate_rows,
            n_repos=max(100, args.generate_rows // 5000),
            n_commits=max(1000, args.generate_rows // 50),
        )
        paths = write_fixture(spark, os.path.join(args.workdir, "fixture"), spec)
        args.input = args.input or paths["code_files"]
        args.commits_dim = args.commits_dim or paths["commits"]
        args.output = args.output or os.path.join(args.workdir, "out")
        args.manifest_dir = args.manifest_dir or os.path.join(args.workdir, "manifest")

    if not args.input:
        ap.error("--input is required (or --generate-rows for a local smoke run)")

    cf = spark.read.parquet(args.input)
    if args.partition_input and "part_id" not in cf.columns:
        from mlops_drift_detection_spark.datagen import with_part_id

        part_path = os.path.join(args.workdir, "input_partitioned")
        with_part_id(cf, args.n_buckets).write.mode("overwrite").partitionBy(
            "part_id"
        ).parquet(part_path)
        cf = spark.read.parquet(part_path)
        # the partitioned copy IS the validated input from here on — record
        # it as the manifest lineage so a later `--input <part_path> --resume`
        # run is lineage-compatible and can skip completed partitions
        args.input = part_path
    cm = spark.read.parquet(args.commits_dim) if args.commits_dim else None

    if args.baseline and os.path.exists(args.baseline):
        baseline = BaselineSnapshot.load(args.baseline)
    else:
        baseline = ValidationSuite.compute_baseline_snapshot(cf)
        if args.baseline:
            baseline.save(args.baseline)

    cfg = SuiteConfig(n_partition_buckets=args.n_buckets)
    suite = ValidationSuite(baseline, cfg)

    manifest = None
    if args.manifest_dir:
        # a resume reuses only results of the same input; suite.run adds the
        # baseline, config and engine version
        manifest = CheckpointManifest(args.manifest_dir, lineage={"input": args.input})

    t0 = time.time()
    # output is persisted PER WAVE inside run() (durable before each manifest
    # commit — a kill between waves loses nothing), not once at the end
    res = suite.run(
        cf, cm, manifest=manifest, resume=args.resume, n_waves=args.n_waves,
        output_dir=args.output,
    )
    if args.resume:
        # the outputs hold rows of earlier runs too: count them
        n_viol, n_verd = res.violations.count(), res.verdicts.count()
    else:
        # a fresh run's outputs are exactly its waves, already counted
        n_viol = sum(res.violations_by_check.values())
        n_verd = res.n_verdicts
    elapsed = time.time() - t0

    print(
        json.dumps(
            {
                "status": "ok",
                "rows_validated": res.n_rows_validated,
                "violations": n_viol,
                "verdicts": n_verd,
                "skipped_partitions": len(res.skipped_partitions),
                # counters of this run's waves only (skipped partitions'
                # results were counted by the run that produced them)
                "violations_by_check": res.violations_by_check,
                "drift_alarms": res.drift_alarms,
                "warnings": res.warnings,
                "elapsed_sec": round(elapsed, 3),
                "rows_per_sec": round(res.n_rows_validated / elapsed, 1)
                if elapsed > 0
                else None,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
