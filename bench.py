#!/usr/bin/env python3
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR plus the full
constraint+drift validation pass (the north-rule metric) over a generated
code_files table.

Prints ONE JSON line:
  {"metric": "headline_total", "value": <sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": <sf>,
   "validated_rows_per_sec": <rows/s>, "validated_rows": N}

Usage: python bench.py [--rows N] [--cpus N] [--skip-fullpass]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# PINNED since round 1 — do not append: round-over-round deltas must be
# like-for-like. New catalog queries are correctness-gated via the oracle
# board, not the headline timing list.
HEADLINE = [
    "stats_moments",
    "stats_quantiles",
    "histogram_nchars",
    "psi_lang_split",
    "psi_nchars_split",
    "drift_verdicts",
    "uniqueness_events",
    "referential_orders",
    "pricing_summary",
    "segment_revenue",
    "daily_event_windows",
    "dedup_fingerprint_groups",
    "cosine_topk",
    "text_quality_profile",
    "token_counts_by_source",
    # minhash_lsh_jaccard stays in the correctness catalog but not the
    # headline: the synthetic corpus's tiny vocabulary makes truly-similar
    # pairs (the OUTPUT) quadratic in table size, so at sf0.1 the query
    # measures pair-list materialization, not the LSH pipeline.
]

# Second pinned group (VERDICT r4 #1), NEW BASELINE AT ROUND 5 — the
# LLM-data-pipeline operators this engine exists for: dedup, clustering,
# curation, temporal, sampling. Same warmup discipline as HEADLINE (the
# warmup job runs before whichever group executes first); timed at the same
# $SPARK_GRAFT_SF_DIR. Pinned — do not append; like HEADLINE, deltas must be
# like-for-like round over round. minhash_lsh_jaccard is included per the
# judge's list with the caveat above: at sf0.1 its wall time is dominated by
# the (quadratic-by-construction) output pair list, so read its trend, not
# its absolute.
PIPELINE_GROUP = [
    "minhash_lsh_jaccard",
    "simhash_neardup",
    "neardup_clusters",
    "curated_corpus_stats",
    "curated_neardup_corpus",
    "sessionized_events_split",
    "asof_join_events",
    "weighted_sample_docs",
    "winnow_fingerprint_pairs",
]

# UNPINNED extras: catalog queries added after their group baselines froze.
# Timed so brand-new operators carry wall-time signal from their first round
# (the gap VERDICT r4 #2 flagged), WITHOUT appending to a pinned group —
# entries here graduate into a new pinned group only when a round explicitly
# declares a new baseline for it.
EXTRAS_GROUP = [
    "gopher_repetition_profile",
    "decontamination_overlap",
    "decontaminated_corpus_stats",
    "streaming_dedup_counts",
    "packing_efficiency",
    "pii_redaction_profile",
    "sampling_mixture_weights",
    "unigram_perplexity_profile",
    "cross_source_dup_rate",
    "tfidf_top_terms",
    "code_validation_counts",
    "stack_filter_profile",
    "wasserstein_nchars_split",
    "chisq_lang_split",
    "quantile_shift_drift",
    "secrets_scan_profile",
    "jsd_lang_split",
    "license_filter_profile",
    "dsir_importance_weights",
    "dup_span_profile",
    "fd_source_lang_check",
    "semdedup_clusters",
    "json_conformance_profile",
    "volume_anomaly_check",
    "source_fork_pairs",
    "containment_join",
    "order_reconciliation",
    "json_schema_drift",
    "funnel_conversion",
    "cohort_retention",
    "benford_first_digit",
    "k_anonymity_events",
    "cusum_changepoint",
]

BENCH_DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_data")


def _get_spark(cpus: int):
    from mlops_drift_detection_spark.session import get_spark

    return get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
        # Driver heap comes from get_spark (SPARK_DRIVER_MEMORY, default 8g).
        # Finer splits: the local fixtures are ~20 MB files — at the 128m
        # default they pack into too few scan tasks to feed 32 cores
        # (measured 1.7x slowdown).
        extra_conf={"spark.sql.files.maxPartitionBytes": "48m"},
    )


def ensure_code_fixture(spark, n_rows: int) -> dict[str, str]:
    """Generate (once) and reuse the deterministic code_files fixture."""
    from mlops_drift_detection_spark.datagen import CodeFilesSpec, write_fixture

    tag = f"rows{n_rows}"
    out_dir = os.path.join(BENCH_DATA_DIR, tag)
    marker = os.path.join(out_dir, "_DONE")
    paths = {
        "code_files": f"{out_dir}/code_files",
        "commits": f"{out_dir}/commits",
    }
    if os.path.exists(marker):
        return paths
    spec = CodeFilesSpec(
        n_rows=n_rows,
        n_repos=max(100, n_rows // 5000),
        n_commits=max(1000, n_rows // 50),
        partitions=64,
    )
    paths = write_fixture(spark, out_dir, spec)
    with open(marker, "w") as f:
        f.write(tag)
    return paths


def _warm_up(spark, sf_dir: str) -> None:
    """JVM/JIT warmup (standard bench discipline): one untimed job through
    codegen + the parquet reader + a shuffle, so the FIRST timed query
    measures its plan, not interpreter-tier JIT and classloading. Runs once
    before whichever group is timed first; disclosed in BENCH.md."""
    from pyspark.sql import functions as F

    spark.range(2_000_000).groupBy((F.col("id") % 16).alias("k")).agg(
        F.sum("id"), F.avg("id")
    ).collect()
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()


def time_queries(spark, sf_dir: str, names: list[str]) -> dict[str, float]:
    """Wall seconds per catalog query, each executed in full by a ``noop``
    write. A ``count()`` would let Catalyst prune every column and
    expression the count does not need, so it times less than the query."""
    from mlops_drift_detection_spark.queries import QUERIES

    out = {}
    for name in names:
        t0 = time.time()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        out[name] = round(time.time() - t0, 3)
    return out


def run_full_pass(spark, paths: dict[str, str], n_rows: int) -> dict:
    """The north-rule metric: validated rows/sec, full constraint+drift pass.

    Config is PINNED to the one BENCH.md's scaling table documents
    (32 buckets, maxPartitionBytes=48m) so this number is
    comparable across rounds AND against the recorded 2M/32M reference
    points — fixed overheads dominate at 2M (see BENCH.md "expected at 2M"),
    so compare like scale with like scale."""
    from mlops_drift_detection_spark.plans.suite import SuiteConfig, ValidationSuite

    from pyspark.sql import functions as F

    cf = spark.read.parquet(paths["code_files"])
    cm = spark.read.parquet(paths["commits"])
    # untimed warm scan (disclosed in BENCH.md): pulls the fixture into the
    # OS page cache so the timed pass measures the engine, not whether a
    # prior process evicted the parquet (cold cache measured 3-4x slower
    # for the IDENTICAL pass)
    cf.select(F.sum(F.length("content"))).collect()
    baseline = ValidationSuite.compute_baseline_snapshot(cf)
    cfg = SuiteConfig(n_partition_buckets=32)
    suite = ValidationSuite(baseline, cfg)
    t0 = time.time()
    res = suite.run(cf, cm)
    elapsed = time.time() - t0
    res.release()
    return {
        "validated_rows": res.n_rows_validated,
        "violations": sum(res.violations_by_check.values()),
        "verdicts": res.n_verdicts,
        "fullpass_sec": round(elapsed, 3),
        "validated_rows_per_sec": round(res.n_rows_validated / elapsed, 1),
        "fullpass_config": {
            "rows": n_rows,
            "n_buckets": cfg.n_partition_buckets,
            "max_partition_bytes": "48m",
        },
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=int(os.environ.get("BENCH_ROWS", "2000000")))
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--skip-fullpass", action="store_true")
    ap.add_argument("--skip-headline", action="store_true")
    ap.add_argument("--skip-pipeline", action="store_true")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else 0.0

    spark = _get_spark(args.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    per_query: dict[str, float] = {}
    pipeline_q: dict[str, float] = {}
    extras_q: dict[str, float] = {}
    if not (args.skip_headline and args.skip_pipeline):
        _warm_up(spark, sf_dir)
        if not args.skip_headline:
            per_query = time_queries(spark, sf_dir, HEADLINE)
        if not args.skip_pipeline:
            pipeline_q = time_queries(spark, sf_dir, PIPELINE_GROUP)
        # extras ride with whichever pinned group ran; a reps-only invocation
        # (both groups skipped) stays extras-free so scaling runs time
        # nothing but the full pass
        extras_q = time_queries(spark, sf_dir, EXTRAS_GROUP)

    out = {
        "metric": "headline_total",
        "value": round(sum(per_query.values()), 3),
        "unit": "sec",
        "queries": per_query,
        "pipeline_total": round(sum(pipeline_q.values()), 3),
        "pipeline_queries": pipeline_q,
        "extras_total": round(sum(extras_q.values()), 3),
        "extras_queries": extras_q,
        "sf": sf,
        "cpus": args.cpus,
    }

    if not args.skip_fullpass:
        paths = ensure_code_fixture(spark, args.rows)
        out.update(run_full_pass(spark, paths, args.rows))

    print(json.dumps(out))


if __name__ == "__main__":
    main()
