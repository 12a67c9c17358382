#!/usr/bin/env python3
"""Physical-plan audit: dump `.explain("formatted")` for the headline
queries, grade each plan against the scale checklist, and ENFORCE per-query
plan invariants (VERDICT r4 #4 — the audit must be falsifiable).

Two layers:

* soft checklist (informational, printed per plan): pruned scan schema,
  whole-stage codegen, partial aggregation, AQE wrapper, broadcast joins.
* hard EXPECTED invariants (the audit FAILS — nonzero exit — on mismatch):
  exact `Scan parquet` count in the plan tree (locks the single-scan
  rewrites of curated_corpus_stats / dedup_keep_min_by_lang: a regression
  to the r3 double-scan shape fails the audit), exact Exchange count (a
  new shuffle cannot sneak in silently), WindowGroupLimit presence for
  keep-min/top-k plans (the per-partition limit pushdown is the thing that
  makes them scale), required plan substrings (e.g. the split operators'
  `__chunk` hash partitioning), capped substring counts (e.g. one `ln(`
  — one PSI tree — in the fused drift plan), and a global
  no-CartesianProduct rule.
  `BroadcastNestedLoopJoin` is tolerated ONLY where recorded in EXPECTED
  (`bnlj=True`) — those are scalar 1-row broadcast crossJoins, audited by
  hand; an unexpected BNLJ anywhere else fails.

Writes EXPLAIN.md. Run: python tools/explain_audit.py [sf_dir]
Exit status: 0 iff every expected invariant holds.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# name -> dict of hard invariants, derived from the audited-good plans at
# sf0.01 (round 5). scans/exch are EXACT counts over the plan-tree section;
# wgl is WindowGroupLimit presence; bnlj=True whitelists the scalar 1-row
# broadcast crossJoin that query is known to carry; "contains" are
# substrings that must appear in the FULL formatted plan; "max_count" maps a
# substring to the most times it may appear there.
EXPECTED: dict[str, dict] = {
    "stats_moments": {"scans": 1, "exch": 1},
    "histogram_nchars": {"scans": 1, "exch": 1},
    "drift_verdicts": {"scans": 2, "exch": 5, "bnlj": True},
    "uniqueness_events": {"scans": 1, "exch": 1},
    "referential_orders": {"scans": 2, "exch": 2},
    "segment_revenue": {"scans": 3, "exch": 4},
    "pricing_summary": {"scans": 1, "exch": 1},
    "time_window_counts": {"scans": 2, "exch": 3, "bnlj": True},
    "dedup_fingerprint_groups": {"scans": 1, "exch": 1},
    "cosine_topk": {"scans": 2, "exch": 3, "wgl": True, "bnlj": True},
    # exch 3 since the r5 codegen rewrite: simhash votes moved from a per-row
    # HOF accumulator (CodegenFallback) to explode+groupBy(id) — the extra
    # exchange collapses to ~one 64-long row/doc via map-side partial agg,
    # traded for keeping 64x|tokens| hash/vote evals inside codegen
    "simhash_neardup": {"scans": 1, "exch": 3},
    "ann_lsh_topk": {"scans": 2, "exch": 6, "wgl": True, "bnlj": True},
    "salted_source_stats": {"scans": 1, "exch": 2},
    "embedding_neardup_lsh": {"scans": 4, "exch": 9, "bnlj": True},
    "ann_ivf_topk": {"scans": 4, "exch": 7, "wgl": True, "bnlj": True},
    "column_profile": {"scans": 1, "exch": 1},
    # the PSI tree is projected once and read by the value, the alarm and
    # the severity ladder: re-inlining it per use multiplies the plan size.
    # The baseline spec is a plan literal: a spec table (ExistingRDD or
    # LocalTableScan) would add a BroadcastExchange, one job per action
    "multi_feature_drift": {
        "scans": 1,
        "exch": 2,
        "max_count": {"ln(": 1},
        "not_contains": ["ExistingRDD"],
    },
    "ann_ivf_trained_topk": {"scans": 8, "exch": 23, "wgl": True, "bnlj": True},
    "winnow_fingerprint_pairs": {"scans": 1, "exch": 2},
    "ngram_jaccard_join": {"scans": 4, "exch": 7},
    "asof_join_events": {"scans": 2, "exch": 2},
    "sessionized_events": {"scans": 1, "exch": 1},
    "interval_join_error_windows": {"scans": 2, "exch": 3},
    # the r4 single-scan rewrites — THE invariants this audit exists to lock
    "curated_corpus_stats": {"scans": 1, "exch": 2, "wgl": True},
    "dedup_keep_min_by_lang": {"scans": 1, "exch": 2, "wgl": True},
    "weighted_sample_docs": {"scans": 1, "exch": 0},
    "topk_docs_per_lang": {"scans": 1, "exch": 1, "wgl": True},
    "curated_neardup_corpus": {"scans": 1, "exch": 5},
    # split operators: 2nd (column-pruned) scan is the documented summary
    # branch; the (key, __chunk) hash partitioning is the hot-key fanout
    "sessionized_events_split": {"scans": 2, "exch": 6, "contains": ["__chunk"]},
    "asof_join_events_split": {"scans": 4, "exch": 5, "contains": ["__chunk"]},
    # r5: single scan -> Generate -> three HashAggregates; lang rides as a
    # group key so no string agg buffer ever demotes these to SortAggregate
    # (a full sort of the exploded bigram stream) — locked via not_contains
    "gopher_repetition_profile": {
        "scans": 1,
        "exch": 3,
        "not_contains": ["SortAggregate"],
    },
    # r5: the 100 TB corpus side must reach the probe join WITHOUT a
    # shuffle — BroadcastHashJoin BuildRight (probe side), so the only
    # exchanges are the probe distinct + the two rollups; locked by the
    # contains fragment plus the exact counts
    "decontamination_overlap": {
        "scans": 2,
        "exch": 5,
        "contains": ["BroadcastHashJoin"],
    },
    # r5: top-5-per-lang must keep the per-partition limit pushdown; the
    # BNLJ is the whitelisted scalar 1-row N-docs broadcast crossJoin
    "tfidf_top_terms": {"scans": 2, "exch": 6, "wgl": True, "bnlj": True},
    # r5 composed pipeline: dedup -> decontaminate -> gate -> stats. The
    # 100 TB main branch must keep WindowGroupLimit and cross exactly ONE
    # exchange before the final agg; contaminated set + probes broadcast
    "decontaminated_corpus_stats": {
        "scans": 3,
        "exch": 6,
        "wgl": True,
        "contains": ["BroadcastHashJoin LeftOuter"],
    },
    # r5: both are one-scan map-side-partial profiles — a second scan or a
    # second exchange means the per-row expression tree stopped collapsing
    "packing_efficiency": {"scans": 1, "exch": 1},
    # planting + regexp_count/replace must stay JVM Column exprs: a
    # BatchEvalPython here would put 3 regexes/row on the Python path
    "pii_redaction_profile": {
        "scans": 1,
        "exch": 1,
        "not_contains": ["BatchEvalPython", "ArrowEvalPython"],
    },
    # same shape as pii_redaction_profile: planting, both regexp_counts,
    # the regexp_extract and the 16-term diversity sum must stay JVM
    # Column exprs — one scan, one lang-cardinality exchange
    "secrets_scan_profile": {
        "scans": 1,
        "exch": 1,
        "not_contains": ["BatchEvalPython", "ArrowEvalPython"],
    },
    # normalization windows run over the lang-cardinality aggregate: one
    # corpus exchange + the single-partition window exchange, nothing else
    "sampling_mixture_weights": {"scans": 1, "exch": 2},
    # formatted counts are PRE-reuse: the un-adapted tree repeats the
    # doc-term aggregate subtree under every scalar branch (2 per_doc x
    # 3 pdt). At runtime ReuseExchange collapses it to ONE FileScan +
    # ReusedExchange — asserted on the executed plan in
    # tests/test_textstats.py::test_unigram_perplexity_single_scan
    "unigram_perplexity_profile": {"scans": 6, "exch": 21, "bnlj": True},
    # never materializes doc pairs: (fp,source) agg -> fp window -> source
    # rollup, three exchanges over strictly shrinking aggregates
    "cross_source_dup_rate": {"scans": 1, "exch": 3},
    # r5: one scan -> Generate -> HashAggregate((doc_id,lang)) ->
    # HashAggregate(lang); the numeric first() buffer must not demote the
    # doc rollup to SortAggregate (a full sort of the exploded token stream)
    "stack_filter_profile": {
        "scans": 1,
        "exch": 2,
        "not_contains": ["SortAggregate"],
    },
    # r5 drift-family extensions: BOTH halves of the split ride ONE
    # conditional aggregation — one scan, one group exchange, one 1-row
    # exchange. The older psi/ks e/a-branch + crossJoin shape re-scans
    # (half-filter pushdown breaks subtree equality); these two must not
    # regress to it, so the counts and the no-BNLJ rule lock the shape.
    "wasserstein_nchars_split": {"scans": 1, "exch": 2},
    "chisq_lang_split": {"scans": 1, "exch": 2},
    # same one-scan window-over-aggregate shape as chisq_lang_split
    "jsd_lang_split": {"scans": 1, "exch": 2},
    # static tree repeats the doc-bucket subtree under model/totals/score
    # (3 scans); runtime ReuseExchange collapses to ONE FileScan —
    # pytest-locked in tests/test_textstats.py::test_dsir_single_scan
    "dsir_importance_weights": {
        "scans": 3,
        "exch": 10,
        "bnlj": True,  # scalar totals crossJoin (1-row broadcast)
        "not_contains": ["BatchEvalPython", "ArrowEvalPython"],
    },
    # same one-scan planting shape as pii/secrets: instr probes stay JVM
    "license_filter_profile": {
        "scans": 1,
        "exch": 1,
        "not_contains": ["BatchEvalPython", "ArrowEvalPython"],
    },
    # late-r5 retrofit of the SAME one-scan shape onto the older split
    # queries (they had per-half filtered branches re-scanning the table)
    "psi_lang_split": {"scans": 1, "exch": 2},
    "psi_nchars_split": {"scans": 1, "exch": 2},
    "ks_nchars_split": {"scans": 1, "exch": 2},
    # r5: one conditional exact-percentile aggregate (ObjectHashAggregate —
    # percentile buffers are not UnsafeRow-mutable; still hash-based with a
    # map-side partial) + the 1-row exchange, nothing else
    "quantile_shift_drift": {"scans": 1, "exch": 1},
    # r5 north-rule flagship: in-memory fixture (0 parquet scans), the
    # referential check must be a broadcast anti-join, and no row-at-a-time
    # Python may appear — ArrowEvalPython IS expected (the fixture's
    # Arrow-batched content synthesis), BatchEvalPython is not
    "code_validation_counts": {
        "scans": 0,
        "exch": 4,
        "contains": ["BroadcastHashJoin LeftAnti"],
        "not_contains": ["BatchEvalPython"],
    },
    # final-r5: 3 scans = doc-metadata branch + the shingle stream read
    # twice (duplicated-set branch and mark-join probe branch) — the
    # documented narrow-branch recompute, same trade as the split temporal
    # operators (caching the corpus would pin 100 TB). Every aggregate over
    # the exploded shingle stream must stay hash-based: a SortAggregate
    # here is a full sort of |tokens|-scale rows.
    "dup_span_profile": {
        "scans": 3,
        "exch": 6,
        "not_contains": ["SortAggregate"],
    },
    # final-r5 SemDeDup: static tree repeats the codebook-training subtree
    # under every consumer (the ann_ivf_trained_topk pattern); runtime
    # ReuseExchange collapse to 5 FileScans is pytest-locked in
    # tests/test_similarity.py::test_semdedup_runtime_reuse_and_subset.
    # BNLJ = the whitelisted 1-row broadcast-centroids crossJoin.
    "semdedup_clusters": {"scans": 12, "exch": 34, "bnlj": True},
    # final-r5 volume-anomaly monitor: the daily pre-aggregate (one
    # corpus exchange with map-side partials) collapses the stream to
    # |types| x |days| rows BEFORE the trailing window's tiny repartition
    "volume_anomaly_check": {"scans": 1, "exch": 2},
    # final-r5 JSON-payload validation: the pii planting shape — one scan,
    # one event_type exchange, all parsing a single JVM-side from_json
    # (Jackson) per row; no per-row Python may appear
    "json_conformance_profile": {
        "scans": 1,
        "exch": 1,
        "not_contains": ["BatchEvalPython", "ArrowEvalPython"],
    },
    # final-r5: one scan, two exchanges (the (det,dep) pre-aggregate, then
    # the per-det window repartition; the majority rollup REUSES the
    # window's sort order — its SortAggregate inserts no Sort node, which
    # is why SortAggregate is NOT banned here: string-max agg buffers
    # demote to SortAggregate, but over the already-sorted pair-count
    # aggregate, never over raw rows).
    "fd_source_lang_check": {"scans": 1, "exch": 2},
    # final-r5 fork detection: static tree = pair branch + two size-lookup
    # branches (3 scans); at runtime all three hang off ONE distinct
    # exchange (identical canonicalization via the explicit isNotNull —
    # see the query docstring) and collapse to a single FileScan +
    # 2 ReusedExchange — pytest-locked in
    # tests/test_dedup.py::test_source_fork_pairs_single_scan.
    "source_fork_pairs": {"scans": 3, "exch": 9},
    # final-r5 containment join: 6 static scans = the pruned (doc_id, text)
    # gram projection recomputed per consumer branch (df + prefix + index +
    # both verify sides) — the documented narrow-branch recompute trade
    # (caching the gram sets would pin corpus-scale state; `ngram_jaccard`
    # exposes opt-in cache=True for callers who want it). Every aggregate
    # over the exploded gram stream must stay hash-based.
    "containment_join": {
        "scans": 6,
        "exch": 9,
        "not_contains": ["SortAggregate"],
    },
    # final-r5 cross-table reconciliation: exactly the two base-table scans
    # and three exchanges (per-order partial-sum groupBy, the orderkey
    # join's repartition, the |statuses|-row rollup); all arithmetic is
    # decimal, which must not demote the sums to SortAggregate (decimal sum
    # buffers stay UnsafeRow-mutable at these widths).
    "order_reconciliation": {
        "scans": 2,
        "exch": 3,
        "not_contains": ["SortAggregate"],
    },
    # final-r5 JSON schema drift: keys branch (scan 1: json_object_keys ->
    # explode -> one key-keyed conditional aggregation) + the per-half
    # row-totals branch (scan 2, pruned to (event_id, ts)); BNLJ is the
    # whitelisted 1-row scalar-totals broadcast crossJoin. Key extraction
    # must stay a JVM-side Jackson call — no per-row Python.
    "json_schema_drift": {
        "scans": 2,
        "exch": 3,
        "bnlj": True,
        "not_contains": ["BatchEvalPython", "ArrowEvalPython"],
    },
    # final-r5 funnel: every one of the 6 static scans is a type-filtered
    # narrow scan (equality predicate pushed to the parquet reader — at
    # corpus scale each reads only its event type's row groups); the step
    # frames are 1-row-per-user aggregates so no join fans out, and the
    # rate window runs over the 3-row step union.
    "funnel_conversion": {"scans": 6, "exch": 11},
    # final-r5 cohort retention: 2 scans (activity-grid branch +
    # first-day branch, both pruned to (user_id, ts)); the (user, day)
    # distinct runs BEFORE the join so a 10^6-events-per-day user
    # collapses to one row, and the rate window sees <= 8 rows per
    # cohort partition.
    "cohort_retention": {"scans": 2, "exch": 5},
    # final-r5 Benford audit: one scan -> 9-group aggregate; the totals
    # and chi-square windows run over the 9-row result (single-partition
    # window safe by construction).
    "benford_first_digit": {"scans": 1, "exch": 2},
    # final-r5 k-anonymity: one quasi-identifier groupBy with map-side
    # partials collapses the corpus to |QI-combinations| rows; the
    # per-type rollup runs over group counts (the FD-check discipline).
    "k_anonymity_events": {"scans": 1, "exch": 2},
    # final-r5 CUSUM changepoint: the daily pre-aggregate (one corpus
    # exchange) then THREE chained window stages over the tiny
    # |types| x |days| aggregate sharing one per-type repartition — the
    # prefix-minus-running-min closed form needs no UDF or recursion.
    "cusum_changepoint": {"scans": 1, "exch": 2},
}

AUDITED = list(EXPECTED)

CHECKS = {
    # (formatted-plan text, simple-plan text) -> bool
    "scan column pruning (ReadSchema)": lambda p, s: "ReadSchema" in p,
    "whole-stage codegen": lambda p, s: "*(" in s,  # codegen span markers
    # distinct-style aggregates carry no agg functions, so no "partial_"
    # label — but they still dedup map-side (HashAggregate below the
    # Exchange); treat "Functions: []" as the partial marker in that case.
    "partial aggregation before shuffle": lambda p, s: "partial_" in p
    or "Functions: []" in p
    or "HashAggregate" not in p,
    # a plan with NO exchange (e.g. TakeOrderedAndProject sampling) never
    # gets an AdaptiveSparkPlan wrapper — there is nothing to adapt; that's
    # the best case, not a miss
    "AQE enabled": lambda p, s: "AdaptiveSparkPlan" in p or "Exchange" not in p,
}


def plan_metrics(formatted_plan: str) -> dict:
    """Counts/flags over the plan-tree section (node list) of a formatted
    explain, plus full-plan text for substring invariants."""
    tree = formatted_plan.split("\n\n")[0]
    return {
        "scans": tree.count("Scan parquet"),
        "exch": tree.count("Exchange"),
        "wgl": "WindowGroupLimit" in tree,
        "cart": "CartesianProduct" in tree,
        "bnlj": "BroadcastNestedLoopJoin" in tree,
        "full": formatted_plan,
    }


def check_invariants(name: str, metrics: dict) -> list[str]:
    """Violations of the EXPECTED invariants for `name` (empty == pass).
    Global rules: never a CartesianProduct; BNLJ only when whitelisted."""
    exp = EXPECTED[name]
    bad: list[str] = []
    if metrics["cart"]:
        bad.append("CartesianProduct present")
    if metrics["bnlj"] and not exp.get("bnlj", False):
        bad.append("unexpected BroadcastNestedLoopJoin")
    if metrics["scans"] != exp["scans"]:
        bad.append(f"Scan parquet count {metrics['scans']} != expected {exp['scans']}")
    if metrics["exch"] != exp["exch"]:
        bad.append(f"Exchange count {metrics['exch']} != expected {exp['exch']}")
    if exp.get("wgl", False) and not metrics["wgl"]:
        bad.append("WindowGroupLimit missing (per-partition limit pushdown lost)")
    for sub in exp.get("contains", []):
        if sub not in metrics["full"]:
            bad.append(f"required plan fragment {sub!r} missing")
    for sub in exp.get("not_contains", []):
        if sub in metrics["full"]:
            bad.append(f"forbidden plan fragment {sub!r} present")
    for sub, most in exp.get("max_count", {}).items():
        n = metrics["full"].count(sub)
        if n > most:
            bad.append(f"plan fragment {sub!r} appears {n} times > {most}")
    return bad


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from mlops_drift_detection_spark.queries import QUERIES
    from mlops_drift_detection_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# EXPLAIN — physical-plan audit of headline queries",
        "",
        f"Input: `{sf_dir}`. Produced by `tools/explain_audit.py`; re-run after",
        "any operator change. Checklist per plan: column pruning reached the",
        "scan, whole-stage codegen spans the hot expressions, aggregation is",
        "partial before its shuffle, AQE wraps the plan, and joins broadcast",
        "when a side is small. HARD invariants (exact scan/exchange counts,",
        "WindowGroupLimit presence, no cartesian products) are enforced —",
        "a regression (e.g. the r3 double-scan keep-min) FAILS this audit.",
        "",
    ]
    failures: dict[str, list[str]] = {}
    for name in AUDITED:
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        df.collect()  # run THIS plan: AQE finalizes it, codegen spans appear
        simple = df._jdf.queryExecution().executedPlan().toString()
        metrics = plan_metrics(plan)
        bad = check_invariants(name, metrics)
        if bad:
            failures[name] = bad
        verdicts = []
        for label, fn in CHECKS.items():
            verdicts.append(f"{'✓' if fn(plan, simple) else '✗'} {label}")
        exp = EXPECTED[name]
        verdicts.append(
            ("✓" if not bad else "✗")
            + f" invariants (scans={exp['scans']}, exch={exp['exch']}"
            + (", WindowGroupLimit" if exp.get("wgl") else "")
            + ")"
        )
        has_join = "Join" in plan
        if has_join:
            verdicts.append(
                f"{'✓' if 'BroadcastHashJoin' in plan else '•'} broadcast join present"
            )
        out.append(f"## {name}")
        out.append("")
        out.append("; ".join(verdicts))
        if bad:
            out.append("")
            out.append("**INVARIANT FAILURES**: " + "; ".join(bad))
        out.append("")
        out.append("```")
        # keep the summary section of the formatted plan (node list), trim details
        head = plan.split("\n\n")[0]
        out.append(head.strip())
        out.append("```")
        out.append("")

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "EXPLAIN.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote EXPLAIN.md")
    if failures:
        for name, bad in failures.items():
            print(f"FAIL {name}: {'; '.join(bad)}", file=sys.stderr)
        raise SystemExit(1)
    print(f"all {len(AUDITED)} plan-invariant sets hold")


if __name__ == "__main__":
    main()
