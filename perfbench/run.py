#!/usr/bin/env python3
"""perfbench: end-to-end and per-layer benchmark of the validation + drift
engine, driven only through its public entry points.

    python3 perfbench/run.py --workload durable_resume --seed 1 --seconds 5 --trace 0

Run from the repository root. One process is one run: it starts a
``local[4]`` Spark session, builds the workload's inputs from ``--seed``,
computes the baseline, runs untimed warm-up ops, then issues timed ops
closed-loop (one client, one op at a time) until ``--seconds`` have passed.
Every op's output is checked. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``, a separate
run with job groups and the Spark event log on). The line before it is a
human-readable summary; the full run record (host load, steal, effective
Spark conf) goes to ``.perfbench_work/runs/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CORES = 4
DRIVER_MEMORY = "3g"  # several runs share a 15 GiB host; the inputs are small
TIMEOUT_S = 170

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "cpu_s_per_mrow": "s/Mrow",
    "peak_rss_mb": "MB",
    "resume_s": "s",
    "batch_p50_ms": "ms",
    "batch_p75_ms": "ms",
}

_CONSTRAINT_METRICS = {
    "wall_s": "s", "task_cpu_s": "s", "gc_s": "s",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "rows_out": "count",
}
PER_LAYER = {
    "setup.session_s": "s", "setup.fixture_s": "s",
    "setup.baseline_s": "s", "setup.warmup_s": "s",
    "baseline.wall_s": "s", "baseline.task_cpu_s": "s", "baseline.jobs": "count",
    "scan.wall_s": "s", "scan.task_cpu_s": "s", "scan.read_mb": "MB",
    **{
        f"constraints.{c}.{m}": u
        for c in ("row_rules", "uniqueness", "referential")
        for m, u in _CONSTRAINT_METRICS.items()
    },
    "drift.fused.wall_s": "s", "drift.fused.task_cpu_s": "s", "drift.fused.gc_s": "s",
    "drift.fused.shuffle_write_mb": "MB", "drift.fused.values_per_cpu_s": "values/s",
    "suite.run.wall_s": "s", "suite.run.task_cpu_s": "s", "suite.run.jobs": "count",
    "suite.run.gc_s": "s", "suite.run.driver_gap_s": "s", "suite.run.nontask_cpu_s": "s",
    "suite.run.layer_cpu_share": "ratio",
    "sink.write_mb": "MB", "sink.files": "count",
    "manifest.commit_ms": "ms", "manifest.lookup_ms": "ms",
    "stream.add_batch_ms": "ms", "stream.commit_ms": "ms", "stream.source_ms": "ms",
    "stream.planning_ms": "ms", "stream.trigger_share": "ratio",
    "trace.op_wall_s": "s",
}


class RunTimeout(Exception):
    pass


def _on_alarm(_signum, _frame):
    raise RunTimeout(f"run exceeded {TIMEOUT_S} s")


def _q(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    if q == 0.5:
        return statistics.median(values)
    return statistics.quantiles(values, n=4, method="inclusive")[2]


def _start_session(app: str, local_dir: str, event_dir: str | None):
    from mlops_drift_detection_spark.session import get_spark

    # get_spark and cli.main read these: every session in the process, the
    # one cli.main re-acquires included, then agrees on cores and memory
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        # a heap that starts at full size makes VmHWM repeatable run to run;
        # Spark prepends this to the engine's own extraJavaOptions (its GC)
        "spark.driver.defaultJavaOptions": f"-Xms{DRIVER_MEMORY}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app_name=app, master=f"local[{CORES}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM (it exits when its stdin closes),
    and wait until it has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _effective_conf(spark) -> dict:
    conf = dict(spark.sparkContext.getConf().getAll())
    for key in (
        "spark.sql.shuffle.partitions",
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.adaptive.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
    ):
        conf[key] = spark.conf.get(key)
    conf["SPARK_LOCAL_DIRS"] = os.environ.get("SPARK_LOCAL_DIRS")
    return conf


def _end_to_end(ops, setup_s: float, peak_rss_mb: float) -> dict:
    batches = [b for o in ops for b in o.batch_ms]
    return {
        "setup_s": setup_s,
        "rows_per_s": statistics.median(o.rows / o.wall_s for o in ops),
        "cpu_s_per_mrow": statistics.median(1e6 * o.cpu_s / o.rows for o in ops),
        "peak_rss_mb": peak_rss_mb,
        "resume_s": statistics.median(o.resume_s for o in ops),
        "batch_p50_ms": _q(batches, 0.5),
        "batch_p75_ms": _q(batches, 0.75),
    }


def _per_layer(ops, spans, groups, probe, setup_parts) -> dict:
    from observe import covered_s

    zero = {"jobs": 0, "intervals": []}

    def grp(layer: str) -> dict:
        return groups.get(f"layer:{layer}", zero)

    def stat(g: dict, key: str) -> float:
        return g.get(key, 0.0)

    def wall(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    out = {f"setup.{k}_s": v for k, v in setup_parts.items()}
    b = grp("baseline")
    out.update(
        {
            "baseline.wall_s": setup_parts["baseline"],
            "baseline.task_cpu_s": stat(b, "task_cpu_s"),
            "baseline.jobs": b["jobs"],
        }
    )
    s = grp("scan")
    out.update(
        {
            "scan.wall_s": wall("probe.scan"),
            "scan.task_cpu_s": stat(s, "task_cpu_s"),
            "scan.read_mb": stat(s, "read_mb"),
        }
    )
    layer_cpu = 0.0
    for c in ("row_rules", "uniqueness", "referential"):
        g = grp(f"constraints.{c}")
        layer_cpu += stat(g, "task_cpu_s")
        out[f"constraints.{c}.wall_s"] = wall(f"probe.constraints.{c}")
        for m in ("task_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb"):
            out[f"constraints.{c}.{m}"] = stat(g, m)
        out[f"constraints.{c}.rows_out"] = probe.get(f"constraints.{c}.rows_out", 0)

    g = grp("drift.fused")
    d_cpu = stat(g, "task_cpu_s")
    layer_cpu += d_cpu
    out.update(
        {
            "drift.fused.wall_s": wall("probe.drift.fused"),
            "drift.fused.task_cpu_s": d_cpu,
            "drift.fused.gc_s": stat(g, "gc_s"),
            "drift.fused.shuffle_write_mb": stat(g, "shuffle_write_mb"),
            "drift.fused.values_per_cpu_s": (
                probe.get("drift.fused.values", 0) / d_cpu if d_cpu else 0.0
            ),
        }
    )

    # suite.run is the fresh cli.main run of each timed op (not warm-ups)
    g = grp("cli")
    op_spans = [sp for sp in spans if sp["name"] == "op.fresh" and sp["group"] == "layer:cli"]
    k = len(op_spans) or 1
    task_cpu = stat(g, "task_cpu_s")
    gap = sum(
        (sp["end"] - sp["start"]) - covered_s(g["intervals"], sp["start"], sp["end"])
        for sp in op_spans
    )
    out.update(
        {
            "suite.run.wall_s": sum(sp["end"] - sp["start"] for sp in op_spans) / k,
            "suite.run.task_cpu_s": task_cpu / k,
            "suite.run.jobs": g["jobs"] / k,
            "suite.run.gc_s": stat(g, "gc_s") / k,
            "suite.run.driver_gap_s": gap / k,
            "suite.run.nontask_cpu_s": (sum(sp["jvm_cpu_s"] for sp in op_spans) - task_cpu) / k,
            "suite.run.layer_cpu_share": layer_cpu / (task_cpu / k) if task_cpu else 0.0,
        }
    )

    out["sink.write_mb"] = statistics.mean(o.trace.get("sink.write_mb", 0.0) for o in ops)
    out["sink.files"] = statistics.mean(o.trace.get("sink.files", 0) for o in ops)
    out["manifest.commit_ms"] = probe["manifest.commit_ms"]
    out["manifest.lookup_ms"] = probe["manifest.lookup_ms"]

    progress = [p for o in ops for p in o.trace.get("progress", [])]
    dur = [p["durationMs"] for p in progress]

    def med(*keys: str) -> float:
        return statistics.median(sum(d.get(k, 0) for k in keys) for d in dur) if dur else 0.0

    parts = ("addBatch", "walCommit", "commitOffsets", "latestOffset", "getBatch", "queryPlanning")
    trig = sum(d["triggerExecution"] for d in dur)
    out.update(
        {
            "stream.add_batch_ms": med("addBatch"),
            "stream.commit_ms": med("walCommit", "commitOffsets"),
            "stream.source_ms": med("latestOffset", "getBatch"),
            "stream.planning_ms": med("queryPlanning"),
            "stream.trigger_share": (
                sum(d.get(p, 0) for d in dur for p in parts) / trig if trig else 0.0
            ),
        }
    )
    out["trace.op_wall_s"] = statistics.median(o.wall_s for o in ops)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from observe import (
        Tracer,
        boottime,
        fold_event_log,
        host_sample,
        process_start_boottime,
        steal_share,
        vm_hwm_mb,
    )

    proc_start = process_start_boottime()
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(TIMEOUT_S)

    sys.path.insert(0, ROOT)
    import mlops_drift_detection_spark as engine

    if not os.path.abspath(engine.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"engine imported from {engine.__file__}, not from {ROOT}")
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work_root = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work_root, f"{tag}-{os.getpid()}")
    trace_dir = os.path.join(work_root, "traces", tag)
    if args.trace:
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(os.path.join(trace_dir, "eventlog"))
    os.makedirs(os.path.join(run_dir, "local"))
    host0 = host_sample()

    t = boottime()
    spark = _start_session(
        f"perfbench-{args.workload}",
        os.path.join(run_dir, "local"),
        os.path.join(trace_dir, "eventlog") if args.trace else None,
    )
    setup_parts = {"session": boottime() - t}
    try:
        jvm_pid = spark.sparkContext._gateway.proc.pid
        tracer = Tracer(spark, bool(args.trace), tag, jvm_pid)
        ctx = Ctx(spark, args.seed, run_dir, tracer, jvm_pid)
        wl.setup(ctx)
        t = boottime()
        warm_problems = []
        for _ in range(wl.warmup_ops):
            with tracer.span("warmup", layer="warmup"):
                warm_problems += wl.op(ctx, warmup=True).problems
        setup_parts["warmup"] = boottime() - t

        t0 = boottime()
        setup_s = t0 - proc_start
        ops = []
        while not ops or boottime() - t0 < args.seconds:
            with tracer.span("op", layer=wl.op_layer):
                ops.append(wl.op(ctx))
        peak_rss = vm_hwm_mb(jvm_pid)
        probe = wl.probes(ctx) if args.trace else {}
        conf = _effective_conf(spark)
    finally:
        signal.alarm(0)
        _stop_session(spark)
    host1 = host_sample()

    failed = sum(1 for o in ops if o.problems)
    problems = warm_problems + [p for o in ops for p in o.problems]
    for part in ("fixture", "baseline"):
        setup_parts[part] = sum(
            s["end"] - s["start"] for s in tracer.spans if s["name"] == f"setup.{part}"
        )
    e2e = _end_to_end(ops, setup_s, peak_rss)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "ops": len(ops),
        "failed": failed,
        "fail_rate": failed / len(ops),
        "problems": problems[:20],
        "op_wall_s": [o.wall_s for o in ops],
        "batch_samples": sum(len(o.batch_ms) for o in ops),
        "end_to_end": e2e,
        "setup_parts_s": setup_parts,
        "host": {
            "load1_start": host0["load1"],
            "load1_end": host1["load1"],
            "steal_share": steal_share(host0, host1),
        },
        "conf": conf,
    }
    if args.trace:
        tracer.write(os.path.join(trace_dir, "spans.json"))
        (log,) = glob.glob(os.path.join(trace_dir, "eventlog", "*"))
        alias = {rid: "layer:stream" for rid in getattr(wl, "run_ids", [])}
        groups = fold_event_log(log, alias)
        layers = _per_layer(ops, tracer.spans, groups, probe, setup_parts)
        record["per_layer"] = layers
        with open(os.path.join(trace_dir, "layers.json"), "w") as f:
            json.dump(record, f, indent=1)
        values, units = layers, PER_LAYER
    else:
        values, units = e2e, END_TO_END
    os.makedirs(os.path.join(work_root, "runs"), exist_ok=True)
    with open(os.path.join(work_root, "runs", f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(
        "perfbench "
        + json.dumps(
            {
                k: record[k]
                for k in ("workload", "seed", "trace", "ops", "fail_rate", "batch_samples", "host")
            }
            | {"problems": problems[:3], "end_to_end": {k: round(v, 4) for k, v in e2e.items()}}
        )
    )
    print(
        json.dumps(
            {
                "correct": not problems,
                "attempted": len(ops),
                "failed": failed,
                "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
