"""Process accounting, spans and Spark event-log folding for perfbench.

Everything here observes the engine from outside: CPU and memory come from
``/proc`` (the JVM's own ``stat``/``status`` files, never a walk over its
descendants), spans are recorded around the benchmark's calls into the
engine, and per-layer task metrics are folded from the Spark event log by
the job group the benchmark set before each call.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int | str) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        # the command name may contain spaces; fields restart after its ")"
        return f.read().rsplit(")", 1)[1].split()


def proc_cpu_s(pid: int) -> float:
    """utime + stime of one process (all its threads), in seconds."""
    fields = _stat_fields(pid)
    return (int(fields[11]) + int(fields[12])) / CLK_TCK


def driver_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


@contextlib.contextmanager
def meter(jvm_pid: int):
    """Wall time and CPU time (JVM plus this driver process) of a block."""
    m: dict[str, float] = {}
    w0 = time.perf_counter()
    c0 = proc_cpu_s(jvm_pid) + driver_cpu_s()
    yield m
    m["wall_s"] = time.perf_counter() - w0
    m["cpu_s"] = proc_cpu_s(jvm_pid) + driver_cpu_s() - c0


def boottime() -> float:
    return time.clock_gettime(time.CLOCK_BOOTTIME)


def process_start_boottime() -> float:
    """When this process started, on the CLOCK_BOOTTIME scale."""
    return int(_stat_fields("self")[19]) / CLK_TCK


def host_sample() -> dict:
    """1-minute load average and the cumulative /proc/stat CPU counters."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"load1": load1, "cpu_ticks": sum(cpu[:8]), "steal_ticks": cpu[7]}


def steal_share(a: dict, b: dict) -> float:
    total = b["cpu_ticks"] - a["cpu_ticks"]
    return (b["steal_ticks"] - a["steal_ticks"]) / total if total > 0 else 0.0


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory, plus the
    Spark job group ``layer:<name>`` set around each traced call. Disabled,
    no job group is set; the spans still time the set-up steps."""

    def __init__(self, spark, enabled: bool, run_id: str, jvm_pid: int):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.run_id = run_id
        self.jvm_pid = jvm_pid
        self.spans: list[dict] = []
        self._stack: list[tuple[str, str | None]] = []

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def span(self, name: str, layer: str | None = None):
        """Time a block. ``layer`` tags the Spark jobs it launches with the
        job group ``layer:<layer>`` (traced runs only)."""
        outer = self._stack[-1][1] if self._stack else None
        group = f"layer:{layer}" if (layer and self.enabled) else outer
        parent = self._stack[-1][0] if self._stack else None
        if self.enabled and group != outer:
            self._set_group(group)
        self._stack.append((name, group))
        rec = {"name": name, "parent": parent, "run_id": self.run_id, "group": group}
        cpu0 = proc_cpu_s(self.jvm_pid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["jvm_cpu_s"] = proc_cpu_s(self.jvm_pid) - cpu0
            self._stack.pop()
            if self.enabled and group != outer:
                self._set_group(outer)
            self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


_STAGE_METRICS = {
    "task_cpu_s": ("internal.metrics.executorCpuTime", 1e-9),
    "gc_s": ("internal.metrics.jvmGCTime", 1e-3),
    "read_mb": ("internal.metrics.input.bytesRead", 1 / 2**20),
    "shuffle_write_mb": ("internal.metrics.shuffle.write.bytesWritten", 1 / 2**20),
    "spill_mb": ("internal.metrics.memoryBytesSpilled", 1 / 2**20),
}


def fold_event_log(path: str, group_alias: dict[str, str] | None = None) -> dict:
    """Fold a Spark event log into per-job-group totals: job count, job
    intervals (epoch seconds) and the stage task metrics in _STAGE_METRICS.
    ``group_alias`` renames groups (streaming jobs carry the query's run id
    as their group)."""
    alias = group_alias or {}
    jobs: dict[int, dict] = {}
    stage_metrics: dict[int, dict[str, float]] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[ev["Job ID"]] = {
                    "group": alias.get(group, group),
                    "stages": ev["Stage IDs"],
                    "start": ev["Submission Time"] / 1e3,
                    "end": None,
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                acc = {a["Name"]: a.get("Value") for a in info.get("Accumulables", [])}
                tot = stage_metrics.setdefault(info["Stage ID"], {})
                for key, (name, scale) in _STAGE_METRICS.items():
                    tot[key] = tot.get(key, 0.0) + _num(acc.get(name)) * scale
    out: dict[str, dict] = {}
    claimed: set[int] = set()
    for job in sorted(jobs.values(), key=lambda j: j["start"]):
        g = out.setdefault(
            job["group"],
            {"jobs": 0, "intervals": [], **{k: 0.0 for k in _STAGE_METRICS}},
        )
        g["jobs"] += 1
        g["intervals"].append((job["start"], job["end"] or job["start"]))
        for sid in job["stages"]:
            if sid in stage_metrics and sid not in claimed:
                claimed.add(sid)
                for k, v in stage_metrics[sid].items():
                    g[k] += v
    return out


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total
