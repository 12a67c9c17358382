#!/usr/bin/env python3
"""Toy-size check of perfbench's output checks.

    python3 perfbench/selftest.py

Each workload runs one op at toy size twice: once as built, which must pass
its output check, and once with a tampered expectation, which must be
counted as a failure. Exits 0 only if all four outcomes are as expected.
"""

from __future__ import annotations

import os
import shutil
import sys

from run import ROOT, _start_session, _stop_session


def main() -> int:
    sys.path.insert(0, ROOT)
    from observe import Tracer
    from workloads import Ctx, DurableResume, StreamBacklog

    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(work, "local"))
    spark = _start_session("perfbench-selftest", os.path.join(work, "local"), None)
    outcomes = []
    try:
        jvm_pid = spark.sparkContext._gateway.proc.pid
        tracer = Tracer(spark, False, "selftest", jvm_pid)
        toys = (
            lambda tamper: DurableResume(rows=2_000, tamper=tamper),
            lambda tamper: StreamBacklog(drops=4, rows_per_drop=500, tamper=tamper),
        )
        for make in toys:
            for tamper in (False, True):
                wl = make(tamper)
                ctx = Ctx(spark, 7, os.path.join(work, f"{wl.name}-{tamper}"), tracer, jvm_pid)
                wl.setup(ctx)
                op = wl.op(ctx)
                as_expected = bool(op.problems) == tamper
                outcomes.append(as_expected)
                print(
                    f"{wl.name} tampered={tamper}: failed={bool(op.problems)} "
                    f"({'as expected' if as_expected else 'UNEXPECTED'}) {op.problems[:2]}"
                )
    finally:
        _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0 if outcomes and all(outcomes) else 1


if __name__ == "__main__":
    sys.exit(main())
