"""As-of join + sessionization (operators/temporal.py)."""

from datetime import datetime, timedelta

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from mlops_drift_detection_spark.operators.temporal import asof_join, sessionize

T0 = datetime(2024, 1, 1)


def _ts(minutes: float) -> datetime:
    return T0 + timedelta(minutes=minutes)


def test_asof_join_basic_semantics(spark):
    left = spark.createDataFrame(
        [(1, _ts(0), "a"), (1, _ts(10), "b"), (1, _ts(20), "c"), (2, _ts(5), "d")],
        "k long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, _ts(10), 100.0), (1, _ts(15), 200.0)],
        "k long, rts timestamp, snap double",
    )
    got = {
        r["tag"]: r["snap_asof"]
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="rts", value_cols=["snap"]
        ).collect()
    }
    # a: nothing precedes; b: EXACT match is inclusive; c: latest (15') wins;
    # d: key 2 has no right rows at all
    assert got == {"a": None, "b": 100.0, "c": 200.0, "d": None}


def test_asof_join_tolerance(spark):
    left = spark.createDataFrame(
        [(1, _ts(30), "x"), (1, _ts(11), "y")], "k long, ts timestamp, tag string"
    )
    right = spark.createDataFrame(
        [(1, _ts(10), 7.0)], "k long, rts timestamp, snap double"
    )
    got = {
        r["tag"]: r["snap_asof"]
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="rts",
            value_cols=["snap"], tolerance_seconds=300,
        ).collect()
    }
    assert got == {"x": None, "y": 7.0}  # 20 min > 5 min tolerance; 1 min ok


def test_asof_join_matches_pandas_merge_asof(spark):
    """Independent mirror: 400 left x 60 right random rows per 8 keys vs
    pandas.merge_asof (the published reference implementation)."""
    rng = np.random.default_rng(7)
    lrows = sorted(
        (int(k), _ts(float(m)))
        for k, m in zip(rng.integers(0, 8, 400), rng.uniform(0, 500, 400))
    )
    rrows = sorted(
        (int(k), _ts(float(m)), float(v))
        for k, m, v in zip(
            rng.integers(0, 8, 60), rng.uniform(0, 500, 60), rng.normal(size=60)
        )
    )
    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lrows)],
        "i long, k long, ts timestamp",
    )
    right = spark.createDataFrame(rrows, "k long, rts timestamp, snap double")
    got = {
        r["i"]: r["snap_asof"]
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="rts", value_cols=["snap"]
        ).collect()
    }
    lpd = pd.DataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lrows)], columns=["i", "k", "ts"]
    ).sort_values("ts")
    rpd = pd.DataFrame(rrows, columns=["k", "rts", "snap"]).sort_values("rts")
    want = pd.merge_asof(
        lpd, rpd, left_on="ts", right_on="rts", by="k", direction="backward"
    )
    for _, row in want.iterrows():
        w = None if pd.isna(row["snap"]) else row["snap"]
        assert got[row["i"]] == w, f"row {row['i']}: {got[row['i']]} != {w}"


def test_sessionize_gap_rule(spark):
    # exact-microsecond boundaries: session_window's end-INCLUSIVE merge —
    # a gap of exactly gap_seconds continues the session; +1us starts a new
    t1 = T0
    t2 = T0 + timedelta(seconds=1200)
    t3 = t2 + timedelta(seconds=1800, microseconds=1)  # exceeds -> NEW
    t4 = t3 + timedelta(seconds=1800)                  # exactly gap -> same
    ev = spark.createDataFrame(
        [(1, t1), (1, t2), (1, t3), (1, t4), (2, t1)], "k long, ts timestamp"
    )
    got = sorted(
        (r["k"], r["ts"], r["session_id"])
        for r in sessionize(ev, "k", "ts", gap_seconds=1800).collect()
    )
    assert [g[2] for g in got] == [0, 0, 1, 1, 0]


def test_sessionize_single_shuffle_plan(spark):
    """Both window passes must share one Sort/Exchange (same partitioning
    and ordering) — assert a single shuffle in the optimized plan."""
    ev = spark.createDataFrame([(1, _ts(0))], "k long, ts timestamp")
    plan = (
        sessionize(ev, "k", "ts", gap_seconds=60)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") <= 1, plan


def test_interval_join_boundaries_and_uniqueness(spark):
    from mlops_drift_detection_spark.operators.temporal import interval_join

    # one interval [10', 40') spanning several 10-min buckets
    wins = spark.createDataFrame(
        [(_ts(10), _ts(40), "w1")], "w_start timestamp, w_end timestamp, w string"
    )
    left = spark.createDataFrame(
        [
            (0, _ts(10)),                                  # exactly start -> IN
            (1, _ts(25)),                                  # middle bucket -> IN
            (2, _ts(40)),                                  # exactly end -> OUT
            (3, _ts(39.9999)), (4, _ts(9.9999)), (5, _ts(41)),
        ],
        "i long, ts timestamp",
    )
    got = sorted(
        r["i"]
        for r in interval_join(
            left, wins, "ts", "w_start", "w_end", bucket_seconds=600
        ).collect()
    )
    # each match exactly once even though the interval covers 4 buckets
    assert got == [0, 1, 3]


def test_interval_join_matches_naive_theta_join(spark):
    """Bucketed equi-join == the naive range join on a randomized fixture,
    at a bucket size both smaller and larger than the intervals."""
    from mlops_drift_detection_spark.operators.temporal import interval_join

    rng = np.random.default_rng(11)
    left = spark.createDataFrame(
        [(i, _ts(float(m))) for i, m in enumerate(rng.uniform(0, 1000, 300))],
        "i long, ts timestamp",
    )
    wins = spark.createDataFrame(
        [
            (j, _ts(float(s)), _ts(float(s + d)))
            for j, (s, d) in enumerate(
                zip(rng.uniform(0, 1000, 40), rng.uniform(1, 60, 40))
            )
        ],
        "j long, w_start timestamp, w_end timestamp",
    )
    naive = {
        (r["i"], r["j"])
        for r in left.join(
            wins,
            (F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end")),
        ).collect()
    }
    assert naive, "fixture produced no matches — test is vacuous"
    for bucket in (300, 1800):
        got = {
            (r["i"], r["j"])
            for r in interval_join(
                left, wins, "ts", "w_start", "w_end", bucket_seconds=bucket
            ).collect()
        }
        assert got == naive, f"bucket={bucket}"


def test_sessionize_split_identical_on_hot_key(spark):
    """VERDICT r3 #6: a planted 1M-event SINGLE key. The split path must
    (a) spread the session window across >1 task (plain sessionize
    serializes the whole key into one), and (b) produce byte-identical
    session ids. Timeline: 3 s between events, +27 s extra every 997th
    event (gap 30 s > 10 s threshold -> new session), chunk = 10 min, so
    sessions regularly straddle chunk boundaries."""
    from mlops_drift_detection_spark.operators.temporal import sessionize_split

    n = 1_000_000
    ev = (
        spark.range(n)
        .select(
            F.lit("hot").alias("k"),
            F.timestamp_micros(
                F.col("id") * 3_000_000
                + F.floor(F.col("id") / 997) * 27_000_000
                + 1_600_000_000_000_000
            ).alias("ts"),
            F.col("id"),
        )
    )
    split = sessionize_split(ev, "k", "ts", gap_seconds=10, chunk_seconds=600)
    # (a) parallelism: the window stage shuffles on (k, chunk) — the result
    # must occupy >1 shuffle partition, where plain sessionize puts every
    # row of the key in exactly one. Probe-only conf (restored after): AQE
    # partition coalescing folds this test's tiny bytes to 1 partition, and
    # spark.range's precise tiny stats let the static planner broadcast the
    # events side of the stitch join (impossible at scale, where the events
    # scan's stats are huge) — both would make the probe measure the
    # planner, not the operator's key-fanout, since the r5 removal of the
    # forced broadcast hint.
    def _n_parts(df):
        # the where() keeps session_id referenced so column pruning cannot
        # eliminate the Window (and its exchange) under us
        keys = {
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        prev = {k: spark.conf.get(k, "true") for k in keys}
        for k, v in keys.items():
            spark.conf.set(k, v)
        try:
            return (
                df.where(F.col("session_id") >= 0)
                .select(F.spark_partition_id().alias("p"))
                .distinct()
                .count()
            )
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)

    n_parts_split = _n_parts(split)
    plain = sessionize(ev, "k", "ts", gap_seconds=10)
    n_parts_plain = _n_parts(plain)
    assert n_parts_plain == 1
    assert n_parts_split > 1, f"split path still serialized: {n_parts_split}"
    # (b) identical assignment, all 1M events
    mism = (
        split.select("id", F.col("session_id").alias("s1"))
        .join(plain.select("id", F.col("session_id").alias("s2")), "id")
        .where(F.col("s1") != F.col("s2"))
        .count()
    )
    assert mism == 0
    # sanity: the expected number of sessions materialized
    n_sessions = split.agg(F.max("session_id")).collect()[0][0] + 1
    assert n_sessions == (n - 1) // 997 + 1


def test_sessionize_split_boundary_cases(spark):
    """Chunk-boundary edge semantics: a gap EXACTLY == gap_seconds straddling
    a chunk edge merges (strict-exceed rule); empty chunks between events
    don't break the stitch; multiple keys stitch independently. Verified
    against plain sessionize on every (key, chunk_seconds) combination."""
    from mlops_drift_detection_spark.operators.temporal import sessionize_split

    base = 1_700_000_000_000_000
    rows = []
    # key a: events at 0s, 10s (== gap, merges), 21s (> gap, new), then a
    # long silence spanning several empty 30s chunks, then 200s
    for off in (0, 10, 21, 200):
        rows.append(("a", base + off * 1_000_000))
    # key b: dense run crossing chunk edges at 30/60/90s with 5s steps
    for i in range(25):
        rows.append(("b", base + i * 5_000_000))
    ev = spark.createDataFrame(
        [(k, m) for k, m in rows], "k string, us long"
    ).select("k", F.timestamp_micros(F.col("us")).alias("ts"))
    plain = {
        (r["k"], r["ts"]): r["session_id"]
        for r in sessionize(ev, "k", "ts", gap_seconds=10).collect()
    }
    for chunk in (15, 30, 600):
        got = {
            (r["k"], r["ts"]): r["session_id"]
            for r in sessionize_split(
                ev, "k", "ts", gap_seconds=10, chunk_seconds=chunk
            ).collect()
        }
        assert got == plain, f"chunk={chunk}"


def test_asof_join_split_identical_on_hot_key(spark):
    """asof_join_split must spread a hot key across tasks AND reproduce
    asof_join exactly — including left rows whose nearest right row lives
    many empty chunks back, tolerance expiry, and never-matched heads."""
    from mlops_drift_detection_spark.operators.temporal import asof_join_split

    n = 200_000
    left = spark.range(n).select(
        F.lit("hot").alias("k"),
        F.timestamp_micros(
            F.col("id") * 7_000_000 + 1_600_000_000_000_000
        ).alias("ts"),
        F.col("id"),
    )
    # sparse right side: one snapshot every ~311 left events, plus a long
    # initial right-free span (ids < 5000 have no preceding snapshot)
    right = (
        spark.range(n // 311)
        .select(
            F.lit("hot").alias("k"),
            F.timestamp_micros(
                (F.col("id") * 311 + 5000) * 7_000_000
                + 3_000_000
                + 1_600_000_000_000_000
            ).alias("rts"),
            (F.col("id") * 10).cast("double").alias("v"),
        )
    )
    for tol in (None, 900.0):
        plain = asof_join(
            left, right, on="k", left_ts="ts", right_ts="rts",
            value_cols=["v"], tolerance_seconds=tol,
        )
        split = asof_join_split(
            left, right, on="k", left_ts="ts", right_ts="rts",
            value_cols=["v"], chunk_seconds=600, tolerance_seconds=tol,
        )
        mism = (
            plain.select("id", F.col("v_asof").alias("a"))
            .join(split.select("id", F.col("v_asof").alias("b")), "id")
            .where(
                ~(
                    (F.col("a") == F.col("b"))
                    | (F.col("a").isNull() & F.col("b").isNull())
                )
            )
            .count()
        )
        assert mism == 0, f"tolerance={tol}"
        assert split.count() == n
    # parallelism invariant: the carry window's required distribution is
    # (k, __chunk) — the hot key hashes across many chunks, not one task.
    # (A row-level spark_partition_id probe is AQE-coalesced to 1 at this
    # tiny byte size, so assert the partitioning expression itself; plain
    # asof_join's exchange is hashpartitioning(k) only.)
    probe = asof_join_split(
        left, right, on="k", left_ts="ts", right_ts="rts",
        value_cols=["v"], chunk_seconds=600,
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert any(
        "hashpartitioning" in ln and "__chunk" in ln
        for ln in plan.splitlines()
    ), plan
    n_chunks = (
        left.select(
            F.floor(
                F.unix_micros(F.col("ts").cast("timestamp")) / (600 * 1_000_000)
            ).alias("c")
        )
        .distinct()
        .count()
    )
    assert n_chunks > 1000  # the hot key really does fan out that wide


def test_asof_join_split_equals_plain_random(spark):
    """Randomized cross-check on multi-key data at several chunk sizes."""
    import numpy as np

    from mlops_drift_detection_spark.operators.temporal import asof_join_split

    rng = np.random.default_rng(7)
    base = 1_700_000_000_000_000
    left = spark.createDataFrame(
        [
            (str(k), base + int(s) * 1_000_000, i)
            for i, (k, s) in enumerate(
                zip(rng.integers(0, 4, 120), rng.integers(0, 3000, 120))
            )
        ],
        "k string, us long, i long",
    ).select("k", F.timestamp_micros(F.col("us")).alias("ts"), "i")
    right = spark.createDataFrame(
        [
            (str(k), base + int(s) * 1_000_000 + j, float(j))
            for j, (k, s) in enumerate(
                zip(rng.integers(0, 4, 40), rng.integers(0, 3000, 40))
            )
        ],
        "k string, rus long, v double",
    ).select("k", F.timestamp_micros(F.col("rus")).alias("rts"), "v")
    want = {
        r["i"]: r["v_asof"]
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="rts", value_cols=["v"]
        ).collect()
    }
    for chunk in (13, 120, 10_000):
        got = {
            r["i"]: r["v_asof"]
            for r in asof_join_split(
                left, right, on="k", left_ts="ts", right_ts="rts",
                value_cols=["v"], chunk_seconds=chunk,
            ).collect()
        }
        assert got == want, f"chunk={chunk}"


def test_interval_join_exact_on_pathological_window(spark):
    """A pathological overlap window — one interval spanning the entire
    timeline at a bucket size tuned for minute-scale intervals — explodes
    into every bucket; the bucketed join must still return exactly the
    theta-join result."""
    from mlops_drift_detection_spark.operators.temporal import interval_join

    # 600 left events, one per second over 10 minutes
    left = spark.createDataFrame(
        [(i, _ts(i / 60.0)) for i in range(600)], "id long, ts timestamp"
    )
    # 10 one-minute intervals plus one covering the whole 10-minute timeline
    patho = spark.createDataFrame(
        [(j, _ts(j), _ts(j + 1)) for j in range(10)] + [(99, _ts(0), _ts(10))],
        "iv long, start timestamp, end timestamp",
    )
    got = interval_join(left, patho, "ts", "start", "end", 60).count()
    want = left.join(
        patho, (F.col("ts") >= F.col("start")) & (F.col("ts") < F.col("end"))
    ).count()
    assert got == want
