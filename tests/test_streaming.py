"""Structured Streaming drift validation: file-source micro-batches,
foreachBatch PSI verdicts (per batch, and accumulated across batches),
plus streaming session windows and cross-batch dedup state.

Fixtures mirror the reference's normal-vs-drifted pattern
(reference: test_drift_detection.py:46-171): micro-batch 0 matches the
baseline lang mix (no alarm), micro-batch 1 is deliberately shifted (alarm).
"""

import os
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from mlops_drift_detection_spark.operators.psi import psi_from_counts
from mlops_drift_detection_spark.streaming import (
    foreach_batch_validator,
    run_file_stream_validation,
)

CATS = ["en", "de", "es"]
BASELINE = {"en": 600.0, "de": 300.0, "es": 100.0}

SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("lang", StringType()),
        StructField("n_chars", LongType()),
        StructField("ts", TimestampType()),
    ]
)


def _mk_batch(spark, langs: list[str], start_id: int, hour: int):
    import datetime as dt

    base = dt.datetime(2026, 1, 1, hour, 0, 0)
    rows = [
        Row(
            doc_id=start_id + i,
            lang=lang,
            n_chars=100 + (i % 50),
            ts=base + dt.timedelta(minutes=i % 50),
        )
        for i, lang in enumerate(langs)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _normal_langs(n=1000):
    # matches BASELINE proportions 60/30/10
    out = []
    for i in range(n):
        r = i % 10
        out.append("en" if r < 6 else ("de" if r < 9 else "es"))
    return out


def _drifted_langs(n=1000):
    # deliberately shifted: es-dominated
    out = []
    for i in range(n):
        r = i % 10
        out.append("es" if r < 7 else ("de" if r < 9 else "en"))
    return out


def _await(query, timeout=120):
    query.awaitTermination(timeout)
    if query.isActive:
        query.stop()


@pytest.fixture()
def stream_dirs(tmp_path):
    inp = tmp_path / "in"
    inp.mkdir()
    return str(inp), str(tmp_path / "ckpt")


def test_foreach_batch_drift_alarm(spark, stream_dirs, tmp_path):
    """Normal micro-batch -> no alarm; drifted micro-batch -> PSI alarm."""
    inp, ckpt = stream_dirs
    _mk_batch(spark, _normal_langs(), 0, hour=0).coalesce(1).write.parquet(
        f"{inp}/b0"
    )
    _mk_batch(spark, _drifted_langs(), 10_000, hour=1).coalesce(1).write.parquet(
        f"{inp}/b1"
    )

    out_rows: list = []
    on_batch = foreach_batch_validator(BASELINE, CATS, out_rows=out_rows)
    q = run_file_stream_validation(
        spark, f"{inp}/*", SCHEMA, ckpt, on_batch, max_files_per_trigger=1
    )
    _await(q)

    assert len(out_rows) >= 2
    by_alarm = sorted(out_rows, key=lambda r: r["batch_id"])
    total = {r["batch_id"]: r for r in by_alarm}
    flags = [r["drift_detected"] for r in by_alarm]
    # exactly one of the micro-batches alarms, and it is the drifted one
    # (file order within a glob is not guaranteed => check by PSI, not id)
    psis = sorted(r["psi"] for r in by_alarm)
    assert psis[0] < 0.2 and psis[-1] >= 0.2
    assert sum(flags) == 1
    assert all(r["n_rows"] == 1000 for r in total.values())


def test_foreach_batch_matches_batch_kernel(spark, stream_dirs):
    """Streaming verdicts equal the reference-exact PSI of the batch's
    category counts (same floats)."""
    inp, ckpt = stream_dirs
    langs = _drifted_langs(500)
    _mk_batch(spark, langs, 0, hour=0).coalesce(1).write.parquet(f"{inp}/b0")
    out_rows: list = []
    q = run_file_stream_validation(
        spark, f"{inp}/*", SCHEMA, ckpt, foreach_batch_validator(BASELINE, CATS, out_rows=out_rows)
    )
    _await(q)

    expected = [BASELINE[c] for c in CATS]
    actual = [float(sum(1 for x in langs if x == c)) for c in CATS]
    assert out_rows[0]["psi"] == pytest.approx(psi_from_counts(expected, actual), abs=0)


def test_foreach_batch_checkpoint_no_reprocess(spark, stream_dirs):
    """Restarting with the same checkpoint does NOT re-validate old files —
    the streaming analogue of the manifest resume guarantee."""
    inp, ckpt = stream_dirs
    _mk_batch(spark, _normal_langs(200), 0, hour=0).coalesce(1).write.parquet(
        f"{inp}/b0"
    )
    rows1: list = []
    q1 = run_file_stream_validation(
        spark, f"{inp}/*", SCHEMA, ckpt, foreach_batch_validator(BASELINE, CATS, out_rows=rows1)
    )
    _await(q1)
    assert len(rows1) == 1

    # drop a new file, restart from the same checkpoint
    _mk_batch(spark, _drifted_langs(200), 5000, hour=1).coalesce(1).write.parquet(
        f"{inp}/b1"
    )
    rows2: list = []
    q2 = run_file_stream_validation(
        spark, f"{inp}/*", SCHEMA, ckpt, foreach_batch_validator(BASELINE, CATS, out_rows=rows2)
    )
    _await(q2)
    assert len(rows2) == 1  # only the new file
    assert rows2[0]["n_rows"] == 200


SINK_SCHEMA = (
    "struct<drift_detected:boolean,drop_id:bigint,n_rows:bigint,psi:double,batch_id:int>"
)


def _tagged(spark, langs, drop_ids):
    """A batch of ``langs`` whose ``drop_id`` (an int column, the tag) cycles
    through ``drop_ids``."""
    df = _mk_batch(spark, langs, 0, hour=0)
    tag = F.element_at(
        F.array(*[F.lit(d) for d in drop_ids]),
        (F.col("doc_id") % len(drop_ids) + 1).cast("int"),
    )
    return df.withColumn("drop_id", tag.cast("int"))


def _sink_rows(spark, sink):
    return sorted(
        (r["batch_id"], r["drop_id"], r["n_rows"], r["psi"], r["drift_detected"])
        for r in spark.read.parquet(sink).collect()
    )


def _files(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _dirs, names in os.walk(root)
        for f in names
    )


def test_verdict_sink_matches_out_rows(spark, stream_dirs, tmp_path):
    """A tagged stream's sink reads back with the verdict schema (integral
    tag widened to bigint, batch_id from the directory) and exactly the
    verdict rows the callback produced."""
    inp, ckpt = stream_dirs
    _tagged(spark, _normal_langs(), [0]).coalesce(1).write.parquet(f"{inp}/b0")
    _tagged(spark, _drifted_langs(), [1, 2]).coalesce(1).write.parquet(f"{inp}/b1")
    sink = str(tmp_path / "sink")
    out_rows: list = []
    cb = foreach_batch_validator(
        BASELINE, CATS, out_rows=out_rows, sink_path=sink, tag_col="drop_id"
    )
    schema = StructType(SCHEMA.fields + [StructField("drop_id", IntegerType())])
    _await(run_file_stream_validation(spark, f"{inp}/*", schema, ckpt, cb))

    assert spark.read.parquet(sink).schema.simpleString() == SINK_SCHEMA
    assert len(out_rows) == 3
    assert _sink_rows(spark, sink) == sorted(
        (r["batch_id"], r["drop_id"], r["n_rows"], r["psi"], r["drift_detected"])
        for r in out_rows
    )
    assert not [f for f in _files(sink) if os.path.basename(f).startswith(".")]


def test_verdict_sink_retry_replaces_its_batch(spark, tmp_path):
    """Calling the callback twice with one batch_id leaves one row per tag,
    the batch's one file and no temp file."""
    sink = str(tmp_path / "sink")
    cb = foreach_batch_validator(BASELINE, CATS, sink_path=sink, tag_col="drop_id")
    batch = _tagged(spark, _normal_langs(300), [4, 5])
    cb(batch, 0)
    cb(batch, 0)
    rows = _sink_rows(spark, sink)
    assert [(b, t, n) for b, t, n, _p, _d in rows] == [(0, 4, 150), (0, 5, 150)]
    assert _files(sink) == ["batch_id=0/part-00000.parquet"]


def test_verdict_sink_retry_deletes_foreign_files(spark, tmp_path):
    """A data file some other writer left in a batch's directory is gone
    after that batch is retried; other batches are untouched."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sink = tmp_path / "sink"
    cb = foreach_batch_validator(BASELINE, CATS, sink_path=str(sink), tag_col="drop_id")
    cb(_tagged(spark, _drifted_langs(200), [9]), 1)
    (sink / "batch_id=0").mkdir()
    stale = pa.table(
        {"drift_detected": [True], "drop_id": [7], "n_rows": [1], "psi": [9.0]}
    )
    pq.write_table(stale, str(sink / "batch_id=0" / "part-00000-foreign.snappy.parquet"))
    cb(_tagged(spark, _normal_langs(200), [3]), 0)
    assert _files(str(sink)) == [
        "batch_id=0/part-00000.parquet",
        "batch_id=1/part-00000.parquet",
    ]
    assert [(b, t) for b, t, *_ in _sink_rows(spark, str(sink))] == [(0, 3), (1, 9)]


def test_verdict_sink_all_null_tag_keeps_bigint(spark, tmp_path):
    """A micro-batch whose tag column is all NULL still commits its verdict,
    with the tag typed bigint, not inferred from the None values."""
    sink = str(tmp_path / "sink")
    batch = spark.createDataFrame([(None, "en"), (None, "de")], "drop_id int, lang string")
    foreach_batch_validator(BASELINE, CATS, sink_path=sink, tag_col="drop_id")(batch, 3)
    read = spark.read.parquet(sink)
    assert read.schema.simpleString() == SINK_SCHEMA
    assert [(b, t, n) for b, t, n, *_ in _sink_rows(spark, sink)] == [(3, None, 2)]


def test_verdict_sink_micro_batch_runs_two_jobs(spark, tmp_path):
    """A sink-backed micro-batch runs only its count's Spark jobs: the
    verdicts are committed from the driver."""
    sink = str(tmp_path / "sink")
    cb = foreach_batch_validator(BASELINE, CATS, sink_path=sink, tag_col="drop_id")
    batch = _tagged(spark, _normal_langs(500), [0, 1])
    cb(batch, 0)  # warm
    next_job = spark.sparkContext._jsc.sc().dagScheduler().nextJobId
    before = next_job()
    cb(batch, 1)
    assert next_job() - before <= 2


def test_verdict_sink_must_be_local(spark, tmp_path):
    """The sink is committed with local file operations: a file:// path
    works, any other scheme is refused by name."""
    with pytest.raises(ValueError, match="s3a://bucket/verdicts"):
        foreach_batch_validator(BASELINE, CATS, sink_path="s3a://bucket/verdicts")
    cb = foreach_batch_validator(BASELINE, CATS, sink_path=f"file://{tmp_path}/sink")
    cb(_mk_batch(spark, _normal_langs(100), 0, hour=0), 0)
    assert _files(str(tmp_path / "sink")) == ["batch_id=0/part-00000.parquet"]


def test_session_window_stream_matches_batch_sessionize(spark, tmp_path):
    """Native session_window (streaming, complete mode) and the batch
    sessionize operator must produce IDENTICAL sessions — including at the
    exact-gap boundary, planted here: two events exactly 30min apart DO
    merge (session_window merges touching ranges, end-inclusive — verified
    against this very test), and one microsecond beyond splits."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from mlops_drift_detection_spark.operators.temporal import sessionize

    t = datetime(2024, 1, 1)
    u1 = [t]
    for gap_us in [600_000_000, 1_800_000_000, 1_800_000_001, 3_600_000_000]:
        u1.append(u1[-1] + timedelta(microseconds=gap_us))
    rows = [(1, ts) for ts in u1] + [(2, t)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    inp = str(tmp_path / "sess_in")
    df.coalesce(1).write.parquet(inp)

    # user 1 events sit at 0s, 600s, 2400s (exact-gap: merges), 4200.000001s
    # (1us beyond: new session), 7800.000001s (1h later: new session) ->
    # sessions {3 events}, {1}, {1}; user 2: one singleton
    batch = (
        sessionize(spark.read.parquet(inp), "user_id", "ts", gap_seconds=1800)
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_ev"))
    )
    batch_sessions = sorted(
        (r["user_id"], r["n_ev"]) for r in batch.collect()
    )
    assert batch_sessions == [(1, 1), (1, 1), (1, 3), (2, 1)]

    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(inp)
    sess = stream.groupBy(
        "user_id", F.session_window("ts", "30 minutes")
    ).agg(F.count(F.lit(1)).alias("n_ev"))
    name = f"sesswin_{int(time.time() * 1000)}"
    q = (
        sess.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    stream_sessions = sorted(
        (r["user_id"], r["n_ev"]) for r in spark.sql(f"SELECT * FROM {name}").collect()
    )
    assert stream_sessions == batch_sessions


def test_accumulator_tag_split_across_batches(spark, stream_dirs):
    """VERDICT r4 #2: a tag (source) split across >=2 micro-batches still
    yields the STATIC per-tag PSI — per-batch counts are accumulated and
    PSI computed once at stream end, with no layout precondition."""
    from mlops_drift_detection_spark.streaming.drift_stream import (
        finalize_accumulated_drift,
        foreach_batch_count_accumulator,
    )

    inp, ckpt = stream_dirs
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("lang", StringType()),
            StructField("n_chars", LongType()),
            StructField("ts", TimestampType()),
            StructField("source", StringType()),
        ]
    )
    # source "a": drifted mix split in HALF across two files (each half on
    # its own is a different mix than the whole); source "b": normal, one file
    a_langs = _drifted_langs(600)
    for part, sl in (("p0", slice(0, 250)), ("p1", slice(250, 600))):
        df = _mk_batch(spark, a_langs[sl], 0, hour=0).withColumn(
            "source", F.lit("a")
        )
        df.coalesce(1).write.parquet(f"{inp}/a_{part}")
    _mk_batch(spark, _normal_langs(400), 10_000, hour=1).withColumn(
        "source", F.lit("b")
    ).coalesce(1).write.parquet(f"{inp}/b_p0")

    acc: dict = {}
    q = run_file_stream_validation(
        spark,
        f"{inp}/*",
        schema,
        ckpt,
        foreach_batch_count_accumulator(key_col="lang", tag_col="source", acc=acc),
        max_files_per_trigger=1,
    )
    _await(q)

    assert len(acc) >= 3, f"expected >=3 micro-batches, got {len(acc)}"
    verdicts = {
        v["tag"]: v for v in finalize_accumulated_drift(acc, BASELINE, CATS)
    }
    # source "a" must have emitted counts from >=2 different micro-batches
    a_batches = [
        b for b, rows in acc.items() if any(t == "a" for (t, _c, _n) in rows)
    ]
    assert len(a_batches) >= 2, "source 'a' was not split across micro-batches"
    # static answer per tag, independent of batching
    expected = [BASELINE[c] for c in CATS]
    a_actual = [float(sum(1 for x in a_langs if x == c)) for c in CATS]
    assert verdicts["a"]["psi"] == pytest.approx(
        psi_from_counts(expected, a_actual), abs=0
    )
    assert verdicts["a"]["n_rows"] == 600
    assert verdicts["a"]["drift_detected"] is True
    assert verdicts["b"]["drift_detected"] is False
    assert verdicts["b"]["n_rows"] == 400


def test_accumulator_retry_idempotent(spark, stream_dirs):
    """At-least-once semantics: re-running a batch_id overwrites its slot —
    the merged counts (and PSI) are unchanged by the retry."""
    from mlops_drift_detection_spark.streaming.drift_stream import (
        finalize_accumulated_drift,
        foreach_batch_count_accumulator,
    )

    batch = _mk_batch(spark, _drifted_langs(300), 0, hour=0).withColumn(
        "source", F.lit("a")
    )
    acc: dict = {}
    cb = foreach_batch_count_accumulator(key_col="lang", tag_col="source", acc=acc)
    cb(batch, 0)
    once = finalize_accumulated_drift(acc, BASELINE, CATS)
    cb(batch, 0)  # simulated retry of the same micro-batch
    twice = finalize_accumulated_drift(acc, BASELINE, CATS)
    assert once == twice
    assert twice[0]["n_rows"] == 300


def test_streaming_dedup_cross_batch(spark, tmp_path):
    """dropDuplicates state must suppress a duplicate whose first copy
    arrived in an EARLIER micro-batch. Driven directly (no repartition):
    the two copies sit in separate part files written seconds apart, the
    file source replays oldest-first at maxFilesPerTrigger=1, and the
    per-batch doc_id trace proves (a) the copies were in different batches
    and (b) only the first was emitted — state, not within-batch dedup."""
    import time as _time

    from mlops_drift_detection_spark.functions.textstats import doc_fingerprint

    base = str(tmp_path / "docs")
    f1 = spark.createDataFrame(
        [(1, "en", "same text here"), (2, "en", "unique one")],
        "doc_id long, lang string, text string",
    )
    f2 = spark.createDataFrame(
        [(3, "en", "same text here"), (4, "fr", "same text here")],
        "doc_id long, lang string, text string",
    )
    f1.coalesce(1).write.parquet(base)
    _time.sleep(1.1)  # distinct mtimes: the file source orders oldest-first
    f2.coalesce(1).write.mode("append").parquet(base)

    schema = spark.read.parquet(base).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(base)
    )
    deduped = stream.withColumn(
        "fp", doc_fingerprint(F.col("text"))
    ).dropDuplicates(["lang", "fp"])
    emitted: dict[int, list[int]] = {}

    def _cb(batch_df, batch_id):
        emitted[batch_id] = sorted(r["doc_id"] for r in batch_df.collect())

    q = (
        deduped.writeStream.foreachBatch(_cb)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert len(emitted) >= 2, "copies shared a batch — nothing was proven"
    all_emitted = sorted(d for ids in emitted.values() for d in ids)
    # doc 3 (cross-batch dup of doc 1) suppressed by STATE; doc 4 has the
    # same text but another lang -> kept (dedup key is (lang, fp))
    assert all_emitted == [1, 2, 4]
    batch_of = {d: b for b, ids in emitted.items() for d in ids}
    assert batch_of[1] < max(emitted), "doc 1 should precede the last batch"
