"""Temporal operators Spark lacks as built-ins: as-of join and batch
sessionization.

* :func:`asof_join` — pandas ``merge_asof`` / DuckDB ``ASOF JOIN`` semantics
  (for each left row, the most recent right row with ``right_ts <= left_ts``
  per key), implemented with the union trick: tag both sides, ONE shuffle on
  the key, in-partition sort, last-non-null carry-forward over a rows frame.
  No join at all — so no row explosion, no broadcast pressure, and the cost
  is exactly one sort-shuffle of |L| + |R| rows. The alternative (equi-join
  on key + filter + per-pair window) is O(|L| x matches); this is
  O(|L| + |R|).

* :func:`sessionize` — gap-based session ids per key (a new session starts
  when the time since the previous event exceeds ``gap``). Batch analogue of
  Structured Streaming's native ``session_window``; one key-shuffle, the
  lag and running-sum windows share one sort order (Catalyst plans a single
  Sort + Window chain, no second exchange).

Skew note (both): a window partitioned by key places each key's full
history in one task. That is inherent to per-key ordered semantics; for a
pathological hot key, :func:`sessionize_split` pre-splits each key's
timeline into fixed time chunks (per-(key, chunk) local sessions, then a
boundary stitch over the tiny per-chunk summary) so a 1M-event key fans out
across tasks. Time comparisons use integer microseconds
(``unix_micros``) so the DuckDB oracles (``epoch_us``) reproduce them
exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _micros(col: Column) -> Column:
    """Integer microseconds since epoch. The cast makes TIMESTAMP_NTZ parquet
    columns work too — the engine pins the session timezone to UTC
    (session.py), so ntz->ltz is the identity and the integers match
    DuckDB's epoch_us exactly."""
    return F.unix_micros(col.cast("timestamp"))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """Backward as-of join (inclusive: a right row at exactly ``left_ts``
    matches, like ``merge_asof(allow_exact_matches=True)`` and DuckDB's
    ``ON l.ts >= r.ts``).

    Returns every left row plus ``<c>_asof`` for each of ``value_cols``
    (NULL when no right row precedes, or when the match is older than
    ``tolerance_seconds``). Right rows are expected unique per
    (key, timestamp) — the supported contract, matching DuckDB ASOF.
    """
    payload = F.struct(
        _micros(F.col(right_ts)).alias("__rts"),
        *[F.col(c) for c in value_cols],
    )
    r = right.select(
        F.col(on),
        F.col(right_ts).alias("__ts"),
        payload.alias("__p"),
        F.lit(0).alias("__side"),
    )
    l = left.select(
        "*",
        F.col(left_ts).alias("__ts"),
        F.lit(None).cast(r.schema["__p"].dataType).alias("__p"),
        F.lit(1).alias("__side"),
    )
    u = l.unionByName(r, allowMissingColumns=True)
    # rows frame (not the default range frame): multiple order keys, and the
    # carry-forward must see a right row sorted immediately before a left
    # row carrying the same timestamp (inclusive-match tie rule)
    w = (
        Window.partitionBy(on)
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = u.withColumn("__m", F.last("__p", ignorenulls=True).over(w)).where(
        F.col("__side") == 1
    )
    if tolerance_seconds is not None:
        out = out.withColumn(
            "__m",
            F.when(
                _micros(F.col("__ts")) - F.col("__m.__rts")
                <= int(tolerance_seconds * 1_000_000),
                F.col("__m"),
            ),
        )
    for c in value_cols:
        out = out.withColumn(f"{c}_asof", F.col("__m")[c])
    return out.drop("__ts", "__p", "__side", "__m")


def asof_join_split(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    chunk_seconds: int,
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """:func:`asof_join` with the hot-key mitigation (same design as
    :func:`sessionize_split`): identical output, but a single key's history
    is processed per (key, time-chunk) instead of per key, so a
    pathological hot key fans out across tasks.

    Pass 1 runs the union-trick carry-forward WITHIN each (key, chunk):
    left rows whose nearest right row lives in the same chunk resolve
    locally. Pass 2 resolves the rest: a per-(key, chunk) summary (the
    max-timestamp right payload per chunk — struct max works because
    ``__rts`` is the struct's first field; NULL for right-empty chunks,
    which exist in the domain because the summary aggregates the UNION, so
    left-only chunks still get a carry row) gets a per-key window ordered
    by chunk taking the last non-null payload over PRIOR chunks. The
    summary is joined back (AQE picks broadcast vs shuffle from its
    runtime size — no forced hint, so high key cardinality cannot blow the
    driver) and a left row's match is
    ``coalesce(in_chunk, prior_chunk_carry)`` — every right row in a prior
    chunk precedes every left row of this chunk by construction, so this
    is exactly the as-of semantics. Full-width rows cross ONE exchange;
    the summary branch is a narrow recompute, as in sessionize_split.
    """
    payload = F.struct(
        _micros(F.col(right_ts)).alias("__rts"),
        *[F.col(c) for c in value_cols],
    )
    r = right.select(
        F.col(on),
        F.col(right_ts).alias("__ts"),
        payload.alias("__p"),
        F.lit(0).alias("__side"),
    )
    l = left.select(
        "*",
        F.col(left_ts).alias("__ts"),
        F.lit(None).cast(r.schema["__p"].dataType).alias("__p"),
        F.lit(1).alias("__side"),
    )
    u = l.unionByName(r, allowMissingColumns=True).withColumn(
        "__chunk",
        F.floor(_micros(F.col("__ts")) / F.lit(chunk_seconds * 1_000_000)),
    )
    w = (
        Window.partitionBy(on, "__chunk")
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = u.withColumn("__m", F.last("__p", ignorenulls=True).over(w))

    # chunk summary over the UNION (so left-only chunks are in the domain);
    # max of the payload struct == payload of the max __rts right row,
    # NULL when the chunk holds no right rows
    summary = u.groupBy(on, "__chunk").agg(F.max("__p").alias("__chunk_last"))
    prior = Window.partitionBy(on).orderBy("__chunk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = summary.withColumn(
        "__carry", F.last("__chunk_last", ignorenulls=True).over(prior)
    )
    out = (
        local.where(F.col("__side") == 1)
        # No broadcast hint (ADVICE r4): the summary's cardinality is
        # |distinct keys| x |non-empty chunks| — tiny for a few hot keys,
        # but unbounded at high key cardinality, where a forced broadcast
        # would blow the driver. The join is keyed on (key, chunk), so AQE
        # picks broadcast vs shuffle from the summary's runtime size.
        .join(
            carry.select(on, "__chunk", "__carry"),
            [on, "__chunk"],
        )
        .withColumn("__m", F.coalesce(F.col("__m"), F.col("__carry")))
    )
    if tolerance_seconds is not None:
        out = out.withColumn(
            "__m",
            F.when(
                _micros(F.col("__ts")) - F.col("__m.__rts")
                <= int(tolerance_seconds * 1_000_000),
                F.col("__m"),
            ),
        )
    for c in value_cols:
        out = out.withColumn(f"{c}_asof", F.col("__m")[c])
    return out.drop("__ts", "__p", "__side", "__chunk", "__m", "__carry")


def interval_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    start_ts: str,
    end_ts: str,
    bucket_seconds: int,
) -> DataFrame:
    """Range join — every (left row, right interval) pair with
    ``start_ts <= left_ts < end_ts`` — as an EQUI-join.

    Spark plans a bare range predicate as BroadcastNestedLoopJoin (fine only
    when one side broadcasts) or a cartesian product; the scale pattern is
    time bucketing: each left row keys on its ``floor(ts / bucket)``, each
    right interval explodes into the buckets it covers, and the join is a
    plain hash/sort-merge equi-join on the bucket followed by the exact
    residual predicate. A pair can only meet in the left row's single
    bucket, so no dedup is needed. Choose ``bucket_seconds`` near the
    typical interval length: the explode factor is
    ``~1 + interval_len / bucket`` and candidate pairs are
    ``|L| x (intervals per bucket)`` — both explicit, no quadratic cliff.
    Output: all left columns + all right columns.
    """
    b = F.lit(bucket_seconds * 1_000_000)
    lb = left.withColumn("__b", F.floor(_micros(F.col(left_ts)) / b))
    rexp = right.withColumn(
        "__b",
        F.explode(
            F.sequence(
                F.floor(_micros(F.col(start_ts)) / b),
                # end is exclusive, but a row AT floor(end/bucket) can still
                # precede end — include that bucket
                F.floor(_micros(F.col(end_ts)) / b),
            )
        ),
    )
    return (
        lb.join(rexp, "__b")
        .where(
            (F.col(left_ts) >= F.col(start_ts)) & (F.col(left_ts) < F.col(end_ts))
        )
        .drop("__b")
    )


def sessionize(df: DataFrame, key: str, ts: str, gap_seconds: int) -> DataFrame:
    """Adds ``session_id`` (0-based per key, in time order): a new session
    starts when the gap since the key's previous event STRICTLY EXCEEDS
    ``gap_seconds`` — two events exactly ``gap`` apart still merge, which is
    Structured Streaming's ``session_window`` behavior (verified empirically
    by the streaming-equivalence test, which plants that exact boundary:
    session_window merges sessions whose ranges touch, end-inclusive)."""
    order = Window.partitionBy(key).orderBy(ts)
    micros = _micros(F.col(ts))
    prev = F.lag(micros).over(order)
    new_session = F.when(
        prev.isNull() | ((micros - prev) > gap_seconds * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    running = Window.partitionBy(key).orderBy(ts).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn("session_id", F.sum(new_session).over(running) - 1)


def sessionize_split(
    df: DataFrame, key: str, ts: str, gap_seconds: int, chunk_seconds: int
) -> DataFrame:
    """:func:`sessionize` with the documented hot-key mitigation (VERDICT r3
    #6): identical ``session_id`` output, but a single key's timeline is
    processed by MANY tasks instead of one.

    Two passes:

    1. **Per-chunk local sessions** — events shuffle once on
       ``(key, floor(ts / chunk))``; within each chunk the usual lag +
       running-sum assigns 0-based LOCAL session ids (a chunk's first event
       is locally "new" — its true predecessor lives in an earlier chunk and
       is reconciled in pass 2).
    2. **Boundary stitch** — a per-(key, chunk) summary (first/last event
       time, local session count; ONE row per non-empty chunk, thousands of
       times smaller than the events) gets a per-key window ordered by
       chunk: ``merge = (first - prev_chunk_last) <= gap`` (lag skips empty
       chunks by construction — only non-empty chunks produce rows) and
       ``offset = running sum of (local_count - merge)`` over prior chunks.
       Global id = ``offset + local - merge``: when the chunk's first local
       session merges backward, ALL its local ids shift down by one, which
       chains correctly across consecutive merging chunks.

    The stitch summary is joined back to the events (no forced broadcast
    hint — AQE sizes it at runtime, safe at high key cardinality), so the
    full-width event rows move through exactly ONE exchange. The summary branch is a
    separate narrow pass: Catalyst column-prunes it to just ``(key, ts)``
    at the scan (plan-verified in EXPLAIN.md — both branches' ReadSchema),
    so with realistic wide payload rows its scan+shuffle is a few percent
    of the bytes; total cost ~ one full pass + one key/ts-only pass, traded
    for per-chunk instead of per-key parallelism. Pick ``chunk_seconds``
    well above ``gap_seconds`` (the summary stays tiny and most sessions
    never straddle a boundary); correctness holds for any value.
    """
    micros = _micros(F.col(ts))
    chunked = df.withColumn(
        "__chunk", F.floor(micros / F.lit(chunk_seconds * 1_000_000))
    )
    order = Window.partitionBy(key, "__chunk").orderBy(ts)
    prev = F.lag(micros).over(order)
    new_session = F.when(
        prev.isNull() | ((micros - prev) > gap_seconds * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    running = Window.partitionBy(key, "__chunk").orderBy(ts).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    local = chunked.withColumn("__local", F.sum(new_session).over(running) - 1)

    summary = local.groupBy(key, "__chunk").agg(
        F.min(micros).alias("__first"),
        F.max(micros).alias("__last"),
        (F.max("__local") + 1).alias("__nloc"),
    )
    by_chunk = Window.partitionBy(key).orderBy("__chunk")
    merge = F.when(
        F.col("__first") - F.lag("__last").over(by_chunk)
        <= gap_seconds * 1_000_000,
        F.lit(1),
    ).otherwise(F.lit(0))
    prior = Window.partitionBy(key).orderBy("__chunk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    stitched = summary.withColumn("__merge", merge).withColumn(
        "__off",
        F.coalesce(F.sum(F.col("__nloc") - F.col("__merge")).over(prior), F.lit(0)),
    )
    return (
        # No broadcast hint (ADVICE r4) — same reasoning as asof_join_split:
        # the stitch summary is small per hot key but grows with key
        # cardinality; AQE sizes the (key, chunk) join at runtime.
        local.join(
            stitched.select(key, "__chunk", "__merge", "__off"),
            [key, "__chunk"],
        )
        .withColumn(
            "session_id", F.col("__off") + F.col("__local") - F.col("__merge")
        )
        .drop("__chunk", "__local", "__merge", "__off")
    )

