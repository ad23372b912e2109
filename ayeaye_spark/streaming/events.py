"""Structured Streaming operators.

The reference's only stream access is bounded Kafka batch-by-offset
(``kafka_connector.py:77-137``) — SURVEY §2.5 assigns real streaming to
Spark built-ins.  This module packages the canonical patterns so models
can declare them like any other transform:

* :func:`windowed_counts` — watermarked tumbling/sliding window aggregate.
* :func:`session_aggregate` — ``session_window`` gap sessions.
* :func:`run_to_memory` — drain a bounded stream into an in-memory table
  synchronously (test/debug harness).

All are batch/stream agnostic: pass a batch DataFrame and the same plan
runs as a normal aggregate (used by the DuckDB oracle comparison); pass
a streaming DataFrame and Spark maintains state with watermark eviction.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str | None = "2 hours",
    group_cols: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Watermarked windowed count+sum per (window, group_cols); the
    summed column is ``value_col`` (aliased ``sum_value`` regardless).

    ``watermark=None`` means the stream is ALREADY watermarked upstream
    (e.g. by a preceding stateful operator like
    :func:`dedup_within_watermark`) — Spark disallows redefining the
    watermark between chained stateful operators."""
    df = events
    if df.isStreaming and watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    win = F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    return (
        df.groupBy(win.alias("win"), *(group_cols or []))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum(value_col), 4).alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *(group_cols or []),
            "n_events",
            "sum_value",
        )
    )


def session_aggregate(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    by: list[str] | None = None,
) -> DataFrame:
    """Session-window aggregate (dynamic gap sessions, streaming-native)."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap).alias("session"), *(by or []))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            *(by or []),
            "n_events",
        )
    )


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def use_rocksdb_state(spark, *, changelog: bool = True) -> None:
    """Opt the session's streaming queries into the RocksDB state store
    — the bounded-memory backend for LARGE stateful streams.  The
    default HDFS-backed provider keeps every state key on the executor
    HEAP (a watermark-window of keys at 100 TB event volume OOMs it);
    RocksDB keeps working state on local disk with a block-cache budget,
    and changelog checkpointing uploads per-batch deltas instead of
    full snapshots.  Session-level because the provider must be fixed
    before a query's first checkpoint — switching providers on an
    existing checkpoint is not supported by Spark.
    """
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    if changelog:
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )


def dedup_within_watermark(
    events: DataFrame,
    *,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Exactly-once projection of an at-least-once stream: state-backed
    ``dropDuplicatesWithinWatermark`` on ``key_cols``.

    The WithinWatermark variant is the 100 TB-safe one: a key's dedup
    state is EVICTED once the watermark passes its event time, so state
    size is bounded by the watermark window — plain streaming
    ``dropDuplicates`` keeps every key ever seen and grows without
    bound.  The contract is correspondingly bounded: a duplicate
    arriving later than ``watermark`` after the original is NOT
    suppressed (at-least-once sources redeliver promptly; pick the
    watermark to cover the redelivery horizon).

    On a batch frame this degrades to plain ``dropDuplicates`` — the
    batch-twin semantics used by the oracle-checked equivalents.
    """
    if not events.isStreaming:
        return events.dropDuplicates(key_cols)
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def stateful_running_totals(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Custom stateful streaming operator: per-key running count + sum
    maintained across micro-batches via ``applyInPandasWithState``
    (Arrow-batched, one state row per key — the pattern for operators
    Structured Streaming lacks natively, SURVEY §2.5).

    Emits the updated totals for each key seen in a micro-batch.  On a
    batch DataFrame, falls back to the equivalent groupBy (same output,
    no state) so the operator stays batch/stream agnostic.
    """
    if not events.isStreaming:
        return events.groupBy(key_col).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("double")).alias("total_value"),
        )

    import pandas as pd  # noqa: PLC0415 — executor-side import

    # derive the key field's type from the input schema — string or any
    # other orderable key works, not just long
    key_type = events.schema[key_col].dataType.simpleString()
    output_schema = f"{key_col} {key_type}, n_events long, total_value double"
    state_schema = "n long, total double"

    def update_totals(key, pdf_iter, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {key_col: [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy(key_col).applyInPandasWithState(
        update_totals, output_schema, state_schema, "update", "NoTimeout"
    )


def sessionize_with_timeout(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Emit CLOSED sessions only, via state TIMERS
    (``applyInPandasWithState`` + ``EventTimeTimeout``): per key the
    state holds (start, last, n); every batch extends it and re-arms an
    event-time timeout at ``last + gap``; when the WATERMARK passes
    that point the timer fires with no input rows, the finalized
    session (start, end, n_events) is emitted exactly once and the
    state is freed.  This is the append-mode session operator
    ``F.session_window`` cannot express (it emits evolving aggregates,
    not a single on-close record — the form downstream consumers like
    the CDC sink or a billing pipeline need), and the state is bounded
    by ACTIVE sessions only.

    Batch fallback: every session is final, so the gap-sessionize
    (lag + running-sum session ids) aggregated per session gives the
    identical closed-session rows — the oracle-able twin used by the
    tests.
    """
    if not events.isStreaming:
        from pyspark.sql import Window

        w = Window.partitionBy(key_col).orderBy(F.asc(ts_col))
        # gaps compare at MILLISECOND resolution — the same truncation
        # the streaming state path and the DuckDB oracle (epoch_ms) use.
        # unix_timestamp() would truncate to whole seconds and merge a
        # pair whose ms diff exceeds the gap while the second diff
        # equals it exactly — a data-dependent parity break.
        gap_ms = gap_minutes * 60_000
        ms = lambda c: F.expr(f"unix_micros({c}) div 1000")  # noqa: E731
        with_ids = (
            events.withColumn("_prev", F.lag(ts_col).over(w))
            .withColumn(
                "_new",
                (
                    F.col("_prev").isNull()
                    | (ms(ts_col) - ms("_prev") > gap_ms)
                ).cast("long"),
            )
            .withColumn("_sid", F.sum("_new").over(w))
        )
        return with_ids.groupBy(key_col, "_sid").agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        ).drop("_sid")

    import pandas as pd  # noqa: PLC0415 — executor-side import

    key_type = events.schema[key_col].dataType.simpleString()
    output_schema = (
        f"{key_col} {key_type}, session_start timestamp, "
        "session_end timestamp, n_events long"
    )
    # State holds MICROSECOND epochs so emitted session_start/end keep
    # the source timestamp precision (batch twin emits MIN/MAX(ts) at
    # full µs); gap comparisons truncate to MILLISECONDS — the same
    # resolution the batch path and the epoch_ms oracle compare at.
    state_schema = "start long, last long, n long"
    gap_ms = gap_minutes * 60_000

    def _emit(key, sessions):
        return pd.DataFrame(
            {
                key_col: [key[0]] * len(sessions),
                "session_start": [
                    pd.to_datetime(s, unit="us") for s, _l, _n in sessions
                ],
                "session_end": [
                    pd.to_datetime(l, unit="us") for _s, l, _n in sessions
                ],
                "n_events": [n for _s, _l, n in sessions],
            }
        )

    def close_sessions(key, pdf_iter, state):
        if state.hasTimedOut:
            closed = [tuple(state.get)]
            state.remove()
            yield _emit(key, closed)
            return
        start_us, last_us, n = (
            state.get if state.exists else (None, None, 0)
        )
        # walk this batch's events in event-time order: a within-batch
        # gap CLOSES the running session immediately (no need to wait
        # for the watermark timer — the next event proves the gap)
        all_us: list[int] = []
        for pdf in pdf_iter:
            if len(pdf):
                all_us.extend(
                    int(v) for v in pdf[ts_col].astype("int64") // 1_000
                )
        all_us.sort()
        closed = []
        for t in all_us:
            if last_us is None:
                start_us, last_us, n = t, t, 1
            elif t // 1000 - last_us // 1000 > gap_ms:
                closed.append((start_us, last_us, n))
                start_us, last_us, n = t, t, 1
            else:
                last_us = max(last_us, t)
                n += 1
        if last_us is None:
            return
        state.update((start_us, last_us, n))
        # re-arm the close timer: fires when the watermark passes it
        # (the timer API takes milliseconds)
        state.setTimeoutTimestamp(last_us // 1000 + gap_ms)
        if closed:
            yield _emit(key, closed)

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            close_sessions, output_schema, state_schema,
            "append", "EventTimeTimeout",
        )
    )


def interval_event_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_delay: str = "30 minutes",
    watermark: str = "2 hours",
    right_prefix: str = "r_",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream (or batch) interval join: each left event pairs with
    right events on the same keys arriving within ``[left_ts, left_ts +
    max_delay]``.

    On streaming inputs both sides are watermarked — the time-range
    condition lets Spark bound the join state (left rows are evicted once
    ``left_ts + max_delay`` falls behind the right watermark), so state
    stays O(window x rate) at any scale instead of growing forever.  On
    batch inputs the identical plan runs as a normal range join (how the
    tests cross-check stream output against the batch answer).

    ``how="leftOuter"`` additionally emits unmatched left rows (right
    columns null) — but only once the watermark has passed their match
    window, so "no match" is final, not just "no match yet".  The outer
    join REQUIRES the time-range condition inside the join predicate
    (Spark rejects unbounded-state outer stream-stream joins).
    """
    l = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    r = right.withWatermark(right_ts, watermark) if right.isStreaming else right
    keep = [c for c in r.columns if c not in on]
    r = r.select(*on, *[F.col(c).alias(f"{right_prefix}{c}") for c in keep])
    p_right_ts = f"{right_prefix}{right_ts}"
    time_cond = (
        F.col(p_right_ts) >= F.col(left_ts)
    ) & (F.col(p_right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {max_delay}"))
    if how == "inner":
        # equi-keys via on= keeps one copy of the key columns; the range
        # condition can live in a post-join filter
        return l.join(r, on=on, how="inner").where(time_cond)
    if how not in ("leftOuter", "left", "left_outer"):
        # rightOuter/fullOuter would need the right-side key copies
        # coalesced back (they are dropped below) — unsupported here
        raise ValueError(f"how must be 'inner' or 'leftOuter', got {how!r}")
    # outer stream-stream joins need the FULL condition in the join
    # itself (a post-filter would see the null-padded rows).  Plain ==
    # (null-rejecting), so the matched subset equals the inner result —
    # null keys never match, exactly as with on=.
    eq = [l[c] == r[c] for c in on]
    cond = eq[0]
    for e in eq[1:]:
        cond = cond & e
    joined = l.join(r, on=cond & time_cond, how=how)
    return joined.drop(*[r[c] for c in on])


def enrich_with_static(
    stream: DataFrame,
    dim: DataFrame,
    *,
    on: list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: a streaming fact joined to a small
    static dimension.  The dimension is broadcast — no shuffle and no
    streaming state at all; Spark re-plans it per micro-batch, picking up
    dimension changes between batches."""
    return stream.join(F.broadcast(dim), on=on, how=how)


def run_to_memory(stream_df: DataFrame, query_name: str, output_mode: str = "complete") -> DataFrame:
    """Execute a bounded stream fully (availableNow) into a memory sink;
    returns the result as a batch DataFrame.

    The checkpoint (offsets + state store) goes to a throwaway temp dir
    on tmpfs when available — an acceptance drain's state is bounded
    and dies with the call, so paying disk fsync for it is pure
    overhead.  Durable production streams pass their own
    ``checkpointLocation`` on a real filesystem instead."""
    import shutil
    import tempfile

    ckpt = tempfile.mkdtemp(
        prefix=f"ayeaye-drain-{query_name}-",
        dir="/dev/shm" if os.path.isdir("/dev/shm") else None,
    )
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return stream_df.sparkSession.sql(f"SELECT * FROM {query_name}")
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
