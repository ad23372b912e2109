"""Structured Streaming: the batch-declared plans run as real streams."""

from pyspark.sql import functions as F

from ayeaye_spark.catalog import load
from ayeaye_spark.streaming import events as streamops

SF = "/root/testdata/sf0.001"


def _events_parquet(spark, tmp_path):
    """events table re-written with micro-precision timestamps (the raw
    table is TIMESTAMP(NANOS), which neither Spark batch nor streaming
    reads natively — catalog.load handles the conversion)."""
    path = str(tmp_path / "events_us.parquet")
    load(spark, SF, "events").write.mode("overwrite").parquet(path)
    return path


def _stream_from_parquet(spark, path):
    """A file-source stream over a parquet dir: replays the rows as
    micro-batches, so a streaming plan runs deterministically."""
    return spark.readStream.schema(spark.read.parquet(path).schema).parquet(path)


def test_windowed_counts_stream_equals_batch(spark, tmp_path):
    path = _events_parquet(spark, tmp_path)
    batch_df = spark.read.parquet(path)
    expected = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in streamops.windowed_counts(batch_df, group_cols=["event_type"]).collect()
    }

    stream_df = _stream_from_parquet(spark, path)
    assert stream_df.isStreaming
    agg = streamops.windowed_counts(stream_df, group_cols=["event_type"])
    result = streamops.run_to_memory(agg, "windowed_counts_test", output_mode="complete")
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in result.collect()
    }
    assert got == expected


def test_session_aggregate_stream_runs(spark, tmp_path):
    path = _events_parquet(spark, tmp_path)
    stream_df = _stream_from_parquet(spark, path)
    agg = streamops.session_aggregate(stream_df, gap="30 minutes", by=["user_id"])
    result = streamops.run_to_memory(agg, "session_agg_test", output_mode="complete")
    rows = result.collect()
    assert len(rows) > 0
    assert all(r["n_events"] >= 1 for r in rows)
    # sessions per user cover all events
    total = sum(r["n_events"] for r in rows)
    assert total == spark.read.parquet(path).count()


def test_stateful_stream_dedup(spark, tmp_path):
    """Streaming exact-dedup: dropDuplicates on a stream keeps state."""
    path = _events_parquet(spark, tmp_path)
    stream_df = _stream_from_parquet(spark, path)
    deduped = stream_df.select("user_id").dropDuplicates(["user_id"])
    result = streamops.run_to_memory(deduped, "stream_dedup_test", output_mode="append")
    assert result.count() == spark.read.parquet(path).select("user_id").distinct().count()


def test_stateful_running_totals(spark, tmp_path):
    """applyInPandasWithState accumulates across micro-batches; final
    totals equal the batch aggregate."""
    path = _events_parquet(spark, tmp_path)
    batch = spark.read.parquet(path)
    expected = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6))
        for r in streamops.stateful_running_totals(batch).collect()
    }

    stream_df = _stream_from_parquet(spark, path)
    out = streamops.stateful_running_totals(stream_df)
    q = (
        out.writeStream.format("memory").queryName("stateful_totals")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = spark.sql(
        "SELECT user_id, max(n_events) n, max(total_value) t "
        "FROM stateful_totals GROUP BY user_id"
    ).collect()
    got = {r["user_id"]: (r["n"], round(r["t"], 6)) for r in rows}
    assert got == expected


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode windowed agg with a 2h watermark: a row arriving after
    the watermark has advanced past it is dropped (batch-boundary
    semantics — the file must arrive in a later micro-batch, so the test
    drives two processAllAvailable rounds)."""
    import datetime

    d = tmp_path / "late_stream"
    d.mkdir()

    def write_batch(name, rows):
        df = spark.createDataFrame(rows, "ts timestamp, value double")
        df.coalesce(1).write.mode("overwrite").parquet(str(d / name))
        return str(d / name)

    t = datetime.datetime(2024, 6, 1, 10, 0, 0)

    def ts(hours):
        return t + datetime.timedelta(hours=hours)

    p1 = write_batch("b1", [(ts(0), 1.0), (ts(1), 1.0), (ts(2), 1.0)])
    schema = spark.read.parquet(p1).schema
    stream = spark.readStream.schema(schema).parquet(str(d / "*"))
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.sum("value").alias("v"))
        .select(F.col("win.start").alias("ws"), "v")
    )
    q = (
        agg.writeStream.format("memory").queryName("late_test")
        .outputMode("append").start()
    )
    q.processAllAvailable()                       # watermark -> 10:00
    write_batch("b2", [(ts(-2.0), 99.0), (ts(3), 1.0)])   # 08:00 is late
    q.processAllAvailable()
    dropped = sum(
        p["stateOperators"][0]["numRowsDroppedByWatermark"]
        for p in q.recentProgress if p["stateOperators"]
    )
    q.stop()
    emitted = {r["ws"]: r["v"] for r in spark.sql("SELECT * FROM late_test").collect()}
    assert dropped == 1
    assert ts(-2.0) not in emitted
    assert emitted.get(ts(0)) == 1.0


def test_foreach_batch_exactly_once(spark, tmp_path):
    """Replaying a committed batch_id must not duplicate data (the
    at-least-once foreachBatch contract made exactly-once by idempotency)."""
    from ayeaye_spark.streaming.sinks import idempotent_parquet_sink, read_all_batches

    path = _events_parquet(spark, tmp_path)
    out = str(tmp_path / "sink_out")
    stream = _stream_from_parquet(spark, path)
    sink = idempotent_parquet_sink(out)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_rows = spark.read.parquet(path).count()
    assert read_all_batches(spark, out).count() == n_rows

    # simulate a failure replay: same batch df + same batch_id again
    sink(spark.read.parquet(path), 0)
    assert read_all_batches(spark, out).count() == n_rows  # unchanged


def test_progress_logging_throttle(spark):
    """log_progress emits at most once per interval, with an ETA."""
    from ayeaye_spark import Model

    lines = []

    class M(Model):
        def build(self):
            pass

    m = M()
    m.log_to_stdout = False
    m.progress_log_interval = 0.0  # no throttle for the first assertions
    m.set_logger(lines.append)
    m.log_progress(0.5)
    assert any("PROGRESS 50.0%" in line and "eta" in line for line in lines)

    m2 = M()
    m2.log_to_stdout = False
    m2.progress_log_interval = 3600  # heavy throttle: second call suppressed
    seen = []
    m2.set_logger(seen.append)
    m2.log_progress(0.1)
    m2.log_progress(0.2)
    assert len([line for line in seen if "PROGRESS" in line]) == 1


def test_interval_join_stream_equals_batch(spark, tmp_path):
    """Stream-stream interval join (view -> later click per user) gives
    exactly the batch range-join answer on the same data."""
    path = _events_parquet(spark, tmp_path)
    batch = spark.read.parquet(path)
    views_b = batch.where(F.col("event_type") == "view").select("user_id", "ts", "event_id")
    clicks_b = batch.where(F.col("event_type") == "click").select("user_id", "ts", "event_id")

    def key_set(df):
        return {(r["event_id"], r["r_event_id"]) for r in df.collect()}

    expected = key_set(
        streamops.interval_event_join(
            views_b, clicks_b, on=["user_id"], max_delay="30 minutes"
        )
    )
    assert expected  # non-trivial join at sf0.001

    stream = _stream_from_parquet(spark, path)
    views_s = stream.where(F.col("event_type") == "view").select("user_id", "ts", "event_id")
    clicks_s = stream.where(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    joined = streamops.interval_event_join(
        views_s, clicks_s, on=["user_id"], max_delay="30 minutes"
    )
    got = key_set(streamops.run_to_memory(joined, "interval_join_test", output_mode="append"))
    assert got == expected


def test_enrich_with_static_broadcasts(spark, tmp_path):
    """Stream-static join: every micro-batch row is enriched from the
    broadcast dimension; no state, no shuffle of the stream side."""
    path = _events_parquet(spark, tmp_path)
    dim = spark.createDataFrame(
        [("view", 1.0), ("click", 5.0), ("purchase", 25.0)], ["event_type", "weight"]
    )
    stream = _stream_from_parquet(spark, path)
    enriched = streamops.enrich_with_static(stream, dim, on=["event_type"])
    result = streamops.run_to_memory(enriched, "enrich_test", output_mode="append")
    rows = result.collect()
    assert len(rows) == spark.read.parquet(path).count()
    weighted = [r for r in rows if r["weight"] is not None]
    batch_match = spark.read.parquet(path).where(
        F.col("event_type").isin("view", "click", "purchase")
    ).count()
    assert len(weighted) == batch_match


def test_stateful_totals_string_key(spark, tmp_path):
    """The state/output schema derives the key type from the input —
    string keys work, not just long."""
    import datetime

    rows = [("a", 1.0, datetime.datetime(2024, 1, 1, 10)),
            ("a", 2.0, datetime.datetime(2024, 1, 1, 11)),
            ("b", 5.0, datetime.datetime(2024, 1, 1, 12))]
    df = spark.createDataFrame(rows, ["name", "value", "ts"])
    path = str(tmp_path / "sk")
    df.write.parquet(path)

    stream_df = _stream_from_parquet(spark, path)
    out = streamops.stateful_running_totals(stream_df, key_col="name")
    q = (out.writeStream.format("memory").queryName("sk_totals")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {r["name"]: (r["n_events"], r["total_value"])
           for r in spark.sql("SELECT * FROM sk_totals").collect()}
    assert got == {"a": (2, 3.0), "b": (1, 5.0)}


def test_windowed_counts_custom_value_col(spark):
    import datetime

    rows = [(datetime.datetime(2024, 1, 1, 10, 5), 2.0),
            (datetime.datetime(2024, 1, 1, 10, 40), 3.0),
            (datetime.datetime(2024, 1, 1, 11, 10), 7.0)]
    df = spark.createDataFrame(rows, ["ts", "amount"])
    got = {r["window_start"].hour: (r["n_events"], r["sum_value"])
           for r in streamops.windowed_counts(df, value_col="amount").collect()}
    assert got == {10: (2, 5.0), 11: (1, 7.0)}


def test_interval_join_left_outer_stream(spark, tmp_path):
    """Outer stream-stream interval join: matched rows carry the right
    side, unmatched left rows are emitted null-padded once the watermark
    finalizes their window; the whole output equals the batch answer."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1, 10, 0, 0)

    def at(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    views = [(1, "u1", at(0)), (2, "u2", at(0)), (3, "u1", at(120))]
    clicks = [("u1", at(10), 100),            # matches view 1 (within 30m)
              ("u2", at(90), 200)]            # too late for view 2
    vdf = spark.createDataFrame(views, ["event_id", "user_id", "ts"])
    cdf = spark.createDataFrame(clicks, ["user_id", "ts", "click_id"])
    vdir, cdir = str(tmp_path / "v"), str(tmp_path / "c")
    vdf.write.parquet(vdir)
    cdf.write.parquet(cdir)

    def key_rows(df):
        return {(r["event_id"], r["r_click_id"]) for r in df.collect()}

    batch = streamops.interval_event_join(
        vdf, cdf, on=["user_id"], max_delay="30 minutes", how="leftOuter"
    )
    expected = key_rows(batch)
    assert expected == {(1, 100), (2, None), (3, None)}

    vs = _stream_from_parquet(spark, vdir)
    cs = _stream_from_parquet(spark, cdir)
    joined = streamops.interval_event_join(
        vs, cs, on=["user_id"], max_delay="30 minutes",
        watermark="1 minute", how="leftOuter",
    )
    got = key_rows(
        streamops.run_to_memory(joined, "outer_interval_test", output_mode="append")
    )
    # availableNow pre-plans with a stale watermark: unmatched rows whose
    # window the final watermark hasn't passed may be withheld — matched
    # rows must all be present, unmatched ones are a subset of expected
    assert {p for p in got if p[1] is not None} == {p for p in expected if p[1] is not None}
    assert got <= expected
    # view 2's match window ended 90 minutes before the final watermark:
    # its null-padded row MUST have been finalized and emitted
    assert (2, None) in got


def test_interval_join_outer_matches_inner_on_matched_subset(spark):
    """Null keys never match in either mode, and unsupported outer
    directions fail loudly."""
    import datetime

    import pytest as _pytest

    t = datetime.datetime(2024, 1, 1, 10, 0, 0)
    left = spark.createDataFrame([(1, None, t), (2, "u", t)],
                                 ["event_id", "user_id", "ts"])
    right = spark.createDataFrame([(None, t, 50), ("u", t, 60)],
                                  ["user_id", "ts", "click_id"])
    inner = streamops.interval_event_join(left, right, on=["user_id"])
    outer = streamops.interval_event_join(left, right, on=["user_id"],
                                          how="leftOuter")
    inner_keys = {(r["event_id"], r["r_click_id"]) for r in inner.collect()}
    outer_keys = {(r["event_id"], r["r_click_id"]) for r in outer.collect()}
    assert inner_keys == {(2, 60)}
    assert outer_keys == {(1, None), (2, 60)}  # null-keyed row unmatched

    with _pytest.raises(ValueError, match="leftOuter"):
        streamops.interval_event_join(left, right, on=["user_id"], how="fullOuter")


class TestRocksDBStateStore:
    def test_rocksdb_provider_produces_identical_results(self, spark):
        """The RocksDB state store (the bounded-memory backend for large
        stateful streams) must be a drop-in: same drained results as the
        default heap-backed provider on the windowed aggregate."""
        from ayeaye_spark.catalog import QUERIES
        from ayeaye_spark.streaming.events import ROCKSDB_PROVIDER, use_rocksdb_state

        sf = "/root/testdata/sf0.001"
        key = "spark.sql.streaming.stateStore.providerClass"
        baseline = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
            for r in QUERIES["events_stream_hourly_counts"](spark, sf).collect()
        }
        before = spark.conf.get(key, None)
        use_rocksdb_state(spark)
        try:
            assert spark.conf.get(key) == ROCKSDB_PROVIDER
            rocks = {
                (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
                for r in QUERIES["events_stream_hourly_counts"](spark, sf).collect()
            }
        finally:
            if before is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, before)
        assert rocks == baseline


class TestStreamTrending:
    def test_trending_matches_batch_twin(self, spark):
        """The sliding-window streaming top-k must equal the same
        ranking computed over the static table."""
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        from ayeaye_spark.catalog import QUERIES, load

        sf = "/root/testdata/sf0.001"
        stream_rows = sorted(
            map(tuple, QUERIES["events_stream_trending"](spark, sf).collect())
        )
        ev = load(spark, sf, "events")
        win = F.window(F.col("ts"), "1 hour", "30 minutes")
        batch_agg = (
            ev.groupBy(win.alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("win.start").alias("window_start"),
                    F.col("win.end").alias("window_end"),
                    "event_type", "n_events")
        )
        w = W.partitionBy("window_start").orderBy(
            F.desc("n_events"), F.asc("event_type"))
        batch_rows = sorted(map(tuple, (
            batch_agg.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 2)
            .select("window_start", "window_end", "event_type",
                    "n_events", "rank")
        ).collect()))
        assert stream_rows == batch_rows and len(stream_rows) > 0


def test_merge_upsert_sink_cdc_apply(spark, tmp_path):
    """Streaming CDC-apply: per-microbatch MERGE into a parquet target
    equals the batch merge of the same updates; replaying a batch is a
    no-op (idempotent by merge semantics, no batch-id tracking)."""
    from pyspark.sql import functions as F

    from ayeaye_spark.streaming import events as streamops
    from ayeaye_spark.streaming.sinks import merge_upsert_sink

    # an updates feed: two files = two micro-batches with maxFilesPerTrigger
    upd_dir = tmp_path / "updates"
    upd_dir.mkdir()
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10), (2, "b2", 11)], ["k", "v", "ts"]
    ).coalesce(1).write.parquet(str(upd_dir / "f1"))
    spark.createDataFrame(
        [(2, "c", 20), (3, "d", 20)], ["k", "v", "ts"]
    ).coalesce(1).write.parquet(str(upd_dir / "f2"))

    target = str(tmp_path / "serving")
    schema = spark.read.parquet(str(upd_dir / "f1")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(upd_dir / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            merge_upsert_sink(target, key="k", order_col="ts")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_merge"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {(r["k"], r["v"]) for r in spark.read.parquet(target).collect()}
    # k=1 from batch1; k=2 last-writer across both batches -> "c";
    # k=3 inserted by batch2
    assert got == {(1, "a"), (2, "c"), (3, "d")}

    # replay the SECOND batch (failure redelivery): target unchanged
    sink = merge_upsert_sink(target, key="k", order_col="ts")
    sink(spark.read.parquet(str(upd_dir / "f2")), 1)
    again = {(r["k"], r["v"]) for r in spark.read.parquet(target).collect()}
    assert again == got

    # an out-of-order LATE update (older ts) must not clobber the
    # newer row the target already holds
    late = spark.createDataFrame([(3, "stale", 5)], ["k", "v", "ts"])
    sink(late, 2)
    still = {(r["k"], r["v"]) for r in spark.read.parquet(target).collect()}
    assert still == got

    # batch-twin equality: the serving table equals max_by over ALL updates
    allupd = spark.read.parquet(str(upd_dir / "f1"), str(upd_dir / "f2"))
    twin = {(r["k"], r["v"]) for r in allupd.groupBy("k")
            .agg(F.expr("max_by(v, struct(ts, -k))").alias("v")).collect()}
    assert twin == got


def test_merge_upsert_sink_versioned_mode(spark, tmp_path):
    """versioned=True: each micro-batch publishes a v=N snapshot with a
    pointer-file commit; readers of the published table see the same
    CDC-applied state, and prior snapshots stay stable."""
    from ayeaye_spark.operators.maintenance import read_published
    from ayeaye_spark.streaming.sinks import merge_upsert_sink

    target = f"file://{tmp_path}/serving_v"
    sink = merge_upsert_sink(target, key="k", order_col="ts",
                             tiebreak_cols=["k"], versioned=True)
    sink(spark.createDataFrame([(1, "a", 10), (2, "b", 10)], ["k", "v", "ts"]), 0)
    snap0 = read_published(spark, target)
    assert {(r["k"], r["v"]) for r in snap0.collect()} == {(1, "a"), (2, "b")}

    sink(spark.createDataFrame([(2, "c", 20), (3, "d", 20)], ["k", "v", "ts"]), 1)
    assert {(r["k"], r["v"]) for r in read_published(spark, target).collect()} == {
        (1, "a"), (2, "c"), (3, "d")
    }
    # the in-flight reader's snapshot is untouched by the new publish
    assert {(r["k"], r["v"]) for r in snap0.collect()} == {(1, "a"), (2, "b")}

    # late out-of-order update still cannot clobber
    sink(spark.createDataFrame([(3, "stale", 5)], ["k", "v", "ts"]), 2)
    assert {(r["k"], r["v"]) for r in read_published(spark, target).collect()} == {
        (1, "a"), (2, "c"), (3, "d")
    }


def test_sessionize_with_timeout_emits_closed_sessions(spark, tmp_path):
    """Timer-based session close: sessions whose gap has been passed by
    the WATERMARK emit exactly once with their final (start, end, n);
    still-active sessions emit nothing.  Verified against the batch
    gap-sessionize twin on the closed population."""
    import datetime as dt

    from ayeaye_spark.streaming import events as streamops

    def ts(minute):
        return dt.datetime(2024, 1, 1, 10, minute)

    early = [  # two users, sessions ending by 10:20
        (1, ts(0)), (1, ts(5)), (1, ts(10)),
        (2, ts(2)), (2, ts(4)),
    ]
    late = [  # far beyond early sessions' gap+watermark -> closes them
        (1, dt.datetime(2024, 1, 2, 10, 0)),
        (3, dt.datetime(2024, 1, 2, 10, 1)),
    ]
    upd = tmp_path / "sessions_feed"
    upd.mkdir()
    spark.createDataFrame(early, "user_id long, ts timestamp") \
        .coalesce(1).write.parquet(str(upd / "f1"))
    spark.createDataFrame(late, "user_id long, ts timestamp") \
        .coalesce(1).write.parquet(str(upd / "f2"))

    schema = spark.read.parquet(str(upd / "f1")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(upd / "*"))
    )
    closed = streamops.sessionize_with_timeout(
        stream, gap_minutes=30, watermark="10 minutes"
    )
    q = (
        closed.writeStream.format("memory")
        .queryName("closed_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sessions"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.table("closed_sessions").collect()
    }
    # batch twin over the CLOSED population (the early file)
    batch = streamops.sessionize_with_timeout(
        spark.read.parquet(str(upd / "f1")), gap_minutes=30
    )
    want = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch.collect()
    }
    assert got == want
    assert got == {
        (1, ts(0), ts(10), 3),
        (2, ts(2), ts(4), 2),
    }
    # the last batch's sessions are still OPEN: not emitted
    assert not any(u == 3 for (u, *_z) in got)


def test_sessionize_subsecond_boundary_parity(spark, tmp_path):
    """Batch, streaming, and the epoch_ms oracle all compare gaps at
    MILLISECOND resolution, and emitted timestamps keep microsecond
    precision.  Two adversarial pairs at the 30-min boundary:

    - user 1: gap = 1800.2s.  Whole-second truncation sees 1800 (not >
      1800) and would MERGE; ms resolution sees 1800200 > 1800000 and
      SPLITS.  Splitting is correct (matches epoch_ms oracle).
    - user 2: gap = 1800.0002s with sub-ms fractions.  µs resolution
      would split (1800000200 > 1800000000); ms truncation sees exactly
      1800000 (not >) and MERGES.  Merging is correct.
    """
    import datetime as dt

    import duckdb

    from ayeaye_spark.streaming import events as streamops

    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        # user 1: second-truncated diff == 1800, ms diff == 1800200
        (1, base + dt.timedelta(microseconds=400_000)),
        (1, base + dt.timedelta(seconds=1800, microseconds=600_000)),
        # user 2: ms-truncated diff == 1800000 exactly, µs diff larger
        (2, base + dt.timedelta(microseconds=700)),
        (2, base + dt.timedelta(seconds=1800, microseconds=900)),
    ]
    late = [(9, dt.datetime(2024, 1, 3, 10, 0))]  # closes everything
    feed = tmp_path / "subsec_feed"
    feed.mkdir()
    spark.createDataFrame(rows, "user_id long, ts timestamp") \
        .coalesce(1).write.parquet(str(feed / "f1"))
    spark.createDataFrame(late, "user_id long, ts timestamp") \
        .coalesce(1).write.parquet(str(feed / "f2"))

    batch = streamops.sessionize_with_timeout(
        spark.read.parquet(str(feed / "f1")), gap_minutes=30
    )
    got_batch = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch.collect()
    }
    want = {
        (1, rows[0][1], rows[0][1], 1),  # split at ms resolution
        (1, rows[1][1], rows[1][1], 1),
        (2, rows[2][1], rows[3][1], 2),  # merged: ms diff == gap, not >
    }
    assert got_batch == want

    # the epoch_ms oracle agrees (same resolution contract)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ev AS SELECT * FROM "
        f"read_parquet('{feed / 'f1'}/*.parquet')"
    )
    n_oracle = con.execute(
        """
        WITH gaps AS (
          SELECT user_id, ts,
                 CASE WHEN LAG(ts) OVER w IS NULL
                      OR epoch_ms(ts) - epoch_ms(LAG(ts) OVER w) > 1800000
                      THEN 1 ELSE 0 END AS new_s
          FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
        )
        SELECT user_id, sid, COUNT(*) FROM (
          SELECT user_id, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM gaps) GROUP BY user_id, sid
        """
    ).fetchall()
    assert len(n_oracle) == len(want)

    # streaming twin: identical rows, microseconds preserved end-to-end
    schema = spark.read.parquet(str(feed / "f1")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed / "*"))
    )
    closed = streamops.sessionize_with_timeout(
        stream, gap_minutes=30, watermark="10 minutes"
    )
    q = (
        closed.writeStream.format("memory")
        .queryName("subsec_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_subsec"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got_stream = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.table("subsec_sessions").collect()
    }
    assert got_stream == want  # incl. exact µs in session_start/end


class TestStreamDecontam:
    def test_stream_static_anti_join_equals_batch_twin(self, spark):
        """docs_stream_decontam (stream-static left_anti on eval
        fingerprints + complete-mode rollup) must equal the identical
        batch pipeline."""
        from ayeaye_spark.catalog import QUERIES
        from ayeaye_spark.operators import dedup

        sf = "/root/testdata/sf0.001"
        stream_rows = sorted(
            map(tuple, QUERIES["docs_stream_decontam"](spark, sf).collect())
        )
        docs = load(spark, sf, "documents")
        eval_fp = (
            dedup.with_fingerprint(docs.where(F.col("doc_id") % 5 == 0), "text")
            .select("fingerprint").distinct()
        )
        batch = (
            dedup.with_fingerprint(docs.where(F.col("doc_id") % 5 != 0), "text")
            .join(eval_fp, on="fingerprint", how="left_anti")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").cast("bigint").alias("total_chars"))
        )
        batch_rows = sorted(map(tuple, batch.collect()))
        assert stream_rows == batch_rows and len(stream_rows) >= 1


class TestStreamQualityMonitor:
    def test_stream_quality_rollup_equals_batch_twin(self, spark):
        """docs_stream_quality_monitor (per-micro-batch quality + Gopher
        gate, complete-mode per-lang rollup) must equal the identical
        batch pipeline — integer-exact mean included."""
        from ayeaye_spark.catalog import QUERIES
        from ayeaye_spark.operators import text as textops

        sf = "/root/testdata/sf0.001"
        stream_rows = sorted(
            map(tuple, QUERIES["docs_stream_quality_monitor"](spark, sf).collect())
        )
        scored = textops.with_gopher_flags(
            textops.with_quality_score(load(spark, sf, "documents"), "text",
                                       out_col="qp"),
            "text",
        )
        batch = scored.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("gopher_pass").cast("long")).alias("n_pass"),
            F.expr("sum(qp) div count(1)").alias("mean_quality_ppm"),
        )
        batch_rows = sorted(map(tuple, batch.collect()))
        assert stream_rows == batch_rows and len(stream_rows) >= 1
        # the gate actually separates: somewhere between 0% and 100%
        total = sum(r[1] for r in stream_rows)
        passed = sum(r[2] for r in stream_rows)
        assert 0 < passed < total


class TestHllStateSink:
    def test_incremental_sketch_state_matches_direct_and_exact(self, spark, tmp_path):
        """Multi-batch sketch folding must equal a one-shot sketch over
        all data (mergeability) — and, at this cardinality, the exact
        distinct count (HLL is exact in its small-set regime)."""
        from ayeaye_spark.streaming.sinks import hll_state_sink, read_hll_state

        path = str(tmp_path / "ev")
        ev = load(spark, SF, "events")
        # 4 files => 4 micro-batches under maxFilesPerTrigger=1
        ev.repartition(4).write.mode("overwrite").parquet(path)
        state = str(tmp_path / "hll_state")
        sink = hll_state_sink(state, group_cols=["event_type"], value_col="user_id")
        stream = (
            spark.readStream.schema(spark.read.parquet(path).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        got = {r["event_type"]: r["distinct_est"]
               for r in read_hll_state(spark, state).collect()}

        batch = spark.read.parquet(path)
        direct = {
            r["event_type"]: r["est"]
            for r in batch.groupBy("event_type")
            .agg(F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(12))).cast("long").alias("est"))
            .collect()
        }
        exact = {
            r["event_type"]: r["n"]
            for r in batch.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n")).collect()
        }
        assert got == direct          # incremental fold == one-shot sketch
        assert got == exact           # small-set regime: sketch is exact

    def test_replayed_batch_id_is_skipped(self, spark, tmp_path):
        from ayeaye_spark.streaming.sinks import hll_state_sink, read_hll_state

        df = spark.createDataFrame(
            [("a", i) for i in range(50)], "event_type string, user_id long"
        )
        state = str(tmp_path / "st")
        sink = hll_state_sink(state, group_cols=["event_type"], value_col="user_id")
        sink(df, 0)
        before = {r["event_type"]: r["distinct_est"]
                  for r in read_hll_state(spark, state).collect()}
        sink(df, 0)  # replay: must be a no-op, not a double fold
        after = {r["event_type"]: r["distinct_est"]
                 for r in read_hll_state(spark, state).collect()}
        assert after == before == {"a": 50}

    def test_missing_state_raises(self, spark, tmp_path):
        import pytest

        from ayeaye_spark.streaming.sinks import read_hll_state

        with pytest.raises(FileNotFoundError):
            read_hll_state(spark, str(tmp_path / "nope"))


class TestMinhashDedupSink:
    BASE = "the quick brown fox jumps over the lazy dog again and again today"

    def test_dedup_on_arrival_across_batches(self, spark, tmp_path):
        from ayeaye_spark.streaming.sinks import minhash_dedup_sink, read_dedup_state

        state = str(tmp_path / "dedup_state")
        sink = minhash_dedup_sink(
            state, id_col="doc_id", text_col="text",
            n=3, k=16, bands=4, threshold=0.5,
        )
        kw = "doc_id long, text string"
        # batch 0: two near-dups of each other + one distinct
        sink(spark.createDataFrame(
            [(1, self.BASE), (2, self.BASE + " extra"),
             (3, "completely unrelated words none match at all here")], kw), 0)
        s0 = {r["doc_id"] for r in read_dedup_state(spark, state).collect()}
        assert s0 == {1, 3}  # 2 near-dups smaller-id 1 within the batch

        # batch 1: a near-dup of history (dropped) + a fresh doc (kept)
        sink(spark.createDataFrame(
            [(10, self.BASE + " tail"), (11, "genuinely new content phrase "
              "with several different tokens")], kw), 1)
        s1 = {r["doc_id"] for r in read_dedup_state(spark, state).collect()}
        assert s1 == {1, 3, 11}

        # replay batch 1: no-op (exactly-once)
        sink(spark.createDataFrame(
            [(10, self.BASE + " tail"), (11, "genuinely new content phrase "
              "with several different tokens")], kw), 1)
        assert {r["doc_id"] for r in read_dedup_state(spark, state).collect()} == s1

    def test_streamed_drain_matches_manual_folds(self, spark, tmp_path):
        from ayeaye_spark.streaming.sinks import minhash_dedup_sink, read_dedup_state

        rows = [(i, self.BASE) for i in range(4)]  # one cluster
        rows += [(100 + i, f"unique document number {i} with its own "
                  f"distinct words alpha{i} beta{i}") for i in range(6)]
        path = str(tmp_path / "docs")
        spark.createDataFrame(rows, "doc_id long, text string").repartition(
            3
        ).write.mode("overwrite").parquet(path)
        state = str(tmp_path / "st2")
        sink = minhash_dedup_sink(
            state, id_col="doc_id", text_col="text",
            n=3, k=16, bands=4, threshold=0.5,
        )
        q = (
            spark.readStream.schema(spark.read.parquet(path).schema)
            .option("maxFilesPerTrigger", 1).parquet(path)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        got = {r["doc_id"] for r in read_dedup_state(spark, state).collect()}
        # exactly one survivor of the clone cluster; all unique docs kept
        assert got & {0, 1, 2, 3}
        assert len(got & {0, 1, 2, 3}) == 1
        assert {100 + i for i in range(6)} <= got


def test_minhash_dedup_sink_resumes_across_restarts(spark, tmp_path):
    """Stop/restart semantics: a second availableNow run with the SAME
    checkpoint picks up only the new files, batch ids continue, and the
    survivor state folds forward (no refold of already-committed
    batches)."""
    import os

    from ayeaye_spark.streaming.sinks import minhash_dedup_sink, read_dedup_state

    base = "the quick brown fox jumps over the lazy dog again and again today"
    src = str(tmp_path / "in")
    os.makedirs(src)
    schema = "doc_id long, text string"
    spark.createDataFrame(
        [(1, base), (2, "unique first-phase document with its own words")],
        schema,
    ).coalesce(1).write.mode("overwrite").parquet(src + "/f1")

    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    sink = minhash_dedup_sink(
        state, id_col="doc_id", text_col="text",
        n=3, k=16, bands=4, threshold=0.5,
    )

    def drain():
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(src + "/f*")
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    drain()
    s1 = {r["doc_id"] for r in read_dedup_state(spark, state).collect()}
    assert s1 == {1, 2}
    versions_after_first = sorted(os.listdir(state))

    # "restart": new arrivals land, the SAME checkpoint resumes
    spark.createDataFrame(
        [(10, base + " tail"),  # near-dup of committed history: dropped
         (11, "second-phase genuinely novel content entirely")],
        schema,
    ).coalesce(1).write.mode("overwrite").parquet(src + "/f2")
    drain()
    s2 = {r["doc_id"] for r in read_dedup_state(spark, state).collect()}
    assert s2 == {1, 2, 11}
    versions_after_second = sorted(os.listdir(state))
    # batch ids continued: strictly more committed versions, none redone
    assert set(versions_after_first) < set(versions_after_second)


class TestThetaStateSink:
    def test_incremental_fold_supports_set_algebra(self, spark, tmp_path):
        """The stored states must union incrementally AND support
        intersection/difference afterwards — month-over-month retention
        from sketches, exact in the sub-nominal regime."""
        from pyspark.sql import functions as F

        from ayeaye_spark.streaming.sinks import read_theta_state, theta_state_sink

        state = str(tmp_path / "theta")
        sink = theta_state_sink(state, group_cols=["period"], value_col="user_id")
        kw = "period string, user_id long"
        # period A users 0..79; fold in two batches (exercises the union)
        sink(spark.createDataFrame([("A", i) for i in range(40)], kw), 0)
        sink(spark.createDataFrame(
            [("A", i) for i in range(40, 80)]
            + [("B", i) for i in range(50, 130)], kw), 1)

        est = {r["period"]: r["distinct_est"]
               for r in read_theta_state(spark, state).collect()}
        assert est == {"A": 80, "B": 80}

        # set algebra on the STORED sketches: A∩B = 50..79 (30 users),
        # A\B = 0..49 (50 users)
        wide = read_theta_state(spark, state).groupBy().agg(
            F.max(F.when(F.col("period") == "A", F.col("sketch"))).alias("sa"),
            F.max(F.when(F.col("period") == "B", F.col("sketch"))).alias("sb"),
        )
        r = wide.selectExpr(
            "CAST(theta_sketch_estimate(theta_intersection(sa, sb)) AS BIGINT) AS both",
            "CAST(theta_sketch_estimate(theta_difference(sa, sb)) AS BIGINT) AS only_a",
        ).collect()[0]
        assert r["both"] == 30 and r["only_a"] == 50

        # replay skip
        sink(spark.createDataFrame([("A", 999)], kw), 1)
        est2 = {r["period"]: r["distinct_est"]
                for r in read_theta_state(spark, state).collect()}
        assert est2 == est

    def test_missing_state_raises(self, spark, tmp_path):
        import pytest

        from ayeaye_spark.streaming.sinks import read_theta_state

        with pytest.raises(FileNotFoundError):
            read_theta_state(spark, str(tmp_path / "none"))


def test_state_sinks_on_explicit_scheme_path(spark, tmp_path):
    """State dirs given as explicit ``file:///`` URIs — replay-skip,
    version retention, and latest-state discovery must all resolve
    through the Hadoop FS API (an ``os.path`` probe on the URI string
    never matches, so any regression to local-path probing shows up as
    a double fold / unpruned dir / FileNotFoundError here).  This is
    the local stand-in for ``s3a://``/``hdfs://`` state dirs."""
    import os

    from ayeaye_spark.streaming.sinks import (
        hll_state_sink, idempotent_parquet_sink, read_all_batches,
        read_hll_state,
    )

    local = tmp_path / "st"
    state = "file://" + str(local)  # => file:///… URI, not a bare path
    sink = hll_state_sink(
        state, group_cols=["g"], value_col="v", keep_versions=2
    )
    kw = "g string, v long"
    for b in range(3):
        sink(spark.createDataFrame(
            [("a", i) for i in range(b * 10, b * 10 + 10)], kw), b)
    # retention pruned through the URI (inspect the underlying local dir)
    dirs = sorted(d for d in os.listdir(local) if d.startswith("v="))
    assert dirs == ["v=1", "v=2"]
    # latest-state discovery through the URI
    got = {r["g"]: r["distinct_est"]
           for r in read_hll_state(spark, state).collect()}
    assert got == {"a": 30}
    # replay of the latest batch: skip (probe through the URI)
    sink(spark.createDataFrame([("a", 999)], kw), 2)
    assert {r["g"]: r["distinct_est"]
            for r in read_hll_state(spark, state).collect()} == got

    # idempotent parquet sink: same contract on a file:/// out_dir
    out_local = tmp_path / "batches"
    out = "file://" + str(out_local)
    psink = idempotent_parquet_sink(out)
    df = spark.createDataFrame([("x", 1)], kw)
    psink(df, 0)
    psink(spark.createDataFrame([("y", 2)], kw), 0)  # replay: skipped
    rows = [tuple(r) for r in read_all_batches(spark, out).collect()]
    assert rows == [("x", 1, 0)]


def test_state_sink_version_retention(spark, tmp_path):
    """Versioned sketch-state dirs stay bounded: only the newest
    keep_versions committed snapshots survive, the reader still sees
    the full fold, and a replay of the LATEST batch still skips."""
    import os

    from ayeaye_spark.streaming.sinks import hll_state_sink, read_hll_state

    state = str(tmp_path / "st")
    sink = hll_state_sink(
        state, group_cols=["g"], value_col="v", keep_versions=2
    )
    kw = "g string, v long"
    for b in range(4):
        sink(spark.createDataFrame(
            [("a", i) for i in range(b * 10, b * 10 + 10)], kw), b)
    dirs = sorted(d for d in os.listdir(state) if d.startswith("v="))
    assert dirs == ["v=2", "v=3"]  # pruned to the newest two
    got = {r["g"]: r["distinct_est"]
           for r in read_hll_state(spark, state).collect()}
    assert got == {"a": 40}  # the fold itself lost nothing
    sink(spark.createDataFrame([("a", 999)], kw), 3)  # replay latest: skip
    got2 = {r["g"]: r["distinct_est"]
            for r in read_hll_state(spark, state).collect()}
    assert got2 == got


class TestUrlDedupSink:
    def test_dedup_on_arrival_and_replay(self, spark, tmp_path):
        from ayeaye_spark.streaming.sinks import (
            read_url_dedup_state, url_dedup_sink,
        )

        state = str(tmp_path / "url_state")
        sink = url_dedup_sink(state, id_col="doc_id", url_col="url")
        kw = "doc_id long, url string"
        # batch 0: two variants of one page + one distinct + a NULL
        sink(spark.createDataFrame(
            [(2, "HTTP://Example.COM:80/a/?utm_source=x&b=2&a=1#f"),
             (1, "http://example.com/a?a=1&b=2"),
             (3, "https://other.com/b"),
             (4, None)], kw), 0)
        s0 = {(r["canonical_url"], r["id"])
              for r in read_url_dedup_state(spark, state).collect()}
        assert s0 == {("http://example.com/a?a=1&b=2", 1),
                      ("https://other.com/b", 3)}

        # batch 1: a re-crawl variant of history (dropped; history's id
        # stays) + a fresh page (kept)
        sink(spark.createDataFrame(
            [(10, "http://EXAMPLE.com/a?b=2&a=1&gclid=z"),
             (11, "https://fresh.net/new")], kw), 1)
        s1 = {(r["canonical_url"], r["id"])
              for r in read_url_dedup_state(spark, state).collect()}
        assert s1 == s0 | {("https://fresh.net/new", 11)}

        # replay batch 1: no-op (exactly-once)
        sink(spark.createDataFrame(
            [(10, "http://EXAMPLE.com/a?b=2&a=1&gclid=z"),
             (11, "https://fresh.net/new")], kw), 1)
        assert {(r["canonical_url"], r["id"])
                for r in read_url_dedup_state(spark, state).collect()} == s1

    def test_streamed_drain_on_file_uri_state(self, spark, tmp_path):
        """Drain through a real availableNow stream with the state dir
        given as an explicit file:/// URI (Hadoop FS path handling)."""
        import os

        from pyspark.sql import functions as F

        from ayeaye_spark.streaming.sinks import (
            read_url_dedup_state, url_dedup_sink,
        )

        rows = [(i, f"https://site-{i % 4}.com/page?utm_c={i}")
                for i in range(12)]
        path = str(tmp_path / "in")
        spark.createDataFrame(rows, "doc_id long, url string").repartition(
            3
        ).write.mode("overwrite").parquet(path)
        state = "file://" + str(tmp_path / "st")
        sink = url_dedup_sink(state, id_col="doc_id", url_col="url")
        q = (
            spark.readStream.schema(spark.read.parquet(path).schema)
            .option("maxFilesPerTrigger", 1).parquet(path)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        got = read_url_dedup_state(spark, state)
        # tracking params stripped -> 4 distinct canonical pages, and
        # each survivor is the smallest id seen for its page ACROSS the
        # drain order (ids 0..3 arrive in batch order by file split —
        # the invariant that holds regardless of split is min-per-page
        # within first-arrival batch; check canonical count + no dups)
        assert got.count() == 4
        assert got.select("canonical_url").distinct().count() == 4
        assert {r["canonical_url"] for r in got.collect()} == {
            f"https://site-{k}.com/page" for k in range(4)
        }


def test_stream_url_dedup_matches_batch_twin(spark):
    """The streaming drain's survivor-set size must equal the BATCH
    canonical-URL dedup count on the same fixture (the value-exact
    docs_url_dedup twin)."""
    from ayeaye_spark.catalog import QUERIES

    sf = "/root/testdata/sf0.001"
    stream_row = QUERIES["docs_stream_url_dedup"](spark, sf).collect()[0]
    batch = QUERIES["docs_url_dedup"](spark, sf)
    assert stream_row["n_pages"] == batch.count()
    # single-batch availableNow drain: survivors are min-id per page,
    # so the id checksum matches the batch twin's too
    from pyspark.sql import functions as F

    batch_sum = batch.agg(F.sum("keep_id")).collect()[0][0]
    assert stream_row["id_checksum"] == batch_sum
