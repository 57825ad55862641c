"""Structured Streaming tests: watermarked windowed aggregation,
stateful sessionization and streaming dedup."""

from pyspark.sql import functions as F

from osm2pgsql_spark.streaming.stream_jobs import windowed_event_counts


def test_windowed_event_counts_batch_semantics(spark):
    # the same plan works on batch DataFrames (watermark is a no-op)
    events = spark.createDataFrame(
        [
            ("2024-01-01 00:10:00", "click", 1.0),
            ("2024-01-01 00:50:00", "click", 2.0),
            ("2024-01-01 01:10:00", "view", 5.0),
        ],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = windowed_event_counts(events).collect()
    by_key = {(str(r["window_start"]), r["event_type"]): r["n"] for r in out}
    assert by_key[("2024-01-01 00:00:00", "click")] == 2
    assert by_key[("2024-01-01 01:00:00", "view")] == 1


def test_windowed_streaming_source(spark, tmp_path):
    # real streaming source -> memory sink, availableNow trigger
    src = str(tmp_path / "events")
    spark.createDataFrame(
        [("2024-01-01 00:10:00", "click", 1.0), ("2024-01-01 00:20:00", "click", 3.0)],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(src)

    stream = spark.readStream.schema("ts timestamp, event_type string, value double").parquet(src)
    agg = windowed_event_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    # append mode only emits closed windows; with availableNow the
    # watermark advances at end-of-stream, closing the only window
    rows = spark.sql("select * from win_counts").collect()
    assert len(rows) <= 1  # 0 if watermark didn't close it, 1 if it did
    if rows:
        assert rows[0]["n"] == 2


def test_sessionize_stream_stateful(spark, tmp_path):
    """applyInPandasWithState sessionizer: gap splits emit closed
    sessions; the open tail session closes when the watermark passes
    its horizon in a later trigger."""
    from osm2pgsql_spark.streaming.sessionize_stream import sessionize_stream

    src = str(tmp_path / "events")
    out = str(tmp_path / "sessions")
    ckpt = str(tmp_path / "ckpt2")
    schema = "event_id long, ts timestamp, user_id long"

    def write_events(rows):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)

    def run_once():
        events = spark.readStream.schema(schema).parquet(src)
        q = (
            sessionize_stream(events, gap_us=600 * 1_000_000, watermark="10 minutes")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    import datetime as dt

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    # user 7: two events 5 min apart (one session), then a 20-min gap
    # splits; user 8: a single event
    write_events(
        [
            (1, ts(0), 7),
            (2, ts(5), 7),
            (3, ts(25), 7),
            (4, ts(0), 8),
        ]
    )
    run_once()

    # second file far in the future: the watermark advances past every
    # open session's horizon and times them out
    write_events([(5, ts(600), 9)])
    run_once()
    write_events([(6, ts(1200), 9)])
    run_once()

    rows = spark.read.parquet(out).collect()
    got = {
        (r["user_id"], r["session_start_us"] // 60_000_000, r["n_events"])
        for r in rows
    }
    base_min = int(t0.timestamp()) // 60
    # user 7 session 1: events at +0,+5 (2 events); session 2: +25 (1);
    # user 8: one event at +0
    assert (7, base_min + 0, 2) in got
    assert (7, base_min + 25, 1) in got
    assert (8, base_min + 0, 1) in got


def test_sessionize_stream_out_of_order_within_watermark(spark, tmp_path):
    """A late-but-valid event must not move the open session's end
    backwards (regression: `last` was assigned unconditionally)."""
    from osm2pgsql_spark.streaming.sessionize_stream import sessionize_stream

    src = str(tmp_path / "ooo_events")
    out = str(tmp_path / "ooo_sessions")
    ckpt = str(tmp_path / "ooo_ckpt")
    schema = "event_id long, ts timestamp, user_id long"

    import datetime as dt

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    def run_once():
        events = spark.readStream.schema(schema).parquet(src)
        q = (
            sessionize_stream(events, gap_us=600 * 1_000_000, watermark="2 hours")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame([(1, ts(0), 5), (2, ts(8), 5)], schema).write.mode(
        "append"
    ).parquet(src)
    run_once()
    # late event (ts=4) arrives in batch 2, then ts=17: 9 min after the
    # true last event (8) -> still ONE session of 4 events
    spark.createDataFrame([(3, ts(4), 5), (4, ts(17), 5)], schema).write.mode(
        "append"
    ).parquet(src)
    run_once()
    # advance watermark far enough to flush
    spark.createDataFrame([(9, ts(600), 6)], schema).write.mode("append").parquet(src)
    run_once()
    spark.createDataFrame([(10, ts(1200), 6)], schema).write.mode("append").parquet(src)
    run_once()

    rows = [r for r in spark.read.parquet(out).collect() if r["user_id"] == 5]
    assert len(rows) == 1
    r = rows[0]
    assert r["n_events"] == 4
    assert r["session_end_us"] // 60_000_000 == int(t0.timestamp()) // 60 + 17


def test_dedup_stream_exact_across_batches(spark, tmp_path):
    """Streaming dedup must drop duplicates that arrive in LATER
    micro-batches (cross-batch state), not just within one batch."""
    import datetime as dt

    from osm2pgsql_spark.streaming.dedup_stream import dedup_stream

    src_dir = str(tmp_path / "docs_in")
    out_dir = str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "ckpt_dd")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    schema = "doc_id long, ts timestamp, text string"
    batch1 = [(1, t0, "alpha"), (2, t0, "beta"), (3, t0, "alpha")]
    spark.createDataFrame(batch1, schema).write.mode("append").parquet(src_dir)

    stream = spark.readStream.schema(schema).parquet(src_dir)
    deduped = dedup_stream(stream, key="exact", watermark_delay="1 hour")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # second batch: one true duplicate of batch 1, one new doc
    batch2 = [(4, t0 + dt.timedelta(minutes=5), "beta"),
              (5, t0 + dt.timedelta(minutes=5), "gamma")]
    spark.createDataFrame(batch2, schema).write.mode("append").parquet(src_dir)
    q = (
        dedup_stream(
            spark.readStream.schema(schema).parquet(src_dir),
            key="exact", watermark_delay="1 hour",
        )
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(r["text"] for r in spark.read.parquet(out_dir).collect())
    assert got == ["alpha", "beta", "gamma"]


def test_gopher_quality_filter_on_stream(spark, tmp_path):
    """The round-8 shuffle-free Gopher signals are pure stateless
    column expressions, so they run UNCHANGED inside Structured
    Streaming (the aggregation-based formulation could not — per-doc
    groupBy in a stream needs watermark/output-mode machinery).  A
    streaming quality filter is just readStream -> select -> where."""
    from osm2pgsql_spark.operators.quality import gopher_exprs

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (1, "the same line\nthe same line\nthe same line"),
            (2, "a perfectly ordinary document with varied words here"),
        ],
        "doc_id bigint, text string",
    ).write.parquet(src)

    stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
    ex = gopher_exprs(F.col("text"))
    scored = stream.select(
        "doc_id",
        ex["dup_line_frac"].alias("dup_line_frac"),
        ex["mean_word_len"].alias("mean_word_len"),
    ).where(F.col("dup_line_frac") < 0.5)
    q = (
        scored.writeStream.format("memory")
        .queryName("quality_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql("select * from quality_stream").collect()
    assert [r["doc_id"] for r in rows] == [2]
    assert rows[0]["mean_word_len"] > 0


def test_bloom_dedup_stream_across_batches(spark, tmp_path):
    """Fixed-size Bloom ingest dedup: duplicates never pass across
    micro-batches; the register state persists and merges per batch;
    re-running new batches continues from the saved state."""
    from osm2pgsql_spark.streaming.dedup_stream import bloom_dedup_stream

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    state = str(tmp_path / "bloom_state")
    ckpt = str(tmp_path / "ckpt")

    # batch 1: a, b (+ intra-batch dup of a)
    spark.createDataFrame(
        [(1, "doc a"), (2, "doc b"), (3, "doc a")], "doc_id long, text string"
    ).write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = bloom_dedup_stream(stream, out, state, ckpt, m_bits=1 << 12, k=4)
    q.awaitTermination(120)

    kept1 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept1 == {1, 2}

    # batch 2: dup of a (cross-batch), new c
    spark.createDataFrame(
        [(4, "doc a"), (5, "doc c")], "doc_id long, text string"
    ).write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = bloom_dedup_stream(stream, out, state, ckpt, m_bits=1 << 12, k=4)
    q.awaitTermination(120)

    kept2 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept2 == {1, 2, 5}

    # state is the portable sketch: registers equal a batch build over
    # the three kept distinct texts
    from osm2pgsql_spark.operators import sketch

    want = {
        (r["word"], r["bits"])
        for r in sketch.bloom_registers(
            spark.createDataFrame(
                [("doc a",), ("doc b",), ("doc c",)], "text string"
            ),
            "text", 1 << 12, 4,
        ).collect()
    }
    got = {(r["word"], r["bits"])
           for r in spark.read.parquet(state).collect()}
    assert got == want


def test_bloom_state_swap_crash_recovery(spark, tmp_path):
    """The rename-aside swap never leaves zero state: a crash between
    the rename-aside and the promote parks the previous registers at
    `.old`, and the next batch's read recovers them — previously-seen
    duplicates stay deduplicated (r10 ADVICE medium)."""
    import os

    from osm2pgsql_spark.streaming.dedup_stream import (
        _read_bloom_state, bloom_dedup_batch,
    )

    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    b1 = spark.createDataFrame(
        [(1, "doc a"), (2, "doc b")], "doc_id long, text string")
    bloom_dedup_batch(spark, b1, out, state, m_bits=1 << 12, k=4)

    # simulate a crash mid-swap: state renamed aside, promote not done
    os.rename(state, state + ".old")
    reg, have = _read_bloom_state(spark, state)
    assert have and os.path.exists(state) and not os.path.exists(state + ".old")

    # the recovered state still dedups batch-1 docs
    b2 = spark.createDataFrame(
        [(3, "doc a"), (4, "doc c")], "doc_id long, text string")
    bloom_dedup_batch(spark, b2, out, state, m_bits=1 << 12, k=4)
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {1, 2, 4}


def test_bloom_state_read_raises_on_corrupt_state(spark, tmp_path):
    """A present-but-unreadable state directory must raise, not be
    silently treated as 'first batch' (which would re-admit every
    previously-seen duplicate)."""
    import pytest as _pt

    from osm2pgsql_spark.streaming.dedup_stream import _read_bloom_state

    state = tmp_path / "state"
    state.mkdir()
    (state / "part-00000.parquet").write_bytes(b"not a parquet file")
    with _pt.raises(Exception) as ei:
        _read_bloom_state(spark, str(state))
    assert "PATH_NOT_FOUND" not in str(ei.value)


def test_bloom_swap_kill_between_write_and_rename(spark, tmp_path):
    """r13 VERDICT #8: kill injected after the new registers land at
    `.tmp` but before ANY rename: the live state is untouched, the
    stale tmp is overwritten by the retry, and the retry converges to
    the post-batch state — either-old-or-new, never zero state."""
    import os

    from osm2pgsql_spark.streaming import dedup_stream as DS

    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    b1 = spark.createDataFrame(
        [(1, "doc a"), (2, "doc b")], "doc_id long, text string")
    DS.bloom_dedup_batch(spark, b1, out, state, m_bits=1 << 12, k=4)
    reg_before = {
        (r["word"], r["bits"])
        for r in spark.read.parquet(state).collect()
    }

    class Killed(RuntimeError):
        pass

    real_rename = os.rename

    def kill_on_rename(src, dst):
        if src.endswith(".tmp") or dst.endswith(".old"):
            raise Killed("kill injected between tmp write and rename")
        return real_rename(src, dst)

    b2 = spark.createDataFrame(
        [(3, "doc a"), (4, "doc c")], "doc_id long, text string")
    os.rename = kill_on_rename
    try:
        try:
            DS.bloom_dedup_batch(spark, b2, out, state, m_bits=1 << 12, k=4)
            raise AssertionError("kill injection did not fire")
        except Killed:
            pass
    finally:
        os.rename = real_rename

    # crash state: live registers untouched, complete tmp beside them
    assert os.path.exists(state) and os.path.exists(state + ".tmp")
    reg, have = DS._read_bloom_state(spark, state)
    assert have
    got = {(r["word"], r["bits"]) for r in reg.collect()}
    assert got == reg_before  # OLD state — the swap never began

    # retry of the batch (foreachBatch re-delivery) converges: doc 4
    # admitted once, doc 3 still a duplicate, tmp consumed
    DS.bloom_dedup_batch(spark, b2, out, state, m_bits=1 << 12, k=4)
    assert not os.path.exists(state + ".tmp")
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert {1, 2, 4}.issubset(kept) and 3 not in kept


def test_bloom_swap_kill_before_first_promote(spark, tmp_path):
    """Kill before the FIRST batch's promote (no prior state): both
    state and .old are absent, so the next read is a clean first
    batch and the retry lands the full state."""
    import os

    from osm2pgsql_spark.streaming import dedup_stream as DS

    out = str(tmp_path / "out")
    state = str(tmp_path / "state")

    class Killed(RuntimeError):
        pass

    real_rename = os.rename

    def kill_on_promote(src, dst):
        if src.endswith(".tmp"):
            raise Killed("kill injected before first promote")
        return real_rename(src, dst)

    b1 = spark.createDataFrame(
        [(1, "doc a"), (2, "doc b")], "doc_id long, text string")
    os.rename = kill_on_promote
    try:
        try:
            DS.bloom_dedup_batch(spark, b1, out, state, m_bits=1 << 12, k=4)
            raise AssertionError("kill injection did not fire")
        except Killed:
            pass
    finally:
        os.rename = real_rename

    reg, have = DS._read_bloom_state(spark, state)
    assert not have  # genuinely first-batch state, not an error
    DS.bloom_dedup_batch(spark, b1, out, state, m_bits=1 << 12, k=4)
    assert os.path.exists(state) and not os.path.exists(state + ".tmp")
    b2 = spark.createDataFrame(
        [(3, "doc a")], "doc_id long, text string")
    DS.bloom_dedup_batch(spark, b2, out, state, m_bits=1 << 12, k=4)
    kept = sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect())
    assert 3 not in kept and {1, 2}.issubset(set(kept))
