"""Sessionization + event-time windows: batch/stream equivalence of the
applyInPandasWithState custom stateful operator (state carried across
micro-batches) and watermark late-data semantics of the windowed agg."""

import os

import pandas as pd
from pyspark.sql import functions as F

from arcane_stream_sqlserver_change_tracking_spark.operators.sessions import (
    session_stats,
    sessionize,
    sessionize_stream,
    windowed_event_counts,
)


def _write_chunk(spark, path, rows):
    """rows: (event_id, user_id, ts_str, value) — one parquet FILE per
    chunk (the shape a shipper lands; keeps maxFilesPerTrigger=1 ==
    one micro-batch per chunk)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "ts", "value"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    pdf["event_type"] = "x"
    pq.write_table(pa.Table.from_pandas(pdf), path, coerce_timestamps="us")
    # the file stream source orders files by modification time: chunks
    # written within one millisecond would be read in directory-listing
    # order, so each chunk lands a second after the newest file there
    land = os.path.dirname(path)
    mtime = max(os.path.getmtime(os.path.join(land, f)) for f in os.listdir(land)) + 1
    os.utime(path, (mtime, mtime))


def test_sessionize_batch_gap_semantics(spark):
    rows = [
        (1, 7, "2024-01-01 10:00:00", 1.0),
        (2, 7, "2024-01-01 10:10:00", 1.0),   # same session (10 min gap)
        (3, 7, "2024-01-01 11:30:00", 1.0),   # new session (80 min gap)
        (4, 8, "2024-01-01 10:00:00", 1.0),
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "ts", "value"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    df = spark.createDataFrame(pdf)
    out = {
        (r["user_id"], r["session_idx"]): r["n_events"]
        for r in session_stats(df, gap_seconds=1800).collect()
    }
    assert out == {(7, 1): 2, (7, 2): 1, (8, 1): 1}
    # single Exchange for both window functions
    plan = sessionize(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


def test_sessionize_stream_state_across_batches(spark, tmp_path):
    """A session straddling two micro-batches must stay ONE session
    (GroupState carried); a gap inside batch 2 closes and emits it."""
    land = str(tmp_path / "landing")
    os.makedirs(land)
    # batch 1: user 1 session A starts; user 2 full session + gap later
    _write_chunk(spark, f"{land}/c1.parquet", [
        (1, 1, "2024-01-01 10:00:00", 1.0),
        (2, 1, "2024-01-01 10:10:00", 1.0),
        (3, 2, "2024-01-01 09:00:00", 1.0),
    ])
    # batch 2: user 1 continues session A (10 min after batch 1's last),
    # then gaps -> A closes; user 2 far later -> their session closes
    _write_chunk(spark, f"{land}/c2.parquet", [
        (4, 1, "2024-01-01 10:20:00", 1.0),
        (5, 1, "2024-01-01 13:00:00", 1.0),
        (6, 2, "2024-01-01 23:00:00", 1.0),
    ])
    schema = spark.read.parquet(land).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(land)
    )
    q = (
        sessionize_stream(stream, gap_seconds=1800)
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], str(r["session_start"]), str(r["session_end"])): r["n_events"]
        for r in spark.sql("select * from sess_out").collect()
    }
    # user 1's session A spans BOTH batches: 10:00-10:20, 3 events
    assert got[(1, "2024-01-01 10:00:00", "2024-01-01 10:20:00")] == 3
    # user 2's batch-1 session closed by the 23:00 event
    assert got[(2, "2024-01-01 09:00:00", "2024-01-01 09:00:00")] == 1
    # open sessions (1@13:00, 2@23:00) are not emitted
    assert len(got) == 2


def test_windowed_agg_watermark_drops_late(spark, tmp_path):
    """Streaming tumbling-window agg with withWatermark: a row arriving
    below the watermark is dropped; finalized windows emit once."""
    land = str(tmp_path / "landing")
    os.makedirs(land)
    _write_chunk(spark, f"{land}/c1.parquet", [
        (1, 1, "2024-01-01 10:05:00", 1.0),
        (2, 1, "2024-01-01 10:45:00", 2.0),
        (3, 1, "2024-01-01 12:05:00", 4.0),   # advances watermark past 11:00
    ])
    # batch 2 emits the finalized 10:00 window (watermark 12:04) and
    # advances the watermark past 13:00
    _write_chunk(spark, f"{land}/c2.parquet", [
        (5, 1, "2024-01-01 14:00:00", 8.0),
    ])
    # batch 3: a row for the ALREADY-FINALIZED 10:00 window — dropped
    # (its state is gone; append mode guarantees no duplicate window
    # emission). Note Spark's watermark is a finalization bound, not a
    # strict row filter: a late row arriving while its window state is
    # still open would be absorbed, which is why this row lands after
    # the window's eviction.
    _write_chunk(spark, f"{land}/c3.parquet", [
        (4, 1, "2024-01-01 10:30:00", 100.0),
    ])
    schema = spark.read.parquet(land).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(land)
        # watermarks require TIMESTAMP (ltz); parquet lands NTZ — a
        # relabel under the UTC session tz
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 minute")
    )
    q = (
        windowed_event_counts(stream, "1 hour")
        .writeStream.format("memory")
        .queryName("win_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        str(r["window_start"]): (r["n"], r["sum_value"])
        for r in spark.sql("select * from win_out").collect()
    }
    # 10:00 window finalized after batch 1 — late row NOT counted
    assert rows["2024-01-01 10:00:00"] == (2, 3.0)
    # 12:00 window finalized after batch 2's watermark advance
    assert rows["2024-01-01 12:00:00"] == (1, 4.0)
    # 14:00 window still open (watermark 13:59) -> not emitted
    assert "2024-01-01 14:00:00" not in rows


def test_sessionize_stream_quiet_key_evicted_by_watermark(spark, tmp_path):
    """With watermark_delay set, a key with NO further events must have
    its open session closed (emitted) and its state removed purely by
    watermark advance — the EventTimeTimeout path that keeps streaming
    state bounded on an unbounded key space."""
    land = str(tmp_path / "landing")
    os.makedirs(land)
    # batch 1: user 1 and user 2 each open a session at 10:00
    _write_chunk(spark, f"{land}/c1.parquet", [
        (1, 1, "2024-01-01 10:00:00", 1.0),
        (2, 2, "2024-01-01 10:00:00", 1.0),
    ])
    # batch 2: only user 2 speaks, far later — advances the watermark to
    # 22:59, past user 1's gap window (10:00 + 30 min). User 1's session
    # must close via timeout alone; user 2's 10:00 session closes via
    # the in-fold gap; user 2's 23:00 session stays open (not emitted).
    _write_chunk(spark, f"{land}/c2.parquet", [
        (3, 2, "2024-01-01 23:00:00", 1.0),
    ])
    schema = spark.read.parquet(land).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(land)
    )
    q = (
        sessionize_stream(stream, gap_seconds=1800, watermark_delay="1 minute")
        .writeStream.format("memory")
        .queryName("sess_evict")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], str(r["session_start"]), str(r["session_end"])): r["n_events"]
        for r in spark.sql("select * from sess_evict").collect()
    }
    assert got[(1, "2024-01-01 10:00:00", "2024-01-01 10:00:00")] == 1
    assert got[(2, "2024-01-01 10:00:00", "2024-01-01 10:00:00")] == 1
    assert len(got) == 2


def test_sessionize_stream_late_event_does_not_split(spark, tmp_path):
    """A late-but-in-watermark event (t below the carried frontier) must
    extend the open session, not regress last_us — otherwise the next
    in-order event can spuriously split the session (diverging from the
    batch twin)."""
    land = str(tmp_path / "landing")
    os.makedirs(land)
    # batch 1: session frontier at 10:20
    _write_chunk(spark, f"{land}/c1.parquet", [
        (1, 1, "2024-01-01 10:00:00", 1.0),
        (2, 1, "2024-01-01 10:20:00", 1.0),
    ])
    # batch 2: a LATE event at 09:55 (before the frontier, inside the
    # session+gap) then an in-order event at 10:40. With the regression
    # bug (last_us := 09:55) the 10:40 event would be >gap away and
    # split; correct behavior keeps one session 09:55→10:40. The final
    # far event closes it so it emits.
    _write_chunk(spark, f"{land}/c2.parquet", [
        (3, 1, "2024-01-01 09:55:00", 1.0),
        (4, 1, "2024-01-01 10:40:00", 1.0),
        (5, 1, "2024-01-01 20:00:00", 1.0),
    ])
    schema = spark.read.parquet(land).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(land)
    )
    q = (
        sessionize_stream(stream, gap_seconds=1800)
        .writeStream.format("memory")
        .queryName("sess_late")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from sess_late").collect()
    assert len(got) == 1
    r = got[0]
    assert str(r["session_start"]) == "2024-01-01 09:55:00"
    assert str(r["session_end"]) == "2024-01-01 10:40:00"
    assert r["n_events"] == 4


def test_sessionize_stream_early_late_event_is_own_session(spark, tmp_path):
    """A late event more than a gap EARLIER than the open session's
    start must be emitted as its own separate earlier session — what
    the batch twin's global sort produces — not silently folded into
    the open session via min/max (ADVICE r3)."""
    land = str(tmp_path / "landing")
    os.makedirs(land)
    # batch 1: open session 10:00–10:05
    _write_chunk(spark, f"{land}/c1.parquet", [
        (1, 1, "2024-01-01 10:00:00", 1.0),
        (2, 1, "2024-01-01 10:05:00", 1.0),
    ])
    # batch 2: a late event at 08:00 — 2h before the session start,
    # far beyond the 30-min gap; plus a far-future event to close the
    # open session so both emit
    _write_chunk(spark, f"{land}/c2.parquet", [
        (3, 1, "2024-01-01 08:00:00", 1.0),
        (4, 1, "2024-01-01 20:00:00", 1.0),
    ])
    schema = spark.read.parquet(land).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(land)
    )
    q = (
        sessionize_stream(stream, gap_seconds=1800)
        .writeStream.format("memory")
        .queryName("sess_early")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        spark.sql("select * from sess_early").collect(),
        key=lambda r: r["session_start"],
    )
    assert [
        (str(r["session_start"]), str(r["session_end"]), r["n_events"])
        for r in got
    ] == [
        ("2024-01-01 08:00:00", "2024-01-01 08:00:00", 1),
        ("2024-01-01 10:00:00", "2024-01-01 10:05:00", 2),
    ]


def test_sessionize_stream_multi_chunk_groups(spark, tmp_path):
    """applyInPandasWithState delivers a key's rows as MULTIPLE Arrow
    chunks in shuffle order; the fold must sort across all chunks, not
    per chunk (forced here with a 2-row Arrow batch size)."""
    land = str(tmp_path / "landing")
    os.makedirs(land)
    # one user, 8 events inside one session, written in scrambled order
    times = [
        "2024-01-01 10:07:00", "2024-01-01 10:01:00", "2024-01-01 10:05:00",
        "2024-01-01 10:00:00", "2024-01-01 10:06:00", "2024-01-01 10:02:00",
        "2024-01-01 10:04:00", "2024-01-01 10:03:00",
    ]
    rows = [(i, 1, t, 1.0) for i, t in enumerate(times)]
    # a later far-away event closes the session so it gets emitted
    rows.append((99, 1, "2024-01-01 20:00:00", 1.0))
    _write_chunk(spark, f"{land}/c1.parquet", rows)

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        schema = spark.read.parquet(land).schema
        stream = spark.readStream.schema(schema).parquet(land)
        q = (
            sessionize_stream(stream, gap_seconds=1800)
            .writeStream.format("memory")
            .queryName("sess_chunks")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    got = spark.sql("select * from sess_chunks").collect()
    assert len(got) == 1
    r = got[0]
    assert str(r["session_start"]) == "2024-01-01 10:00:00"
    assert str(r["session_end"]) == "2024-01-01 10:07:00"
    assert r["n_events"] == 8
