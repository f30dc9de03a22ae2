"""Structured-Streaming mode: file-source changelog tail -> foreachBatch
apply -> checkpointed restart. Port of the reference's continuous-mode
contract (poll loop + resume, StreamRunner.scala:196-258) onto real
Spark Structured Streaming."""

import os

from arcane_stream_sqlserver_change_tracking_spark.plans.lake import LakeTable
from arcane_stream_sqlserver_change_tracking_spark.sources.changelog import (
    synth_transcripts_changelog,
)
from arcane_stream_sqlserver_change_tracking_spark.streaming.runner import (
    CdcEngine,
    EngineOptions,
)
from arcane_stream_sqlserver_change_tracking_spark.streaming.stream import (
    changelog_file_stream,
    run_stream,
)

from helpers import TRANSCRIPTS_SCHEMA, assert_tables_equal, oracle_final_state, sorted_pdf

PAYLOAD_COLS = ["conv_id", "turn_idx", "role", "text", "ts"]
OUT_COLS = PAYLOAD_COLS + ["sys_change_version"]


def _land_chunks(spark, directory, total, chunk, offset=0, seed=3):
    """Write parquet change files into the tailed directory — the shape
    a WAL/CHANGETABLE shipper would land."""
    os.makedirs(directory, exist_ok=True)
    full = synth_transcripts_changelog(spark, total + offset, num_convs=150, seed=seed)
    for lo in range(offset, total + offset, chunk):
        part = full.filter(
            (full.sys_change_version > lo) & (full.sys_change_version <= lo + chunk)
        )
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(
            pa.Table.from_pandas(part.toPandas()),
            os.path.join(directory, f"chunk-{lo:08d}.parquet"),
            coerce_timestamps="us",
        )
    return full


def test_stream_drain_restart_exactly_once(spark, tmp_path):
    land_dir = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    eng = CdcEngine(
        spark,
        LakeTable(spark, str(tmp_path / "t")),
        EngineOptions(num_buckets=8),
    )
    eng.bootstrap(TRANSCRIPTS_SCHEMA)

    # phase 1: land 3 chunks, drain with availableNow (one micro-batch
    # per file via maxFilesPerTrigger=1)
    full = _land_chunks(spark, land_dir, total=6000, chunk=2000)
    schema = full.schema
    q = run_stream(
        eng,
        changelog_file_stream(spark, land_dir, schema, max_files_per_trigger=1),
        ckpt,
        available_now=True,
    )
    q.awaitTermination(120)
    assert not q.isActive
    assert len(eng.metrics) == 3
    assert eng.table.watermark()["version"] == 6000

    got = sorted_pdf(eng.current_state(), OUT_COLS)
    want = oracle_final_state(full.toPandas(), PAYLOAD_COLS)
    assert_tables_equal(got, want)

    # phase 2: land 2 more chunks (a version continuation), restart the
    # stream on the SAME checkpoint — only the new files are processed
    full2 = _land_chunks(spark, land_dir, total=4000, chunk=2000, offset=6000)
    q2 = run_stream(
        eng,
        changelog_file_stream(spark, land_dir, schema, max_files_per_trigger=1),
        ckpt,
        available_now=True,
    )
    q2.awaitTermination(120)
    assert eng.table.watermark()["version"] == 10000
    got2 = sorted_pdf(eng.current_state(), OUT_COLS)
    want2 = oracle_final_state(full2.toPandas(), PAYLOAD_COLS)
    assert_tables_equal(got2, want2)

    # phase 3: fresh checkpoint replays ALL files (at-least-once
    # delivery) — nothing is above the engine's watermark, so no batch
    # applies and state stays untouched: exactly-once end to end
    snap_before = eng.table.current_snapshot().snapshot_id
    n_batches_before = len(eng.metrics)
    q3 = run_stream(
        eng,
        changelog_file_stream(spark, land_dir, schema, max_files_per_trigger=1),
        str(tmp_path / "ckpt2"),
        available_now=True,
    )
    q3.awaitTermination(120)
    replayed = eng.metrics[n_batches_before:]
    assert replayed == []
    assert eng.table.current_snapshot().snapshot_id == snap_before
    got3 = sorted_pdf(eng.current_state(), OUT_COLS)
    assert_tables_equal(got3, want2)


def test_stream_runs_maintenance_and_chunks(spark, tmp_path, monkeypatch):
    """A Structured-Streaming micro-batch drains like a poll: the T2
    shaper splits each 2,000-row micro-batch into 1,000-event batches,
    and the K7 maintenance cadence runs every second applied batch."""
    maintained_at = []
    real_maintenance = CdcEngine.run_maintenance

    def recording_maintenance(self):
        maintained_at.append(self.table.watermark()["version"])
        return real_maintenance(self)

    monkeypatch.setattr(CdcEngine, "run_maintenance", recording_maintenance)
    land_dir = str(tmp_path / "landing")
    eng = CdcEngine(
        spark,
        LakeTable(spark, str(tmp_path / "t")),
        EngineOptions(num_buckets=8, max_events_per_batch=1000,
                      maintenance_interval_batches=2),
    )
    eng.bootstrap(TRANSCRIPTS_SCHEMA)
    full = _land_chunks(spark, land_dir, total=4000, chunk=2000, seed=5)
    q = run_stream(
        eng,
        changelog_file_stream(spark, land_dir, full.schema, max_files_per_trigger=1),
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)
    assert not q.isActive
    assert len(eng.metrics) == 4
    assert eng.table.watermark()["version"] == 4000
    assert maintained_at == [2000, 4000]
    got = sorted_pdf(eng.current_state(), OUT_COLS)
    assert_tables_equal(got, oracle_final_state(full.toPandas(), PAYLOAD_COLS))


def test_stream_schema_evolution_across_restart(spark, tmp_path):
    """Reference live-DDL contract (SchemaMigrationTests.scala:160-207)
    in streaming form: phase-2 landed files carry a new ``tool``
    column; the restarted stream's batches evolve the target schema and
    pre-evolution rows read as NULL in the new column."""
    land_dir = str(tmp_path / "landing")
    eng = CdcEngine(
        spark,
        LakeTable(spark, str(tmp_path / "t")),
        EngineOptions(num_buckets=8),
    )
    eng.bootstrap(TRANSCRIPTS_SCHEMA)

    full1 = _land_chunks(spark, land_dir, total=3000, chunk=1500, seed=9)
    q = run_stream(
        eng,
        changelog_file_stream(spark, land_dir, full1.schema, max_files_per_trigger=1),
        str(tmp_path / "ckpt1"),
        available_now=True,
    )
    q.awaitTermination(120)
    assert "tool" not in [f.name for f in eng.table.schema().fields]

    # source evolves: new files carry `tool`
    import pyarrow as pa
    import pyarrow.parquet as pq

    full2 = synth_transcripts_changelog(
        spark, 4500, num_convs=150, seed=9, with_tool=True
    ).filter("sys_change_version > 3000")
    pq.write_table(
        pa.Table.from_pandas(full2.toPandas()),
        os.path.join(land_dir, "chunk-evolved.parquet"),
        coerce_timestamps="us",
    )
    q2 = run_stream(
        eng,
        changelog_file_stream(spark, land_dir, full2.schema, max_files_per_trigger=1),
        str(tmp_path / "ckpt2"),  # new schema => new query/checkpoint
        available_now=True,
    )
    q2.awaitTermination(120)

    assert "tool" in [f.name for f in eng.table.schema().fields]
    state = eng.current_state()
    # pre-evolution rows null-padded; some post-evolution tool rows present
    pre = state.filter("sys_change_version <= 3000")
    assert pre.filter("tool is not null").count() == 0
    assert state.filter("tool is not null").count() > 0
    assert eng.table.watermark()["version"] == 4500


def test_stream_processing_time_trigger(spark, tmp_path):
    """Continuous mode (changeCaptureInterval analog): a
    processingTime-triggered query picks up files landed while running."""
    import time

    land_dir = str(tmp_path / "landing")
    eng = CdcEngine(
        spark,
        LakeTable(spark, str(tmp_path / "t")),
        EngineOptions(num_buckets=8),
    )
    eng.bootstrap(TRANSCRIPTS_SCHEMA)
    full = _land_chunks(spark, land_dir, total=2000, chunk=2000, seed=13)
    q = run_stream(
        eng,
        changelog_file_stream(spark, land_dir, full.schema, max_files_per_trigger=2),
        str(tmp_path / "ckpt"),
        processing_time="1 seconds",
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and (eng.table.watermark()["version"] < 2000):
            time.sleep(0.5)
        assert eng.table.watermark()["version"] == 2000

        # land more while the query is live
        full2 = _land_chunks(spark, land_dir, total=2000, chunk=2000,
                             offset=2000, seed=13)
        deadline = time.time() + 60
        while time.time() < deadline and (eng.table.watermark()["version"] < 4000):
            time.sleep(0.5)
        assert eng.table.watermark()["version"] == 4000
    finally:
        q.stop()

    got = sorted_pdf(eng.current_state(), OUT_COLS)
    want = oracle_final_state(full2.toPandas(), PAYLOAD_COLS)
    assert_tables_equal(got, want)


def test_poll_intervals_deterministic_jitter():
    """T1 jitter parity (changeCaptureJitterVariance/Seed): same seed ->
    same delay sequence; delays bounded by interval + variance."""
    from itertools import islice

    from arcane_stream_sqlserver_change_tracking_spark.streaming.stream import (
        poll_intervals,
    )

    a = list(islice(poll_intervals(15.0, 5.0, jitter_seed=7), 10))
    b = list(islice(poll_intervals(15.0, 5.0, jitter_seed=7), 10))
    c = list(islice(poll_intervals(15.0, 5.0, jitter_seed=8), 10))
    assert a == b
    assert a != c
    assert all(15.0 <= d < 20.0 for d in a)
    assert len(set(a)) > 1  # actually jittered
    no_jitter = list(islice(poll_intervals(15.0), 3))
    assert no_jitter == [15.0, 15.0, 15.0]


def test_poll_loop_drains_per_tick(spark, lake_root):
    """Each poll tick applies only what is newly pending; sleeps follow
    the jittered schedule (injected clock)."""
    from pyspark.sql import functions as F

    from arcane_stream_sqlserver_change_tracking_spark.streaming.stream import (
        poll_loop,
    )

    eng = CdcEngine(spark, LakeTable(spark, lake_root), EngineOptions(num_buckets=8))
    eng.bootstrap(TRANSCRIPTS_SCHEMA)
    log = synth_transcripts_changelog(spark, 3000, num_convs=40, seed=11)
    visible = {"v": 1000}

    def provider():
        return log.filter(F.col("sys_change_version") <= visible["v"])

    slept = []

    def fake_sleep(d):
        slept.append(d)
        visible["v"] += 1000  # more changes "arrive" between ticks

    results = poll_loop(
        eng, provider, interval_seconds=15.0, max_ticks=3,
        jitter_variance_seconds=5.0, jitter_seed=3, sleep=fake_sleep,
    )
    assert len(slept) == 3
    assert all(15.0 <= d < 20.0 for d in slept)
    assert eng.table.watermark()["version"] == 3000
    assert sum(r.rows_deduped for r in results) > 0
