"""Crash-window recovery: the commit protocol guarantees readers see
old-or-new state, never torn; uncommitted data files are invisible
garbage swept by remove_orphan_files; replay after any crash converges
to the oracle state (reference exactly-once contract,
StreamRunner.scala:250-258 + staging sweep docs/crd.md:45-48)."""

import os

import pytest
from pyspark.sql import functions as F

from arcane_stream_sqlserver_change_tracking_spark.plans.lake import LakeTable
from arcane_stream_sqlserver_change_tracking_spark.sources.changelog import (
    synth_transcripts_changelog,
)
from arcane_stream_sqlserver_change_tracking_spark.streaming.runner import (
    CdcEngine,
    EngineOptions,
)

from helpers import TRANSCRIPTS_SCHEMA, assert_tables_equal, oracle_final_state, sorted_pdf

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PAYLOAD_COLS = ["conv_id", "turn_idx", "role", "text", "ts"]
OUT_COLS = PAYLOAD_COLS + ["sys_change_version"]


def _engine(spark, root):
    eng = CdcEngine(
        spark, LakeTable(spark, root), EngineOptions(num_buckets=8)
    )
    eng.bootstrap(TRANSCRIPTS_SCHEMA)
    return eng


def test_crash_between_write_and_commit(spark, lake_root):
    eng = _engine(spark, lake_root)
    table = eng.table
    log = synth_transcripts_changelog(spark, 4000, num_convs=60, seed=5)
    eng.run_incremental(log.filter(F.col("sys_change_version") <= 2000))
    snap_before = table.current_snapshot()
    state_before = sorted_pdf(eng.current_state(), OUT_COLS)
    n_files_before = len(os.listdir(table.data_dir))

    # simulate a crash DURING batch 2: data files land in data/ but the
    # manifest pointer is never swung
    batch2 = eng._prepare(
        log.filter(F.col("sys_change_version") > 2000)
    ).drop("__b", "__n")
    orphan_entries = table._write_parts(batch2, snapshot_id=999)
    assert orphan_entries and len(os.listdir(table.data_dir)) > n_files_before

    # readers are unaffected: current snapshot and state are unchanged
    assert table.current_snapshot().snapshot_id == snap_before.snapshot_id
    assert_tables_equal(sorted_pdf(eng.current_state(), OUT_COLS), state_before)

    # startup sweep removes exactly the garbage
    deleted = table.remove_orphan_files(older_than_seconds=0)
    assert sorted(deleted) == sorted(e["path"] for e in orphan_entries)

    # resume: re-drain from the committed watermark converges to oracle
    eng.run_incremental(log)
    want = oracle_final_state(log.toPandas(), PAYLOAD_COLS)
    assert_tables_equal(sorted_pdf(eng.current_state(), OUT_COLS), want)
    assert eng.table.watermark()["version"] == 4000


def test_resume_is_noop_when_fully_applied(spark, lake_root):
    eng = _engine(spark, lake_root)
    log = synth_transcripts_changelog(spark, 3000, num_convs=50, seed=6)
    eng.run_incremental(log)
    sid = eng.table.current_snapshot().snapshot_id
    # a second engine instance (fresh process analog) resumes: nothing
    # pending, no new snapshot
    eng2 = CdcEngine(eng.spark, LakeTable(eng.spark, eng.table.root),
                     EngineOptions(num_buckets=8))
    results = eng2.run_incremental(log)
    assert results == []
    assert eng2.table.current_snapshot().snapshot_id == sid


def test_sharded_backfill_resumes_without_redoing_shards(spark, lake_root, monkeypatch):
    """Kill a sharded backfill mid-flight: re-invoking it stages only the
    missing shards (completed ones are served from the persisted backfill
    state), the staged files survive the startup orphan sweep, and the
    final state equals an uninterrupted single-shot backfill."""
    from arcane_stream_sqlserver_change_tracking_spark.plans.lake import (
        BackfillStateError,
    )

    # uninterrupted reference run
    eng_ref = _engine(spark, lake_root + "_ref")
    snap_src = synth_transcripts_changelog(spark, 3000, num_convs=50, seed=7)
    eng_ref.backfill(snap_src, capture_version=3000)
    want = sorted_pdf(eng_ref.current_state(), OUT_COLS)

    eng = _engine(spark, lake_root)
    table = eng.table

    # crash after 2 of 4 shards: make the 3rd staged write raise
    calls = {"n": 0}
    real_stage = LakeTable.stage_backfill_shard

    def flaky_stage(self, df, bid, shard, total, **kw):
        if calls["n"] == 2:
            raise RuntimeError("simulated crash mid-backfill")
        calls["n"] += 1
        return real_stage(self, df, bid, shard, total, **kw)

    monkeypatch.setattr(LakeTable, "stage_backfill_shard", flaky_stage)
    try:
        eng.backfill(snap_src, capture_version=3000, shards=4)
        raise AssertionError("expected simulated crash")
    except RuntimeError as e:
        assert "simulated crash" in str(e)
    state = table.backfill_state()
    assert sorted(state["completed"]) == ["0", "1"]
    # nothing visible yet; startup sweep spares the staged shards
    assert table.read().count() == 0
    table.remove_orphan_files(older_than_seconds=0)
    assert sorted(table.backfill_state()["completed"]) == ["0", "1"]

    # resume (fresh engine = restarted process): completed shards are not
    # re-staged — count actual write jobs
    monkeypatch.setattr(LakeTable, "stage_backfill_shard", real_stage)
    writes = {"n": 0}
    real_write = LakeTable._write_parts

    def counting_write(self, *a, **kw):
        writes["n"] += 1
        return real_write(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "_write_parts", counting_write)
    eng2 = CdcEngine(spark, LakeTable(spark, lake_root), EngineOptions(num_buckets=8))
    eng2.backfill(snap_src, capture_version=3000, shards=4)
    assert writes["n"] == 2  # only shards 2 and 3
    assert eng2.table.backfill_state() is None  # state cleared on commit
    assert eng2.table.watermark()["version"] == 3000
    assert_tables_equal(sorted_pdf(eng2.current_state(), OUT_COLS), want)

    # change capture resumes from the captured version with no gap
    more = synth_transcripts_changelog(spark, 4000, num_convs=50, seed=7)
    eng2.run_incremental(more)
    eng_ref.run_incremental(more)
    assert_tables_equal(
        sorted_pdf(eng2.current_state(), OUT_COLS),
        sorted_pdf(eng_ref.current_state(), OUT_COLS),
    )

    # a different shard geometry against leftover state fails fast
    eng3 = _engine(spark, lake_root + "_geom")
    monkeypatch.setattr(LakeTable, "_write_parts", real_write)
    t3 = eng3.table
    t3.stage_backfill_shard(
        eng3.table.read(), "bf-a", 0, 2
    )
    try:
        t3.stage_backfill_shard(eng3.table.read(), "bf-b", 0, 3)
        raise AssertionError("expected BackfillStateError")
    except BackfillStateError:
        pass


def test_racing_writers_replan_and_converge(spark, lake_root, monkeypatch):
    """Two engines race on one table (reference queryRetryMode, CRD
    crd-microsoft-sql-server-stream.yaml:181-211). Writer B plans its
    merge against the pre-race snapshot; writer A lands a full commit
    inside B's plan-to-commit window. The base-snapshot validation must
    turn B's commit into a CommitConflictError (NOT a silent lost
    update), and with retry_mode="always" B re-plans against A's commit
    so the final state equals sequential application. With the default
    retry_mode="never" the loser raises."""
    import pytest

    from arcane_stream_sqlserver_change_tracking_spark.plans.lake import (
        CommitConflictError,
    )

    log = synth_transcripts_changelog(spark, 4000, num_convs=60, seed=9)
    b1 = log.filter(F.col("sys_change_version") <= 2000)
    b2 = log.filter(F.col("sys_change_version") > 2000)

    # sequential oracle
    eng_seq = _engine(spark, lake_root + "_seq")
    eng_seq.run_incremental(log)
    want = sorted_pdf(eng_seq.current_state(), OUT_COLS)

    eng_a = _engine(spark, lake_root)
    eng_b = CdcEngine(
        spark, LakeTable(spark, lake_root),
        EngineOptions(num_buckets=8, retry_mode="always",
                      retry_base_seconds=0.01),
    )

    # interpose: the first commit attempt from B's table triggers A's
    # full apply of b1 — A commits inside B's plan→commit window
    fired = {"x": False}
    real_rb = LakeTable.replace_buckets

    def racing_rb(self, *a, **kw):
        if self is eng_b.table and not fired["x"]:
            fired["x"] = True
            eng_a.run_incremental(b1)
        return real_rb(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "replace_buckets", racing_rb)
    [res] = eng_b.run_incremental(b2)
    assert not res.skipped and res.max_version == 4000

    # both batches landed; final state equals sequential application
    assert eng_b.table.watermark()["version"] == 4000
    assert_tables_equal(sorted_pdf(eng_b.current_state(), OUT_COLS), want)

    # default retry_mode="never": the loser of the same race raises
    eng_c = _engine(spark, lake_root + "_never")
    eng_d = CdcEngine(
        spark, LakeTable(spark, lake_root + "_never"),
        EngineOptions(num_buckets=8),
    )
    fired["x"] = False

    def racing_rb2(self, *a, **kw):
        if self is eng_d.table and not fired["x"]:
            fired["x"] = True
            eng_c.run_incremental(b1)
        return real_rb(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "replace_buckets", racing_rb2)
    with pytest.raises(CommitConflictError):
        eng_d.run_incremental(b2)


def test_caller_sharded_backfill_parts(spark, lake_root, monkeypatch):
    """shard_parts (source-pushable slices, e.g. read_backfill_shards):
    crash mid-flight, resume stages only the missing parts, final state
    equals the uninterrupted internal-sharding run — the two sharding
    modes are interchangeable in outcome."""
    snap_src = synth_transcripts_changelog(spark, 3000, num_convs=50, seed=9)

    eng_ref = _engine(spark, lake_root + "_ref")
    eng_ref.backfill(snap_src, capture_version=3000, shards=3)
    want = sorted_pdf(eng_ref.current_state(), OUT_COLS)

    # caller-side key-disjoint slices (range slices of conv_id's hash
    # stand in for pk-range JDBC reads; any key-disjoint cover works)
    parts = [
        snap_src.filter(F.abs(F.xxhash64("conv_id", "turn_idx")) % 3 == i)
        for i in range(3)
    ]

    eng = _engine(spark, lake_root)
    calls = {"n": 0}
    real_stage = LakeTable.stage_backfill_shard

    def flaky_stage(self, df, bid, shard, total, **kw):
        if calls["n"] == 2:
            raise RuntimeError("simulated crash mid-backfill")
        calls["n"] += 1
        return real_stage(self, df, bid, shard, total, **kw)

    monkeypatch.setattr(LakeTable, "stage_backfill_shard", flaky_stage)
    try:
        eng.backfill(None, capture_version=3000, shard_parts=parts)
        raise AssertionError("expected simulated crash")
    except RuntimeError as e:
        assert "simulated crash" in str(e)
    assert sorted(eng.table.backfill_state()["completed"]) == ["0", "1"]

    monkeypatch.setattr(LakeTable, "stage_backfill_shard", real_stage)
    writes = {"n": 0}
    real_write = LakeTable._write_parts

    def counting_write(self, *a, **kw):
        writes["n"] += 1
        return real_write(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "_write_parts", counting_write)
    eng2 = CdcEngine(spark, LakeTable(spark, lake_root), EngineOptions(num_buckets=8))
    eng2.backfill(None, capture_version=3000, shard_parts=parts)
    assert writes["n"] == 1  # only the missing third part
    assert eng2.table.backfill_state() is None
    assert_tables_equal(sorted_pdf(eng2.current_state(), OUT_COLS), want)


def test_shard_parts_requires_overwrite(spark, lake_root):
    eng = _engine(spark, lake_root)
    snap = synth_transcripts_changelog(spark, 100, num_convs=5, seed=1)
    try:
        eng.backfill(snap, behavior="merge", shard_parts=[snap])
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "overwrite" in str(e)


def test_sigkill_mid_replay_resumes_via_spec_cli(spark, tmp_path):
    """VERDICT r5 ask 7: the watermark contract at PROCESS granularity.
    A real ``python -m <pkg> --mode replay --spec`` subprocess is
    SIGKILLed mid-drain (after >=1 committed batch, before the last),
    then re-launched with the identical command line; the resumed run
    must land exactly the state an uninterrupted library replay of the
    same deterministic feed produces, with no duplicated or lost
    versions (StreamRunner.scala:167-185 exactly-once semantics)."""
    import json
    import signal
    import subprocess
    import sys
    import time

    events = 20_000
    root = str(tmp_path / "t")
    spec = {
        "sink": {"targetTableFullName": "kill.test.table"},
        # 10 chunks of 2000 -> a wide mid-drain kill window
        "throughput": {"advisedChunkSize": 2_000},
    }
    spec_path = tmp_path / "spec.json"
    spec_path.write_text(json.dumps(spec))
    cmd = [
        sys.executable, "-m", "arcane_stream_sqlserver_change_tracking_spark",
        "--mode", "replay", "--table", root, "--events", str(events),
        "--bootstrap", "--spec", str(spec_path), "--num-buckets", "4",
    ]
    env = {**os.environ, "SPARK_GRAFT_SHUFFLE_PARTITIONS": "8"}

    current = os.path.join(root, "metadata", "_current")

    def read_current():
        try:
            with open(current) as f:
                return f.read()
        except OSError:
            return None

    proc = subprocess.Popen(cmd, cwd=REPO_ROOT, env=env,
                            stdout=subprocess.DEVNULL,
                            stderr=subprocess.DEVNULL)
    try:
        # wait for bootstrap commit, then for the FIRST batch commit,
        # then SIGKILL while later batches are still in flight
        deadline = time.monotonic() + 300
        boot = None
        while time.monotonic() < deadline:
            if proc.poll() is not None:
                raise AssertionError(
                    f"process exited rc={proc.returncode} before kill window")
            cur = read_current()
            if boot is None:
                boot = cur  # first observed pointer = bootstrap snapshot
            elif cur is not None and cur != boot:
                break  # a batch committed - mid-drain
            time.sleep(0.05)
        else:
            raise AssertionError("no batch commit observed within 300s")
        proc.send_signal(signal.SIGKILL)
        proc.wait(timeout=30)
    finally:
        if proc.poll() is None:
            proc.kill()

    killed_wm = LakeTable(spark, root).watermark()["version"]
    assert 0 < killed_wm < events, (
        f"kill landed outside the drain window (wm={killed_wm})")

    # resume: the IDENTICAL command line (reference restart semantics -
    # same CRD spec, same env; --bootstrap no-ops on an existing table)
    rc = subprocess.run(cmd, cwd=REPO_ROOT, env=env,
                        stdout=subprocess.DEVNULL).returncode
    assert rc == 0

    resumed = LakeTable(spark, root)
    assert resumed.watermark()["version"] == events

    # oracle: uninterrupted library replay of the same deterministic feed
    clean_root = str(tmp_path / "clean")
    eng = CdcEngine(spark, LakeTable(spark, clean_root),
                    EngineOptions(num_buckets=4, max_events_per_batch=events,
                                  normalize_text_columns=("text",)))
    log = synth_transcripts_changelog(spark, events, with_tool=True)
    eng.bootstrap(log.drop("sys_change_version", "sys_change_operation").schema)
    eng.run_incremental(log)

    cols = sorted(c for c in resumed.read().columns if not c.startswith("_"))
    got = {tuple(r) for r in resumed.read().select(*cols).collect()}
    want = {tuple(r) for r in LakeTable(spark, clean_root).read().select(*cols).collect()}
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# crash-point matrix over the one commit path (LakeTable._commit)
# ---------------------------------------------------------------------------
CRASH_POINTS = ("after_write", "after_manifests", "after_link", "after_swing")


class SimulatedCrash(RuntimeError):
    pass


def _arm_crash(monkeypatch, point):
    """Make the next commit die at ``point``, once:

    * ``after_write`` — data files written, nothing recorded;
    * ``after_manifests`` — bucket manifests and the snapshot temp file
      written, snapshot not yet published by ``link``;
    * ``after_link`` — snapshot published, pointer not swung;
    * ``after_swing`` — pointer swung, post-commit steps not run."""
    fired = {"x": False}

    def once():
        if fired["x"]:
            return False
        fired["x"] = True
        return True

    if point == "after_write":
        real = LakeTable._write_parts

        def write(self, *a, **kw):
            entries = real(self, *a, **kw)
            if once():
                raise SimulatedCrash(point)
            return entries

        monkeypatch.setattr(LakeTable, "_write_parts", write)
    elif point == "after_manifests":
        real_link = os.link

        def link(src, dst, *a, **kw):
            if once():
                raise SimulatedCrash(point)
            return real_link(src, dst, *a, **kw)

        monkeypatch.setattr(os, "link", link)
    else:
        real_swing = LakeTable._swing_pointer

        def swing(self, name):
            if point == "after_link" and once():
                raise SimulatedCrash(point)
            swung = real_swing(self, name)
            if point == "after_swing" and once():
                raise SimulatedCrash(point)
            return swung

        monkeypatch.setattr(LakeTable, "_swing_pointer", swing)


def _restart(run):
    """A restarted process. When the crashed commit had published its
    snapshot, the first attempt rolls it forward and loses with a
    CommitConflictError (the documented loser contract); the next
    attempt re-plans against it."""
    from arcane_stream_sqlserver_change_tracking_spark.plans.lake import (
        CommitConflictError,
    )

    try:
        run()
    except CommitConflictError:
        run()


def _version_advances(table, version):
    """Snapshots that moved the watermark to ``version``."""
    wm = [(table.snapshot(s).watermark or {}).get("version")
          for s in table.snapshot_log()]
    return sum(1 for a, b in zip(wm, wm[1:]) if b == version != a)


@pytest.mark.parametrize("point", CRASH_POINTS)
@pytest.mark.parametrize("scenario", ["cdc_batch", "sharded_backfill",
                                      "one_shard_backfill", "merge_backfill"])
def test_crash_point_matrix(spark, lake_root, monkeypatch, scenario, point):
    """A crash at every sub-step of the commit path: readers see the old
    or the new snapshot, never a torn one; a restart converges to the
    oracle with the watermark advanced once; the orphan sweep leaves no
    unreferenced data file."""
    import pandas as pd
    from pyspark.sql import Window

    eng = _engine(spark, lake_root)
    table = eng.table
    cdc_log = synth_transcripts_changelog(spark, 2000, num_convs=20, seed=11)
    eng.run_incremental(cdc_log.filter(F.col("sys_change_version") <= 1000))
    old_state = sorted_pdf(eng.current_state(), OUT_COLS)
    old_version = table.watermark()["version"]
    log = synth_transcripts_changelog(spark, 1500, num_convs=20, seed=12)
    new_version = 3000
    if scenario == "cdc_batch":
        log, new_version = cdc_log, 2000

        def run(engine):
            engine.run_incremental(log)
    elif scenario == "merge_backfill":
        # a snapshot: each key's latest live row, no CDC operation column
        latest = Window.partitionBy("conv_id", "turn_idx").orderBy(
            F.col("sys_change_version").desc())
        snapshot = (log.withColumn("rn", F.row_number().over(latest))
                    .filter("rn = 1 AND sys_change_operation <> 'D'")
                    .drop("rn", "sys_change_operation"))

        def run(engine):
            engine.backfill(snapshot, behavior="merge", capture_version=new_version)
    else:
        shards = 2 if scenario == "sharded_backfill" else 1

        def run(engine):
            engine.backfill(log, capture_version=new_version, shards=shards)
    want = oracle_final_state(log.toPandas(), PAYLOAD_COLS)
    if scenario == "merge_backfill":
        # the pre-crash state with the snapshot (``want`` so far) upserted
        want = (pd.concat([old_state, want])
                .drop_duplicates(["conv_id", "turn_idx"], keep="last")
                .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))

    _arm_crash(monkeypatch, point)
    with pytest.raises(SimulatedCrash):
        run(eng)
    monkeypatch.undo()

    # old or new, never torn: the current snapshot's files all exist and
    # its rows are exactly the state its watermark names
    snap = table.current_snapshot()
    assert all(os.path.exists(os.path.join(table.root, f["path"]))
               for f in snap.files)
    seen = sorted_pdf(eng.current_state(), OUT_COLS)
    if snap.watermark["version"] == old_version:
        assert point != "after_swing"
        assert_tables_equal(seen, old_state)
    else:
        assert point == "after_swing"
        assert snap.watermark["version"] == new_version
        assert_tables_equal(seen, want)

    restarted = CdcEngine(spark, LakeTable(spark, lake_root),
                          EngineOptions(num_buckets=8))
    _restart(lambda: run(restarted))
    assert_tables_equal(sorted_pdf(restarted.current_state(), OUT_COLS), want)
    assert table.watermark()["version"] == new_version
    assert _version_advances(table, new_version) == 1
    assert table.backfill_state() is None

    table.remove_orphan_files(older_than_seconds=0)
    referenced = {f["path"] for s in table.snapshot_log()
                  for f in table.snapshot(s).files}
    on_disk = {
        os.path.relpath(os.path.join(d, n), table.root)
        for d, _, names in os.walk(table.data_dir) for n in names
    }
    assert on_disk <= referenced


@pytest.mark.parametrize("point", CRASH_POINTS)
def test_compaction_crash_points(spark, lake_root, monkeypatch, point):
    """A crash at every sub-step of a K7 compaction commit: readers see
    the old or the compacted snapshot with the same rows, the watermark
    never moves, a restarted maintenance pass converges to one file per
    bucket, and the orphan sweep leaves no unreferenced data file."""
    source = _engine(spark, os.path.join(lake_root, "source"))
    source.run_incremental(
        synth_transcripts_changelog(spark, 1000, num_convs=20, seed=13))
    rows = source.current_state()
    root = os.path.join(lake_root, "compacted")
    table = LakeTable(spark, root)
    table.create(source.table.schema(), num_buckets=8,
                 watermark=source.table.watermark())
    # two appends of key-disjoint halves: two small files per bucket
    for half in (0, 1):
        table.append(rows.filter(F.pmod(F.col("turn_idx"), F.lit(2)) == half))
    want = sorted_pdf(rows, OUT_COLS)
    wm = table.watermark()
    before = table.current_snapshot()
    assert all(m["files"] == 2 for m in before.bucket_manifests.values())
    eng = CdcEngine(spark, table, EngineOptions(num_buckets=8))

    _arm_crash(monkeypatch, point)
    with pytest.raises(SimulatedCrash):
        eng.run_maintenance()
    monkeypatch.undo()

    snap = table.current_snapshot()
    assert all(os.path.exists(os.path.join(root, f["path"])) for f in snap.files)
    compacted = point == "after_swing"
    assert (snap.snapshot_id != before.snapshot_id) == compacted
    assert_tables_equal(sorted_pdf(eng.current_state(), OUT_COLS), want)
    assert table.watermark() == wm

    restarted = CdcEngine(spark, LakeTable(spark, root), EngineOptions(num_buckets=8))
    _restart(restarted.run_maintenance)
    assert restarted.table.rewrite_data_files() is None  # nothing left to do
    snap = table.current_snapshot()
    assert all(m["files"] == 1 for m in snap.bucket_manifests.values())
    assert_tables_equal(sorted_pdf(restarted.current_state(), OUT_COLS), want)
    assert table.watermark() == wm

    table.remove_orphan_files(older_than_seconds=0)
    referenced = {f["path"] for s in table.snapshot_log()
                  for f in table.snapshot(s).files}
    on_disk = {
        os.path.relpath(os.path.join(d, n), root)
        for d, _, names in os.walk(table.data_dir) for n in names
    }
    assert on_disk <= referenced
