"""End-to-end replay correctness — port of the reference's integration
test strategy (StreamRunner.scala:166-259): golden final-state equality
after insert / backfill / update / delete sequences, watermark resume
contract, exactly-once re-drain.
"""

import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arcane_stream_sqlserver_change_tracking_spark.functions.keys import (
    MERGE_KEY_COL,
    bucket_expr,
)
from arcane_stream_sqlserver_change_tracking_spark.plans.lake import LakeTable
from arcane_stream_sqlserver_change_tracking_spark.sources.changelog import (
    synth_transcripts_changelog,
)
from arcane_stream_sqlserver_change_tracking_spark.streaming.runner import (
    CdcEngine,
    EngineOptions,
    WatermarkNotSetError,
)

from helpers import TRANSCRIPTS_SCHEMA, assert_tables_equal, oracle_final_state, sorted_pdf

PAYLOAD_COLS = ["conv_id", "turn_idx", "role", "text", "ts"]
OUT_COLS = PAYLOAD_COLS + ["sys_change_version"]


def make_engine(spark, lake_root, **opt_kwargs) -> CdcEngine:
    defaults = dict(num_buckets=16, max_events_per_batch=4000)
    defaults.update(opt_kwargs)
    eng = CdcEngine(spark, LakeTable(spark, lake_root), EngineOptions(**defaults))
    eng.bootstrap(TRANSCRIPTS_SCHEMA)
    return eng


def test_fail_when_watermark_not_set(spark, lake_root):
    """Reference: 'fail stream when watermark is not set'
    (StreamRunner.scala:167-185)."""
    table = LakeTable(spark, lake_root)
    schema = T.StructType(
        TRANSCRIPTS_SCHEMA.fields
        + [
            T.StructField("arcane_merge_key", T.StringType()),
            T.StructField("sys_change_version", T.LongType()),
        ]
    )
    table.create(schema, num_buckets=8, watermark=None)
    eng = CdcEngine(spark, table)
    with pytest.raises(WatermarkNotSetError, match="Invalid watermark value: 'null'"):
        eng.run_incremental(synth_transcripts_changelog(spark, 10))


def test_full_replay_matches_oracle(spark, lake_root):
    eng = make_engine(spark, lake_root)
    log = synth_transcripts_changelog(spark, 12_000, num_convs=200, seed=7)
    results = eng.run_incremental(log)
    assert len(results) == 3
    got = sorted_pdf(eng.current_state(), OUT_COLS)
    want = oracle_final_state(log.toPandas(), PAYLOAD_COLS)
    assert_tables_equal(got, want)
    # watermark equals the feed's current version after drain
    # (reference: CHANGE_TRACKING_CURRENT_VERSION equality,
    # StreamRunner.scala:250-258)
    assert eng.table.watermark()["version"] == 12_000
    # per-partition lineage recorded
    parts = eng.table.watermark()["partitions"]
    assert parts and all(
        {"partition_id", "last_version", "rows_applied", "apply_latency_ms"} <= set(p)
        for p in parts
    )


def test_stream_backfill_stream(spark, lake_root):
    """Reference golden sequence 'stream, backfill and stream again'
    (StreamRunner.scala:196-258): stream inserts -> backfill snapshot ->
    stream updates+delete -> final == stream ∪ updated − deleted."""
    eng = make_engine(spark, lake_root)

    # phase 1: stream an initial changelog
    phase1 = synth_transcripts_changelog(spark, 3000, num_convs=80, seed=1)
    eng.run_incremental(phase1)

    # phase 2: backfill (overwrite) with a full snapshot = oracle state of
    # phase1 PLUS extra rows (mirrors the reference's backfill adding keys
    # 4-6 alongside streamed 1-2)
    snapshot_extra = synth_transcripts_changelog(
        spark, 1500, num_convs=40, seed=2
    ).filter(F.col("sys_change_operation") != "D").withColumn(
        "conv_id", F.concat(F.lit("bf-"), F.col("conv_id"))
    )
    snapshot = eng.current_state().select(
        *PAYLOAD_COLS, "sys_change_version",
        F.lit("I").alias("sys_change_operation"),
    ).unionByName(
        snapshot_extra.select(*PAYLOAD_COLS, "sys_change_version", "sys_change_operation")
    )
    eng.backfill(snapshot, behavior="overwrite", capture_version=3000)

    n_after_backfill = eng.current_state().count()
    assert n_after_backfill > 0
    # backfilled keys present
    assert eng.current_state().filter(F.col("conv_id").startswith("bf-")).count() > 0

    # phase 3: stream more changes (updates + deletes over the same keyspace)
    phase3 = synth_transcripts_changelog(
        spark, 3000, num_convs=80, seed=1, version_offset=3000
    )
    eng.run_incremental(phase3)

    # oracle: backfill snapshot (as I-events at their versions, capped to
    # <= 3000) + phase3 changes replayed on top
    import pandas as pd

    snap_pdf = snapshot.toPandas()
    snap_pdf["sys_change_operation"] = "I"
    log_pdf = pd.concat([snap_pdf, phase3.toPandas()], ignore_index=True)
    want = oracle_final_state(log_pdf, PAYLOAD_COLS)
    got = sorted_pdf(eng.current_state(), OUT_COLS)
    assert_tables_equal(got, want)
    assert eng.table.watermark()["version"] == 6000


def test_exactly_once_redrain(spark, lake_root):
    eng = make_engine(spark, lake_root)
    log = synth_transcripts_changelog(spark, 5000, num_convs=100, seed=3)
    r1 = eng.run_incremental(log)
    state1 = sorted_pdf(eng.current_state(), OUT_COLS)
    r2 = eng.run_incremental(log)  # same feed again — nothing pending
    assert len(r1) >= 1 and len(r2) == 0
    state2 = sorted_pdf(eng.current_state(), OUT_COLS)
    assert_tables_equal(state2, state1)


def test_resume_after_partial_drain(spark, lake_root):
    """Kill-mid-run analog: drain only the first batch, then resume with
    a fresh engine instance — final state equals a one-shot replay."""
    eng = make_engine(spark, lake_root, max_events_per_batch=2000)
    log = synth_transcripts_changelog(spark, 8000, num_convs=150, seed=4)
    eng.run_incremental(log, max_batches=1)
    assert eng.table.watermark()["version"] < 8000

    # new engine over the same table dir (process restart)
    eng2 = CdcEngine(
        spark, LakeTable(spark, eng.table.root),
        EngineOptions(num_buckets=16, max_events_per_batch=2000),
    )
    eng2.run_incremental(log)
    assert eng2.table.watermark()["version"] == 8000
    got = sorted_pdf(eng2.current_state(), OUT_COLS)
    want = oracle_final_state(log.toPandas(), PAYLOAD_COLS)
    assert_tables_equal(got, want)


def test_delete_of_never_inserted_key_is_noop(spark, lake_root):
    """Retention-cleanup scenario (SURVEY.md §7.4): a D for a key the
    target never saw must not fail or create rows."""
    eng = make_engine(spark, lake_root)
    rows = [
        (1, "I", "c1", 0, "user", "hello", None),
        (2, "D", "ghost", 9, None, None, None),
    ]
    log = spark.createDataFrame(
        rows,
        "sys_change_version long, sys_change_operation string, conv_id string, "
        "turn_idx int, role string, text string, ts timestamp",
    )
    eng.run_incremental(log)
    state = eng.current_state()
    assert state.count() == 1
    assert state.collect()[0]["conv_id"] == "c1"


def test_reference_minimal_fixture_parity(spark, lake_root):
    """FIXTURES.md §4: replay the reference's own sequence on its 2-column
    shape — insert {1,2} -> backfill {4,5,6} -> update {4,5,6} -> delete 5
    (StreamRunner.scala:196-258). Final = {1,2} ∪ updated{4,6}."""
    schema = T.StructType([
        T.StructField("Id", T.IntegerType()),
        T.StructField("Name", T.StringType()),
    ])
    table = LakeTable(spark, lake_root)
    eng = CdcEngine(spark, table, EngineOptions(key_columns=("Id",), num_buckets=4))
    eng.bootstrap(schema)

    def log_of(rows):
        return spark.createDataFrame(
            rows, "sys_change_version long, sys_change_operation string, Id int, Name string"
        )

    # stream inserts 1,2
    eng.run_incremental(log_of([(1, "I", 1, "Tom"), (2, "I", 2, "Jerry")]))
    # backfill with current ∪ {4,5,6}
    snapshot = spark.createDataFrame(
        [(1, "Tom"), (2, "Jerry"), (4, "Spike"), (5, "Tyke"), (6, "Quacker")],
        "Id int, Name string",
    )
    eng.backfill(snapshot, behavior="overwrite", capture_version=2)
    # stream updates to 4-6 then delete 5
    eng.run_incremental(log_of([
        (3, "U", 4, "Spike2"), (4, "U", 5, "Tyke2"), (5, "U", 6, "Quacker2"),
        (6, "D", 5, None),
    ]))
    got = sorted(
        (r["Id"], r["Name"]) for r in eng.current_state().select("Id", "Name").collect()
    )
    assert got == [(1, "Tom"), (2, "Jerry"), (4, "Spike2"), (6, "Quacker2")]
    assert table.watermark()["version"] == 6


def test_partial_overlap_redelivery_cannot_regress(spark, lake_root):
    """A redelivered batch whose version range PARTIALLY overlaps the
    committed watermark (shifted boundaries after a crash) must not let
    a stale change overwrite a newer table row — the drain's per-row
    stale guard (version > watermark in ``incremental_read``), not just
    a batch-level skip."""
    eng = make_engine(spark, lake_root, max_events_per_batch=10**9)
    log = synth_transcripts_changelog(spark, 1000, num_convs=30, seed=11)
    eng.run_incremental(log)
    wm = eng.table.watermark()["version"]
    assert wm == 1000
    before = sorted_pdf(eng.current_state(), OUT_COLS)

    # adversarial redelivery: the first 800 versions again (all stale)
    # PLUS fresh events 1001-1100 — batch max > wm, so the batch itself
    # is applied; every stale row must be dropped row-wise
    stale = log.filter(F.col("sys_change_version") <= 800)
    fresh = synth_transcripts_changelog(spark, 100, num_convs=30, seed=11,
                                        version_offset=1000)
    [res] = eng.run_incremental(stale.unionByName(fresh))
    assert not res.skipped and res.max_version == 1100

    # oracle: original 1000 + the 100 fresh events — the stale rows are
    # already part of history; replaying them changes nothing
    import pandas as pd
    want = oracle_final_state(
        pd.concat([log.toPandas(), fresh.toPandas()], ignore_index=True),
        PAYLOAD_COLS,
    )
    got = sorted_pdf(eng.current_state(), OUT_COLS)
    assert_tables_equal(got, want)
    # sanity: no key regressed below its pre-redelivery version
    merged = before.merge(got, on=["conv_id", "turn_idx"], how="inner",
                          suffixes=("_old", "_new"))
    assert (merged["sys_change_version_new"] >= merged["sys_change_version_old"]).all()


def test_maintenance_cadence_and_time_travel(spark, lake_root):
    """K7 cadence wired into the loop (every N batches) + snapshot time
    travel through the engine API."""
    eng = make_engine(spark, lake_root, max_events_per_batch=1000,
                      maintenance_interval_batches=2)
    log = synth_transcripts_changelog(spark, 4000, num_convs=50, seed=21)
    results = eng.run_incremental(log)   # 4 batches -> 2 maintenance passes
    assert len(results) == 4
    files = len(eng.table.current_snapshot().files)
    # compaction keeps file count at ~one per touched bucket
    assert files <= 16 * 2

    lin = eng.lineage()
    assert lin["version"] == 4000
    assert lin["partitions"] and all("last_version" in p for p in lin["partitions"])

    # time travel: state at the first commit has only batch-1 data
    first_commit = next(sid for sid in eng.table.snapshot_log() if sid > 0
                        and eng.table.snapshot(sid).watermark.get("version", 0) > 0)
    old = eng.state_at(first_commit)
    assert old.agg(F.max("sys_change_version")).collect()[0][0] <= 1100


def test_cdc_commit_writes_one_file_per_touched_bucket(spark, lake_root):
    """A CDC commit writes each touched bucket's merged content (kept
    rows and upserts) as ONE new file, so compaction has nothing to
    merge after it. Files per bucket are read from the snapshot
    manifests: a bucket is touched when its manifest changed, and its
    new files are those its parent's manifest did not list."""
    eng = make_engine(spark, lake_root, max_events_per_batch=1000)
    log = synth_transcripts_changelog(spark, 3000, num_convs=60, seed=5)
    results = eng.run_incremental(log, maintenance=False)
    assert len(results) == 3
    t = eng.table
    ids = t.snapshot_log()
    commits = 0
    for parent_id, sid in zip(ids, ids[1:]):
        parent, snap = t.snapshot(parent_id), t.snapshot(sid)
        touched = sorted(
            b for b in set(parent.bucket_manifests) | set(snap.bucket_manifests)
            if (parent.bucket_manifests.get(b) or {}).get("path")
            != (snap.bucket_manifests.get(b) or {}).get("path"))
        if not touched:
            continue  # metadata-only commit
        commits += 1
        old = {f["path"] for f in parent.files_for(touched)}
        new = [f["bucket"] for f in snap.files_for(touched) if f["path"] not in old]
        assert sorted(new) == touched, f"snapshot {sid}"
    assert commits == 3
    got = sorted_pdf(eng.current_state(), OUT_COLS)
    assert_tables_equal(got, oracle_final_state(log.toPandas(), PAYLOAD_COLS))


def _exchanges(df) -> list:
    """Exchange node names of ``df``'s physical plan, not descending into
    cached relations (the staged dedup's own shuffle is not the
    commit's)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()   # the initial plan, requirements applied
    found, stack = [], [plan]
    while stack:
        node = stack.pop()
        if "Exchange" in node.nodeName():
            found.append(node.nodeName())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return found


@pytest.mark.parametrize("num_buckets", [16, 24])
def test_cdc_commit_is_one_exchange_and_two_jobs(spark, lake_root, monkeypatch,
                                                 num_buckets):
    """A CDC commit merges inside the exchange the bucketed write needs:
    the DataFrame the writer receives is hash-partitioned by bucket in
    ONE shuffle, with no broadcast, the writer's own repartition by
    bucket adds none, and the commit runs two Spark jobs (that shuffle's
    map stage and the write). 16 and 24 buckets over 12 shuffle
    partitions: the elision must not need the one to divide the other."""
    shuffle_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "12")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    plans, jobs = [], []
    write_parts, replace_buckets = LakeTable._write_parts, LakeTable.replace_buckets

    def recording_write(self, df, *a, **k):
        written = df.withColumn("__b", bucket_expr(MERGE_KEY_COL, num_buckets)
                                ).repartition(F.col("__b"))
        plans.append((_exchanges(df), _exchanges(written)))
        return write_parts(self, df, *a, **k)

    def counted_commit(self, *a, **k):
        group = f"cdc-commit-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            return replace_buckets(self, *a, **k)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            jobs.append(len(tracker.getJobIdsForGroup(group)))

    monkeypatch.setattr(LakeTable, "_write_parts", recording_write)
    monkeypatch.setattr(LakeTable, "replace_buckets", counted_commit)
    try:
        eng = make_engine(spark, lake_root, num_buckets=num_buckets,
                          max_events_per_batch=1000)
        log = synth_transcripts_changelog(spark, 2000, num_convs=60, seed=5)
        assert len(eng.run_incremental(log, maintenance=False)) == 2
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", shuffle_partitions)
    assert plans == [(["Exchange"], ["Exchange"])] * 2
    assert jobs == [2, 2]
    got = sorted_pdf(eng.current_state(), OUT_COLS)
    assert_tables_equal(got, oracle_final_state(log.toPandas(), PAYLOAD_COLS))


def test_metrics_jsonl_emitted(spark, lake_root):
    """A2: one JSON line per batch (applied AND skipped) under the
    table root with rows/versions/latency fields."""
    import json, os

    eng = make_engine(spark, lake_root, max_events_per_batch=1000)
    log = synth_transcripts_changelog(spark, 2000, num_convs=30, seed=17)
    eng.run_incremental(log)
    eng.run_incremental(log)  # re-drain: no-op, no extra lines
    path = os.path.join(eng.table.root, "metrics.jsonl")
    lines = [json.loads(l) for l in open(path)]
    assert len(lines) == 2
    for rec in lines:
        assert rec["event"] == "batch_applied"
        assert {"batch_seq", "rows_deduped", "max_version",
                "prepare_seconds", "commit_seconds", "skipped"} <= set(rec)
    assert lines[-1]["max_version"] == 2000


# ------------------------------------------------- K3: one retry policy

def _flaky_replace_buckets(monkeypatch, fail, after_commit=False):
    """Patch ``LakeTable.replace_buckets`` so call n raises ``fail(n)``
    (None = no failure), before or after the real commit; returns the
    list of call numbers."""
    calls = []
    real = LakeTable.replace_buckets

    def flaky(self, *a, **kw):
        calls.append(len(calls) + 1)
        err = fail(len(calls))
        if err is not None and not after_commit:
            raise err
        out = real(self, *a, **kw)
        if err is not None:
            raise err
        return out

    monkeypatch.setattr(LakeTable, "replace_buckets", flaky)
    return calls


@pytest.mark.parametrize("after_commit", [False, True])
def test_message_retry_applies_batch_once(spark, lake_root, monkeypatch,
                                          after_commit):
    """A message-matched failure is retried and the batch lands exactly
    once. Failing after the commit landed is the hard case: the retry
    re-plans against the fresh snapshot, sees its own watermark and
    skips, instead of re-committing a plan pinned to the stale base."""
    eng = make_engine(spark, lake_root, retry_on_message_contents=("Query killed",),
                      retry_base_seconds=0.01)
    log = synth_transcripts_changelog(spark, 2000, num_convs=40, seed=21)
    calls = _flaky_replace_buckets(
        monkeypatch, lambda n: RuntimeError("Query killed") if n == 1 else None,
        after_commit=after_commit)
    results = eng.run_incremental(log)
    assert len(results) == 1
    assert len(calls) == (1 if after_commit else 2)
    wm = eng.table.watermark()
    assert wm["version"] == 2000 and wm["batch_seq"] == 1
    got = sorted_pdf(eng.current_state(), OUT_COLS)
    assert_tables_equal(got, oracle_final_state(log.toPandas(), PAYLOAD_COLS))


def test_unmatched_failure_raises_and_leaves_table(spark, lake_root, monkeypatch):
    eng = make_engine(spark, lake_root, retry_base_seconds=0.01)
    log = synth_transcripts_changelog(spark, 2000, num_convs=40, seed=21)
    before = eng.table.current_snapshot().snapshot_id
    calls = _flaky_replace_buckets(
        monkeypatch, lambda n: RuntimeError("Query killed") if n == 1 else None)
    with pytest.raises(RuntimeError, match="Query killed"):
        eng.run_incremental(log)
    assert calls == [1]
    assert eng.table.current_snapshot().snapshot_id == before
    assert eng.table.watermark()["version"] == 0
    assert eng.current_state().count() == 0


def test_retry_budget_is_shared(spark, lake_root, monkeypatch):
    """Commit conflicts and message-matched errors draw on ONE budget:
    a failure that keeps happening stops after retry_max_attempts
    attempts in total, not per kind of failure."""
    from arcane_stream_sqlserver_change_tracking_spark.plans.lake import (
        CommitConflictError,
    )

    eng = make_engine(spark, lake_root, retry_mode="always",
                      retry_on_message_contents=("Query killed",),
                      retry_max_attempts=4, retry_base_seconds=0.01)
    log = synth_transcripts_changelog(spark, 2000, num_convs=40, seed=21)
    calls = _flaky_replace_buckets(
        monkeypatch,
        lambda n: CommitConflictError("lost race") if n % 2
        else RuntimeError("Query killed"))
    with pytest.raises(RuntimeError, match="Query killed"):
        eng.run_incremental(log)
    assert calls == [1, 2, 3, 4]
    assert eng.table.watermark()["version"] == 0


def test_prefetching_drain_equals_one_chunk_per_call(spark, lake_root, tmp_path):
    """S5: one run_incremental call over many chunks (chunk i+1 stages
    while chunk i commits) ends in the same table as draining the same
    log one chunk per call."""
    log = synth_transcripts_changelog(spark, 8000, num_convs=120, seed=23)
    one = make_engine(spark, lake_root, max_events_per_batch=2000)
    assert len(one.run_incremental(log)) == 4
    step = make_engine(spark, str(tmp_path / "step"), max_events_per_batch=2000)
    calls = 0
    while step.run_incremental(log, max_batches=1):
        calls += 1
    # each call re-plans the remaining backlog, so the chunk boundaries
    # (and their count) may differ; the end state may not
    assert calls >= 4 and step.table.watermark()["batch_seq"] == calls
    assert one.table.watermark()["version"] == step.table.watermark()["version"] == 8000
    got = sorted_pdf(one.current_state(), OUT_COLS)
    assert_tables_equal(got, sorted_pdf(step.current_state(), OUT_COLS))
    assert_tables_equal(got, oracle_final_state(log.toPandas(), PAYLOAD_COLS))


# ------------------------------------------------- T4: one backfill path

SIMPLE_LOG = "sys_change_version long, sys_change_operation string, Id int, Name string"


def _simple_engine(spark, lake_root, **opt_kwargs) -> CdcEngine:
    eng = CdcEngine(spark, LakeTable(spark, lake_root),
                    EngineOptions(key_columns=("Id",), num_buckets=4, **opt_kwargs))
    eng.bootstrap(T.StructType([T.StructField("Id", T.IntegerType()),
                                T.StructField("Name", T.StringType())]))
    return eng


def _names(eng) -> dict:
    return {r["Id"]: r["Name"] for r in eng.current_state().collect()}


@pytest.mark.parametrize("table_ids", [(1, 2, 3, 4, 5), (1, 2, 3, 4, 99)])
def test_merge_backfill_lands_rows_below_the_watermark(spark, lake_root, table_ids):
    """A merge backfill is the CDC apply at the backfill's version:
    snapshot rows older than the table's watermark still land (no
    stale-row guard, never skipped as already applied), keys absent from
    the snapshot stay, and the watermark becomes ``capture_version``."""
    eng = _simple_engine(spark, lake_root)
    eng.run_incremental(spark.createDataFrame(
        [(v, "I", i, f"t{i}") for v, i in enumerate(table_ids, start=3)], SIMPLE_LOG))
    assert len(_names(eng)) == 5 and eng.current_watermark() == 7
    snapshot = spark.createDataFrame(
        [(5, "I", i, f"bf{i}") for i in range(1, 41)], SIMPLE_LOG)
    eng.backfill(snapshot, behavior="merge", capture_version=20)
    want = {i: f"t{i}" for i in table_ids}
    want.update({i: f"bf{i}" for i in range(1, 41)})
    assert _names(eng) == want
    assert eng.current_watermark() == 20


def test_merge_backfill_without_cdc_columns(spark, lake_root):
    """Snapshot rows without CDC columns are inserts at the version the
    backfill commits — into an epoch table too."""
    eng = _simple_engine(spark, lake_root)
    snapshot = spark.createDataFrame(
        [(i, f"bf{i}") for i in range(1, 41)], "Id int, Name string")
    eng.backfill(snapshot, behavior="merge", capture_version=9)
    rows = eng.current_state().collect()
    assert sorted(r["Id"] for r in rows) == list(range(1, 41))
    assert {r["sys_change_version"] for r in rows} == {9}
    assert eng.current_watermark() == 9


def test_one_shard_backfill_records_new_column(spark, lake_root):
    eng = _simple_engine(spark, lake_root)
    snapshot = spark.createDataFrame(
        [(i, f"n{i}", i * 10) for i in range(1, 6)], "Id int, Name string, Score int")
    eng.backfill(snapshot, capture_version=3, shards=1)
    assert "Score" in eng.table.schema().fieldNames()
    got = {r["Id"]: r["Score"] for r in eng.current_state().collect()}
    assert got == {i: i * 10 for i in range(1, 6)}
    assert eng.current_watermark() == 3


@pytest.mark.parametrize("shards", [1, 2])
def test_overwrite_backfill_applies_field_filter(spark, lake_root, shards):
    """An excluded column reaches neither the table schema nor any data
    file, at any shard count."""
    import os

    import pyarrow.parquet as pq

    from arcane_stream_sqlserver_change_tracking_spark.operators.fields import FieldFilter

    eng = _simple_engine(
        spark, lake_root, field_filter=FieldFilter(rule="exclude", fields=("secret",)))
    snapshot = spark.createDataFrame(
        [(i, f"n{i}", f"s{i}") for i in range(1, 21)], "Id int, Name string, secret string")
    eng.backfill(snapshot, capture_version=3, shards=shards)
    assert "secret" not in eng.table.schema().fieldNames()
    files = eng.table.current_snapshot().files
    assert files
    for f in files:
        assert "secret" not in pq.read_schema(os.path.join(eng.table.root, f["path"])).names
    assert _names(eng) == {i: f"n{i}" for i in range(1, 21)}
