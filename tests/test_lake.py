"""LakeTable format: atomic commits, bucket pruning, time travel,
maintenance (compaction / expiry / orphan sweep) — the K1/K2/K5/K7
surface of the reference (SURVEY.md §2.9)."""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arcane_stream_sqlserver_change_tracking_spark.functions.keys import (
    MERGE_KEY_COL,
    bucket_expr,
    merge_key_expr,
)
from arcane_stream_sqlserver_change_tracking_spark.plans.lake import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("v", T.LongType()),
        T.StructField(MERGE_KEY_COL, T.StringType()),
    ]
)


def _df(spark, n, tag=0):
    return (
        spark.range(n)
        .select(
            F.concat(F.lit("key"), F.col("id").cast("string")).alias("k"),
            (F.col("id") + tag).alias("v"),
        )
        .withColumn(MERGE_KEY_COL, merge_key_expr(["k"]))
    )


def test_create_read_append(spark, lake_root):
    t = LakeTable(spark, lake_root)
    t.create(SCHEMA, num_buckets=8)
    assert t.exists()
    assert t.read().count() == 0  # empty table readable
    t.append(_df(spark, 100))
    assert t.read().count() == 100
    with pytest.raises(FileExistsError):
        t.create(SCHEMA, num_buckets=8)


def test_bucket_pruning_reads_only_touched_files(spark, lake_root):
    t = LakeTable(spark, lake_root)
    t.create(SCHEMA, num_buckets=8)
    t.append(_df(spark, 1000))
    snap = t.current_snapshot()
    all_buckets = {f["bucket"] for f in snap.files}
    assert all_buckets == set(range(8))
    one = t.read(buckets=[3])
    # every row in bucket 3 hashes there; no rows from other buckets
    check = one.withColumn("b", bucket_expr(MERGE_KEY_COL, 8)).filter("b <> 3")
    assert check.count() == 0
    assert 0 < one.count() < 1000


def test_atomic_commit_and_time_travel(spark, lake_root):
    t = LakeTable(spark, lake_root)
    t.create(SCHEMA, num_buckets=4)
    t.append(_df(spark, 10))
    s1 = t.current_snapshot().snapshot_id
    t.replace_buckets(_df(spark, 20, tag=1000), list(t.current_snapshot().bucket_manifests))
    assert t.read().count() == 20
    # old snapshot still readable (time travel) until expiry
    assert t.read(snapshot_id=s1).count() == 10
    assert t.snapshot_log() == [0, 1, 2]


def test_replace_buckets_cow(spark, lake_root):
    t = LakeTable(spark, lake_root)
    t.create(SCHEMA, num_buckets=8)
    t.append(_df(spark, 800))
    before = {f["path"]: f for f in t.current_snapshot().files}
    # rewrite only bucket 2 with empty content -> rows of bucket 2 vanish
    empty = spark.createDataFrame([], SCHEMA)
    t.replace_buckets(empty, buckets=[2])
    after = t.current_snapshot().files
    # untouched buckets kept identical file entries
    kept = [f for f in after if f["bucket"] != 2]
    assert all(f["path"] in before for f in kept)
    assert not [f for f in after if f["bucket"] == 2]
    got = t.read().withColumn("b", bucket_expr(MERGE_KEY_COL, 8))
    assert got.filter("b = 2").count() == 0
    assert got.count() == sum(f["rows"] for f in kept)


def test_watermark_metadata_commit(spark, lake_root):
    t = LakeTable(spark, lake_root)
    t.create(SCHEMA, num_buckets=4, watermark=None)
    assert t.watermark() is None
    t.set_watermark({"version": 42, "batch_seq": 1, "partitions": []})
    assert t.watermark()["version"] == 42
    # data untouched by metadata commit
    assert t.read().count() == 0


def test_format_1_snapshot_fails_fast(spark, lake_root):
    """A snapshot in the retired format 1 (inline ``files`` list, no
    per-bucket manifests) is refused with an error naming its
    format_version, instead of reading as an empty table."""
    t = LakeTable(spark, lake_root)
    t.create(SCHEMA, num_buckets=4)
    t.append(_df(spark, 20))
    snap = t.current_snapshot()
    d = json.loads(snap.to_json())
    d["format_version"] = 1
    d["files"] = snap.files
    del d["bucket_manifests"]
    with open(os.path.join(t.meta_dir, t._manifest_name(snap.snapshot_id)), "w") as f:
        json.dump(d, f)
    with pytest.raises(ValueError, match="format_version 1"):
        t.current_snapshot()
    with pytest.raises(ValueError, match="format_version 1"):
        t.read()


def test_expire_snapshots_and_orphans(spark, lake_root):
    t = LakeTable(spark, lake_root)
    t.create(SCHEMA, num_buckets=4)
    for i in range(4):
        t.replace_buckets(_df(spark, 50, tag=i), list(t.current_snapshot().bucket_manifests))
    assert len(t.snapshot_log()) == 5
    deleted = t.expire_snapshots(keep_last=2)
    assert deleted  # old overwritten files physically removed
    assert len(t.snapshot_log()) == 2
    assert t.read().count() == 50  # current state intact

    # orphan: drop a file into data/ that no manifest references
    orphan = os.path.join(t.data_dir, "part-bogus-b00000-orphan.parquet")
    with open(orphan, "wb") as f:
        f.write(b"junk")
    removed = t.remove_orphan_files(older_than_seconds=0)
    assert "data/part-bogus-b00000-orphan.parquet" in removed
    assert not os.path.exists(orphan)
    assert t.read().count() == 50


def test_compaction_reduces_files(spark, lake_root):
    t = LakeTable(spark, lake_root)
    t.create(SCHEMA, num_buckets=2)
    for i in range(3):
        t.append(_df(spark, 40, tag=i * 1000))
    files_before = len(t.current_snapshot().files)
    assert files_before >= 6  # 2 buckets x 3 appends
    t.rewrite_data_files(min_files_per_bucket=2)
    files_after = len(t.current_snapshot().files)
    assert files_after < files_before
    assert t.read().count() == 120


def test_analyze_stats(spark, lake_root):
    t = LakeTable(spark, lake_root)
    t.create(SCHEMA, num_buckets=4)
    t.append(_df(spark, 77))
    stats = t.analyze()
    assert stats["rows"] == 77
    assert stats["files"] >= 1
    assert t.current_snapshot().properties["stats"]["rows"] == 77


def test_analyze_included_columns(spark, lake_root):
    """Reference targetAnalyzeSettings.includedColumns
    (crd-microsoft-sql-server-stream.yaml:285-301): per-column NDV /
    null count / min / max collected in ONE scan and persisted in the
    snapshot properties."""
    t = LakeTable(spark, lake_root)
    t.create(SCHEMA, num_buckets=4)
    df = _df(spark, 100).withColumn(
        "v", F.when(F.col("v") < 10, None).otherwise(F.col("v"))
    )
    t.append(df)
    stats = t.analyze(included_columns=["k", "v"])
    cols = stats["columns"]
    assert cols["v"]["null_count"] == 10
    assert cols["v"]["min"] == 10 and cols["v"]["max"] == 99
    assert cols["k"]["null_count"] == 0
    # HLL estimate of 100 distinct keys is within its ~5% default error
    assert 85 <= cols["k"]["ndv"] <= 115
    # persisted + JSON round-trippable
    again = LakeTable(spark, lake_root).current_snapshot().properties["stats"]
    assert again["columns"]["v"]["max"] == 99
    with pytest.raises(ValueError, match="includedColumns"):
        t.analyze(included_columns=["nope"])


def test_analyze_empty_list_means_all_columns(spark, lake_root):
    """Reference parity (ADVICE r3): includedColumns default [] is
    documented as "ALL columns will be included" — an empty list must
    collect stats for every schema column, while None skips column
    stats entirely."""
    t = LakeTable(spark, lake_root)
    t.create(SCHEMA, num_buckets=4)
    t.append(_df(spark, 50))
    stats = t.analyze(included_columns=[])
    assert set(stats["columns"]) == set(SCHEMA.fieldNames())
    assert "columns" not in t.analyze(included_columns=None)


def test_bucket_hash_mismatch_fails_fast(spark, lake_root):
    """A table bucketed under a different hash function must refuse to
    open: touched-bucket pruning under the wrong hash would silently
    accumulate duplicate keys (ADVICE r1)."""
    import json

    from arcane_stream_sqlserver_change_tracking_spark.plans.lake import (
        BucketHashMismatchError,
    )

    t = LakeTable(spark, lake_root)
    t.create(SCHEMA, num_buckets=4)
    assert t.current_snapshot().properties["bucket_hash"] == "murmur3"
    # simulate a table written by a hypothetical xxhash64-bucketing build
    with open(os.path.join(t.meta_dir, "_current")) as f:
        name = f.read().strip()
    mpath = os.path.join(t.meta_dir, name)
    with open(mpath) as f:
        manifest = json.load(f)
    manifest["properties"]["bucket_hash"] = "xxhash64"
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    with pytest.raises(BucketHashMismatchError, match="xxhash64"):
        t.read()


def test_manifest_commit_scales_with_touched_buckets(spark, lake_root):
    """10k-file table, commit touching ONE bucket: metadata written must
    be one bucket manifest + the (small) snapshot JSON — O(touched
    buckets' files), never a relisting of all 10k files (VERDICT r1
    item 6)."""
    t = LakeTable(spark, lake_root)
    t.create(SCHEMA, num_buckets=32)
    base = t.current_snapshot()
    entries = [
        {"path": f"data/synthetic/{i:06d}.parquet", "bucket": i % 32,
         "bytes": 1_000_000, "rows": 5_000}
        for i in range(10_000)
    ]
    t._commit(base, t._group_by_bucket(entries))

    before = set(os.listdir(t.meta_dir))
    full_listing_bytes = sum(
        os.path.getsize(os.path.join(t.meta_dir, n))
        for n in before if n.startswith("m-")
    )
    one = [{"path": "data/synthetic/new.parquet", "bucket": 7,
            "bytes": 1, "rows": 1}]
    t._commit(t.current_snapshot(), {7: one})

    written = set(os.listdir(t.meta_dir)) - before
    new_manifests = [n for n in written if n.startswith("m-")]
    assert len(new_manifests) == 1  # only bucket 7's manifest rewritten
    commit_bytes = sum(
        os.path.getsize(os.path.join(t.meta_dir, n)) for n in written
    )
    assert commit_bytes < full_listing_bytes / 20

    # untouched buckets share the parent's manifest files byte-for-byte
    cur = t.current_snapshot()
    prev = t.snapshot(1)
    for b in range(32):
        if b != 7:
            assert cur.bucket_manifests[b]["path"] == prev.bucket_manifests[b]["path"]
    # snapshot JSON is O(num_buckets), not O(files)
    with open(os.path.join(t.meta_dir, t._manifest_name(2))) as f:
        assert len(json.load(f)["bucket_manifests"]) == 32
    # flat listing still correct: 10k minus replaced bucket + 1 new
    replaced = 10_000 // 32 + (1 if 7 < 10_000 % 32 else 0)
    assert len(cur.files) == 10_000 - replaced + 1
    # metadata-only commit writes zero manifests
    before = set(os.listdir(t.meta_dir))
    t.set_watermark({"version": 1, "batch_seq": 1, "partitions": []})
    assert not [n for n in set(os.listdir(t.meta_dir)) - before if n.startswith("m-")]


def test_bloom_filter_written_on_merge_key(spark, lake_root):
    """parquet_bloom_filter_columns (reference parquetBloomFilterColumns,
    docs/crd.md:124-128): files written with the bloom property must
    carry the serialized filter — verified by the deterministic footer
    size delta vs the same data without it (the sandbox's parquet
    readers don't expose bloom offsets; the ndv-sized bitset does)."""
    df = _df(spark, 1000)
    t1 = LakeTable(spark, os.path.join(lake_root, "bloom"))
    t1.create(SCHEMA, num_buckets=1)
    t1.append(df, max_rows_per_file=10_000)
    t2 = LakeTable(spark, os.path.join(lake_root, "nobloom"))
    t2.create(SCHEMA, num_buckets=1,
              properties={"parquet_bloom_filter_columns": []})
    t2.append(df)
    with_bloom = sum(e["bytes"] for e in t1.current_snapshot().files)
    without = sum(e["bytes"] for e in t2.current_snapshot().files)
    # ndv=10k, fpp 1% -> ~12KiB bitset minimum
    assert with_bloom - without > 10_000


def test_bloom_filter_sized_from_bucket_rows(spark, lake_root):
    """A bucket replacement sizes each file's bloom bitset from the rows
    the bucket can hold (manifest rows of the touched buckets plus the
    incoming bound), not from the 1M-row file cap: at ~100 rows per
    bucket every file stays far below a 1 MiB bitset, and still carries
    a filter (larger than the same commit without bloom columns)."""
    sizes = {}
    for name, props in (("bloom", None),
                        ("nobloom", {"parquet_bloom_filter_columns": []})):
        t = LakeTable(spark, os.path.join(lake_root, name))
        t.create(SCHEMA, num_buckets=4, properties=props)
        t.append(_df(spark, 400))
        base = t.current_snapshot()
        snap = t.replace_buckets(_df(spark, 400, tag=1), sorted(base.bucket_manifests))
        old = {f["path"] for f in base.files}
        sizes[name] = {f["bucket"]: f["bytes"] for f in snap.files
                       if f["path"] not in old}
    assert sorted(sizes["bloom"]) == sorted(sizes["nobloom"]) == [0, 1, 2, 3]
    for b, size in sizes["bloom"].items():
        assert size < 64 * 1024
        assert size > sizes["nobloom"][b]


def test_concurrent_commit_conflict_detected(spark, lake_root):
    """Optimistic concurrency: a writer whose base snapshot was
    overtaken must get CommitConflictError, and the winner's commit must
    stand untouched."""
    from arcane_stream_sqlserver_change_tracking_spark.plans.lake import (
        CommitConflictError,
    )

    t = LakeTable(spark, lake_root)
    t.create(SCHEMA, num_buckets=4)
    stale_base = t._require()  # both writers read snapshot 0

    # writer 1 wins
    t.set_watermark({"version": 10, "batch_seq": 1, "partitions": []})
    assert t._require().snapshot_id == 1

    # writer 2, still on base 0, tries to commit the same snapshot id
    with pytest.raises(CommitConflictError, match="concurrent writer"):
        t._commit(stale_base, {}, watermark={
            "version": 99, "batch_seq": 1, "partitions": []})
    # winner's state intact
    assert t.watermark()["version"] == 10
    assert t._require().snapshot_id == 1


def test_snapshot_as_of_timestamp(spark, lake_root):
    import time as _time

    t = LakeTable(spark, lake_root)
    t.create(SCHEMA, num_buckets=2)
    t.append(_df(spark, 10))
    mid = int(_time.time() * 1000)
    _time.sleep(0.05)
    t.append(_df(spark, 20, tag=1000))
    s = t.snapshot_as_of(mid)
    assert s.snapshot_id == 1
    assert t.read(snapshot_id=s.snapshot_id).count() == 10
    assert t.snapshot_as_of(int(_time.time() * 1000)).snapshot_id == 2
    with pytest.raises(ValueError, match="no snapshot"):
        t.snapshot_as_of(0)


def test_manifest_stats_prune_files_on_sorted_column(spark, lake_root):
    """stats_columns + sort_within: per-file min/max recorded in the
    manifest prunes point reads to the files whose range covers the
    value — zero footer opens at plan time (Iceberg-style scan
    planning). The hint is IO-only: the returned frame still needs the
    real filter."""
    t = LakeTable(spark, lake_root)
    t.create(SCHEMA, num_buckets=1, properties={"stats_columns": ["v"]})
    # sorted write + small files => disjoint per-file v ranges
    df = _df(spark, 3000).repartition(1)
    t.append(df, sort_within=["v"], max_rows_per_file=500)
    snap = t.current_snapshot()
    assert len(snap.files) >= 4
    assert all("stats" in f and "v" in f["stats"] for f in snap.files)

    full = t.read()
    pruned = t.read(where={"v": 42})
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert len(pruned.inputFiles()) == 1  # disjoint sorted ranges
    assert pruned.filter(F.col("v") == 42).count() == 1
    # a value outside every range reads zero files
    assert t.read(where={"v": 10**9}).count() == 0
    # unknown-stats column: kept (no false pruning)
    assert len(t.read(where={"k": "key1"}).inputFiles()) == len(full.inputFiles())


def test_crashed_winner_rolls_forward(spark, lake_root):
    """A winner that crashed between publishing its snapshot file and
    swinging the pointer must not wedge the table: the next committer
    detects it, advances the pointer (roll-forward), raises
    CommitConflictError, and a re-planned commit then succeeds."""
    import json

    from arcane_stream_sqlserver_change_tracking_spark.plans.lake import (
        CommitConflictError,
        Snapshot,
    )

    t = LakeTable(spark, lake_root)
    t.create(SCHEMA, num_buckets=2)
    base = t._require()

    # simulate the crashed winner: snapshot 1 published, pointer NOT swung
    crashed = Snapshot(
        snapshot_id=1, parent_id=0, schema=base.schema,
        properties=dict(base.properties),
        watermark={"version": 7, "batch_seq": 1, "partitions": []},
    )
    crashed.timestamp_ms = 1
    with open(os.path.join(t.meta_dir, t._manifest_name(1)), "w") as f:
        f.write(crashed.to_json())
    assert t._require().snapshot_id == 0  # pointer still at base

    # next committer loses AND repairs
    with pytest.raises(CommitConflictError):
        t._commit(base, {}, watermark={
            "version": 8, "batch_seq": 1, "partitions": []})
    # roll-forward happened: the crashed winner is now current
    cur = t._require()
    assert cur.snapshot_id == 1 and cur.watermark["version"] == 7
    # re-plan against the new parent succeeds at id 2
    t.set_watermark({"version": 8, "batch_seq": 2, "partitions": []})
    assert t._require().snapshot_id == 2


def test_stalled_winner_cannot_regress_pointer(spark, lake_root):
    """A winner stalled between publishing its snapshot file and the
    pointer swing must not move ``_current`` backwards when it resumes
    after a loser's roll-forward (and subsequent commits) advanced the
    table past it: the swing is a monotonic CAS, so the resume is a
    no-op and the newer commit stays visible."""
    t = LakeTable(spark, lake_root)
    t.create(SCHEMA, num_buckets=2)

    # snapshots 1 and 2 commit normally
    t.set_watermark({"version": 1, "batch_seq": 1, "partitions": []})
    t.set_watermark({"version": 2, "batch_seq": 2, "partitions": []})
    assert t._require().snapshot_id == 2

    # the stalled winner of snapshot 1 finally executes its swing
    assert t._swing_pointer(t._manifest_name(1)) is False
    cur = t._require()
    assert cur.snapshot_id == 2 and cur.watermark["version"] == 2

    # and a legitimate forward swing still works
    assert t._swing_pointer(t._manifest_name(2)) is False  # already there
    t.set_watermark({"version": 3, "batch_seq": 3, "partitions": []})
    assert t._require().snapshot_id == 3


def test_crashed_holder_lock_file_does_not_wedge(spark, lake_root):
    """The pointer lock is an flock, which the kernel releases when the
    holder's fd closes — including on crash. A leftover lock FILE (the
    file is permanent by design; unlinking it would let two contenders
    lock different inodes) must therefore never wedge commits, with no
    staleness judgment or lock-breaking involved."""
    t = LakeTable(spark, lake_root)
    t.create(SCHEMA, num_buckets=2)
    lock = os.path.join(t.meta_dir, "_current.lock")
    with open(lock, "w"):
        pass  # simulate a crashed holder's leftover file (flock gone)
    old = 20.0
    os.utime(lock, (os.path.getmtime(lock) - old, os.path.getmtime(lock) - old))
    t.set_watermark({"version": 1, "batch_seq": 1, "partitions": []})
    assert t._require().snapshot_id == 1


def test_held_flock_blocks_then_deadline_errors(spark, lake_root):
    """A LIVE holder (flock actually held by another fd) blocks the
    swing until the deadline, then raises CommitConflictError — the
    lock is never broken out from under a live process."""
    import fcntl

    from arcane_stream_sqlserver_change_tracking_spark.plans.lake import CommitConflictError

    t = LakeTable(spark, lake_root)
    t.create(SCHEMA, num_buckets=2)
    lock = os.path.join(t.meta_dir, "_current.lock")
    fd = os.open(lock, os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX)
    try:
        with pytest.raises(CommitConflictError):
            with t._meta_lock("_current.lock", deadline_seconds=0.2):
                pass
    finally:
        os.close(fd)
    # released → proceeds normally
    t.set_watermark({"version": 1, "batch_seq": 1, "partitions": []})
    assert t._require().snapshot_id == 1


def test_orphan_sweep_spares_fresh_files(spark, lake_root):
    """Rename-free writes put uncommitted files on disk before their
    commit references them — the sweep must skip files younger than
    older_than_seconds (a concurrent writer's in-flight batch)."""
    t = LakeTable(spark, lake_root)
    t.create(SCHEMA, num_buckets=2)
    in_flight = t._write_parts(_df(spark, 50), snapshot_id=99)
    assert in_flight
    # default threshold: fresh files untouched
    assert t.remove_orphan_files() == []
    for e in in_flight:
        assert os.path.exists(os.path.join(t.root, e["path"]))
    # zero threshold (single-writer startup sweep): removed
    deleted = t.remove_orphan_files(older_than_seconds=0)
    assert sorted(deleted) == sorted(e["path"] for e in in_flight)


def test_orphan_sweep_removes_stranded_manifests(spark, lake_root):
    """Bucket manifests written by a lost commit race belong to no
    snapshot and must be swept (same liveness + age rule)."""
    t = LakeTable(spark, lake_root)
    t.create(SCHEMA, num_buckets=2)
    t.append(_df(spark, 20))
    stray = os.path.join(t.meta_dir, "m-s00000099-b00001-deadbeef.json")
    with open(stray, "w") as f:
        f.write('{"bucket": 1, "files": []}')
    live_before = {m["path"] for m in t._require().bucket_manifests.values()}
    t.remove_orphan_files(older_than_seconds=0)
    assert not os.path.exists(stray)
    # live manifests untouched
    for mp in live_before:
        assert os.path.exists(os.path.join(t.root, mp))


def test_where_prune_incomparable_type_keeps_files(spark, lake_root):
    t = LakeTable(spark, lake_root)
    t.create(SCHEMA, num_buckets=1, properties={"stats_columns": ["v"]})
    t.append(_df(spark, 100).repartition(1), sort_within=["v"])
    # probing a long-stat column with a string must not raise and must
    # keep every file (conservative hint)
    full = t.read()
    kept = t.read(where={"v": "not-a-number"})
    assert len(kept.inputFiles()) == len(full.inputFiles())


def test_large_commit_stats_collected_by_executor_job(spark, lake_root, monkeypatch):
    """Commits touching more files than DRIVER_FOOTER_READ_LIMIT must not
    open any parquet footer in the driver process: the stats come from a
    distributed job. Pinned by patching the reader to raise under the
    driver's pid — the patched closure ships to executor python workers
    too, but those run under different pids and delegate to the real
    reader."""
    from arcane_stream_sqlserver_change_tracking_spark.plans import lake as lake_mod

    t = LakeTable(spark, lake_root)
    t.create(SCHEMA, num_buckets=8)
    monkeypatch.setattr(LakeTable, "DRIVER_FOOTER_READ_LIMIT", 4)

    driver_pid = os.getpid()
    real_reader = lake_mod._read_footer_stats

    def _no_driver_reads(path, cols):
        if os.getpid() == driver_pid:
            raise AssertionError(f"driver-side footer read of {path}")
        return real_reader(path, cols)

    monkeypatch.setattr(lake_mod, "_read_footer_stats", _no_driver_reads)
    t.append(_df(spark, 500), max_rows_per_file=20)
    snap = t.current_snapshot()
    files = snap.files
    assert len(files) > 4
    assert all("rows" in f and f["rows"] > 0 for f in files)
    assert sum(f["rows"] for f in files) == 500


def test_distributed_and_driver_footer_stats_agree(spark, lake_root, monkeypatch):
    """Same entries either way: min/max stats and row counts from the
    executor job match the driver-thread path byte for byte."""
    t = LakeTable(spark, lake_root)
    t.create(
        SCHEMA, num_buckets=4,
        properties={"stats_columns": ["v"]},
    )
    t.append(_df(spark, 300), max_rows_per_file=25, sort_within=["v"])
    driver_files = {f["path"]: f for f in t.current_snapshot().files}

    monkeypatch.setattr(LakeTable, "DRIVER_FOOTER_READ_LIMIT", 0)
    t2 = LakeTable(spark, lake_root + "_b")
    t2.create(SCHEMA, num_buckets=4, properties={"stats_columns": ["v"]})
    t2.append(_df(spark, 300), max_rows_per_file=25, sort_within=["v"])
    job_files = {f["path"]: f for f in t2.current_snapshot().files}

    assert sum(f["rows"] for f in driver_files.values()) == 300
    assert sum(f["rows"] for f in job_files.values()) == 300
    d_stats = sorted(
        (f["rows"], json.dumps(f.get("stats"), sort_keys=True))
        for f in driver_files.values()
    )
    j_stats = sorted(
        (f["rows"], json.dumps(f.get("stats"), sort_keys=True))
        for f in job_files.values()
    )
    assert d_stats == j_stats
    assert any(f.get("stats", {}).get("v") for f in job_files.values())


def test_zorder_prunes_files_on_every_clustered_column(spark, lake_root):
    """Declared z-order property: a single-column sort prunes point
    reads only on the leading column; the Morton layout keeps every
    clustered column's per-file [min,max] narrow, so manifest-stats
    pruning works on ALL of them."""
    xy_schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("x", T.LongType()),
            T.StructField("y", T.LongType()),
            T.StructField(MERGE_KEY_COL, T.StringType()),
        ]
    )

    def grid(spark):
        # 64x64 grid, one row per cell
        return (
            spark.range(64 * 64)
            .select(
                F.concat(F.lit("key"), F.col("id").cast("string")).alias("k"),
                (F.col("id") % 64).alias("x"),
                (F.col("id") / 64).cast("long").alias("y"),
            )
            .withColumn(MERGE_KEY_COL, merge_key_expr(["k"]))
            .repartition(1)
        )

    zt = LakeTable(spark, os.path.join(lake_root, "z"))
    zt.create(
        xy_schema,
        num_buckets=1,
        properties={
            "stats_columns": ["x", "y"],
            "zorder": {"bounds": {"x": [0, 64], "y": [0, 64]}, "bits": 8},
        },
    )
    zt.append(grid(spark), max_rows_per_file=256)  # 16 files = 16 z-tiles

    lt = LakeTable(spark, os.path.join(lake_root, "lin"))
    lt.create(
        xy_schema, num_buckets=1, properties={"stats_columns": ["x", "y"]}
    )
    lt.append(grid(spark), sort_within=["x"], max_rows_per_file=256)

    total = len(zt.read().inputFiles())
    assert total >= 16
    zx = len(zt.read(where={"x": 5}).inputFiles())
    zy = len(zt.read(where={"y": 5}).inputFiles())
    lx = len(lt.read(where={"x": 5}).inputFiles())
    ly = len(lt.read(where={"y": 5}).inputFiles())
    # linear sort: great on x, useless on y
    assert lx <= 2 and ly == total
    # z-order: strict pruning on BOTH axes (4 of 16 tiles per axis slab)
    assert zx <= total // 2 and zy <= total // 2
    # correctness unchanged: the hint is IO-only
    assert zt.read(where={"y": 5}).filter(F.col("y") == 5).count() == 64
    # the property rides the snapshot: later writes cluster the same way
    zt.append(grid(spark), max_rows_per_file=256)
    total2 = len(zt.read().inputFiles())
    assert total2 >= 2 * total - 1
    assert len(zt.read(where={"y": 5}).inputFiles()) <= total2 // 2


def test_zorder_property_validated_at_create(spark, lake_root):
    """A malformed zorder property must fail at create with a named
    error, not brick every later write with a bare KeyError."""
    t = LakeTable(spark, os.path.join(lake_root, "zbad"))
    with pytest.raises(ValueError, match="zorder"):
        t.create(SCHEMA, num_buckets=1, properties={"zorder": {"columns": ["v"]}})
    with pytest.raises(ValueError, match="unknown columns"):
        t.create(SCHEMA, num_buckets=1,
                 properties={"zorder": {"bounds": {"nope": [0, 1]}}})
    with pytest.raises(ValueError, match="hi > lo"):
        t.create(SCHEMA, num_buckets=1,
                 properties={"zorder": {"bounds": {"v": [5, 5]}}})


def test_zorder_and_bloom_bound_shapes_validated(spark, lake_root):
    t = LakeTable(spark, os.path.join(lake_root, "shapes"))
    with pytest.raises(ValueError, match=r"must be \[lo, hi\]"):
        t.create(SCHEMA, num_buckets=1,
                 properties={"zorder": {"bounds": {"v": 5}}})
    with pytest.raises(ValueError, match=r"must be \[lo, hi\]"):
        t.create(SCHEMA, num_buckets=1,
                 properties={"zorder": {"bounds": {"v": [0, 1, 2]}}})
    with pytest.raises(ValueError, match="parquet_bloom_filter_columns"):
        t.create(SCHEMA, num_buckets=1,
                 properties={"parquet_bloom_filter_columns": ["nope"]})


def test_compaction_targets_file_size_and_converges(spark, lake_root):
    """OPTIMIZE must compact TOWARD the size threshold — a bucket whose
    content exceeds the target comes out as multiple files near the
    target, not one unbounded file — and the cycle must CONVERGE: a
    second pass over the sized output is a no-op, not an endless
    re-rewrite of the same bucket."""
    t = LakeTable(spark, os.path.join(lake_root, "csz"))
    t.create(SCHEMA, num_buckets=1)
    # fat INCOMPRESSIBLE rows so file bytes are data-dominated AND the
    # compression ratio is stable across file sizes (per-file overhead
    # and LZ-window effects would otherwise distort the rows-per-byte
    # estimate at this toy scale; at real 512MB files both are noise)
    fat = F.concat_ws(
        "", *[F.md5(((F.col("id") + 1) * (j + 7)).cast("string")) for j in range(16)]
    )
    for i in range(4):
        df = (
            spark.range(1000)
            .select(
                F.concat(fat, (F.col("id") + i * 10_000).cast("string")).alias("k"),
                (F.col("id") + i * 10_000).alias("v"),
            )
            .withColumn(MERGE_KEY_COL, merge_key_expr(["k"]))
            .repartition(1)
        )
        # size the bloom NDV to the actual rows: the default (the 1M row
        # cap) writes a 1.2MB bitset per tiny file, drowning the data
        t.append(df, max_rows_per_file=1000)
    files = t.current_snapshot().files
    assert len(files) == 4
    per_row = sum(f["bytes"] for f in files) / sum(f["rows"] for f in files)
    # threshold ~ half the bucket's bytes -> expect ~2 output files
    threshold = int(per_row * 2000)
    assert t.rewrite_data_files(file_size_threshold_bytes=threshold) is not None
    after = t.current_snapshot().files
    assert t.read().count() == 4000
    assert 2 <= len(after) <= 3  # sized to target, not merged to 1
    # convergence: sized outputs sit above the small-file cut, so the
    # next maintenance pass selects nothing (no perpetual rewrite churn)
    assert t.rewrite_data_files(file_size_threshold_bytes=threshold) is None
    assert [f["path"] for f in t.current_snapshot().files] == [
        f["path"] for f in after
    ]
