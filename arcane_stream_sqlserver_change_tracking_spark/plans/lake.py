"""LakeTable — a minimal transactional, snapshot-based table format on
parquet, playing the role Iceberg plays for the reference (K1/K2 sinks,
main.scala:75,80-84). No Iceberg runtime jar ships in this sandbox, so
the engine provides the same guarantees itself:

* **atomic commits, one successor path** — a snapshot is a JSON
  *manifest list* pointing at per-bucket manifest files; the table's
  current state is a single pointer file replaced with ``os.replace``
  (atomic on POSIX). Readers see either the old or the new snapshot,
  never a torn state. Every mutation (create, MERGE, append,
  watermark, backfill publish, compaction, ANALYZE) commits
  the successor of its base snapshot through ``LakeTable._commit`` —
  as every Iceberg operation builds its successor metadata from its
  base and publishes it with one catalog CAS.
* **manifest tree** — data files are listed in one manifest file PER
  BUCKET; a commit writes new manifests only for the buckets it touched
  and re-points the untouched buckets at the parent snapshot's
  manifests. Commit metadata IO is therefore O(touched buckets' files),
  not O(table files): a 10k-file table whose batch touches 2 buckets
  commits ~2/num_buckets of the listing bytes plus one small snapshot
  JSON (test_manifest_commit_scales_with_touched_buckets). Metadata-only
  commits (watermark, stats) write zero manifests.
* **rename-free writes** — each write job lands its parquet files
  directly under an immutable per-snapshot directory
  (``data/s<snap>-<uuid>/__bucket=N/...``); nothing is ever moved. The
  files are invisible until the manifest commit references them, which
  is exactly Iceberg's object-store model: "staging" is a property of
  the metadata, not a filesystem location.
* **object-store commit story** — on S3-class storage the same design
  holds: data files and manifests are immutable PUTs with unique names
  (no rename, no overwrite, no read-after-write ordering requirement);
  the only primitive that needs coordination is the pointer swap, which
  maps to a conditional PUT (If-Match / If-None-Match on the pointer
  object, supported by S3 since 2024-11, and by GCS/ADLS generations
  long before) or a one-row CAS in any catalog DB — the identical
  contract Iceberg's catalogs implement. ``os.replace`` is the sandbox
  stand-in for that CAS.
* **bucket partitioning on the merge key** — every data file belongs to
  one bucket of ``pmod(murmur3(arcane_merge_key), num_buckets)`` (Spark's
  ``F.hash``, see functions/keys.bucket_expr); the hash
  function NAME is recorded in table properties and validated on open,
  so a table written under a different bucketing can never be silently
  merged into (see ``BucketHashMismatchError``). Mirrors the reference
  target's ``partitionExpressions: [bucket(arcane_merge_key, 10)]``
  (docs/crd.md:115). A MERGE batch touching k buckets reads and rewrites
  ONLY those buckets — per-batch cost scales with batch locality, not
  table size. This is the property that keeps copy-on-write viable at
  100 TB. Every write hash-repartitions its rows by bucket, so a commit
  writes one file per touched bucket (more only past
  ``max_rows_per_file``) and compaction finds nothing to merge after it.
* **parquet bloom filters on equality columns** — table property
  ``parquet_bloom_filter_columns`` (default: the merge key), the
  reference's ``parquetBloomFilterColumns`` target-table property
  (docs/crd.md:124-128): point lookups and MERGE key probes skip row
  groups whose bloom filter excludes the key. Each bitset is sized for
  the rows its file can hold: a bucket replacement bounds them by the
  largest touched bucket's manifest rows plus the batch's largest
  per-bucket row count; an append or backfill shard, which has no count
  without a job, by the file row cap.
* **schema evolution with field ids** — additive-only, like the
  reference (SchemaMigrationTests.scala:160-251): added columns get new
  field ids; old data files simply lack the column and the reader
  null-pads them by applying the current schema to every file
  (``spark.read.schema(current).parquet(...)``).
* **snapshot log / time travel / expiry** — old snapshots stay readable
  until ``expire_snapshots``; orphan data files from crashed writes are
  swept by ``remove_orphan_files`` (reference K5/K7 semantics,
  docs/crd.md:45-48,136-172).
* **watermark in the commit** — the CDC version watermark and
  per-partition lineage are properties of the snapshot, so
  "merge applied" and "watermark advanced" are one atomic event; this
  is what makes replay-after-crash exactly-once (reference commits the
  watermark *after* the merge and relies on MERGE idempotence for the
  crash window, StreamRunner.scala:250-258 — we strengthen it to a
  single atomic commit).

Layout::

    <root>/metadata/v00000042.json         # snapshot (manifest list)
    <root>/metadata/m-s00000042-b00007-*.json  # per-bucket manifests
    <root>/metadata/_current               # pointer: current snapshot
    <root>/data/s00000042-ab12cd34/__bucket=7/part-*.parquet
"""

from __future__ import annotations

import fcntl
import json
import os
import time
import uuid
from collections.abc import Iterable, Sequence
from contextlib import contextmanager
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.keys import (
    BUCKET_HASH_NAME,
    ESSENTIAL_FIELDS,
    MERGE_KEY_COL,
    bucket_expr,
)

_BUCKET = "__bucket"


def _read_footer_stats(
    full_path: str, cols: list[str]
) -> tuple[int, dict[str, list[Any]]]:
    """Row count (+ min/max for ``cols``) from one parquet footer — no
    data pages touched. Module-level so executor tasks can run it
    without serializing the LakeTable."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(full_path).metadata
    stats: dict[str, list[Any]] = {}
    if cols:
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for c in cols:
            i = names.get(c)
            if i is None:
                continue
            lo = hi = None
            for rg in range(md.num_row_groups):
                s = md.row_group(rg).column(i).statistics
                if s is None or not s.has_min_max:
                    lo = hi = None
                    break
                mn, mx = s.min, s.max
                if not isinstance(mn, (str, int, float)):
                    lo = hi = None
                    break
                lo = mn if lo is None or mn < lo else lo
                hi = mx if hi is None or mx > hi else hi
            if lo is not None:
                stats[c] = [lo, hi]
    return md.num_rows, stats


class BucketHashMismatchError(RuntimeError):
    """The table on disk was bucketed with a different hash function than
    this engine version writes — merging would silently duplicate keys
    (touched-bucket pruning would miss their existing rows)."""


class BackfillStateError(RuntimeError):
    """The persisted backfill state does not match the requested
    operation (different backfill in progress, or commit of an
    incomplete/unknown backfill)."""


class CommitConflictError(RuntimeError):
    """Another writer committed since this commit's base snapshot was
    read (optimistic concurrency, Iceberg-style). The losing writer must
    re-read the table and re-plan — for a CDC merge that means re-running
    the batch against the new snapshot (the K3 retry policy can be
    configured to retry on this message)."""


@dataclass
class Snapshot:
    """One committed table version. ``bucket_manifests`` maps bucket id →
    {"path": manifest file rel path, "files": n, "rows": n, "bytes": n};
    the flat file listing is loaded lazily per bucket (``files_for``) so
    bucket-pruned readers never open untouched buckets' manifests."""

    snapshot_id: int
    parent_id: int | None
    schema: T.StructType
    bucket_manifests: dict[int, dict[str, Any]] = field(default_factory=dict)
    properties: dict[str, Any] = field(default_factory=dict)
    watermark: dict[str, Any] | None = None
    lineage: list[dict[str, Any]] = field(default_factory=list)
    timestamp_ms: int = 0
    # lazy state (not serialized): table root + per-bucket file cache
    root: str | None = None
    _bucket_files: dict[int, list[dict[str, Any]]] = field(default_factory=dict)

    # -- manifest-list (de)serialization ------------------------------
    def to_json(self) -> str:
        return json.dumps(
            {
                "format_version": 2,
                "snapshot_id": self.snapshot_id,
                "parent_id": self.parent_id,
                "schema": json.loads(self.schema.json()),
                "bucket_manifests": {str(b): m for b, m in self.bucket_manifests.items()},
                "properties": self.properties,
                "watermark": self.watermark,
                "lineage": self.lineage,
                "timestamp_ms": self.timestamp_ms,
            },
            indent=1,
        )

    @staticmethod
    def from_json(text: str, root: str | None = None) -> "Snapshot":
        d = json.loads(text)
        if d.get("format_version") != 2:
            raise ValueError(
                f"unsupported snapshot format_version "
                f"{d.get('format_version')!r}: this engine reads format 2 "
                f"(per-bucket manifests) only")
        return Snapshot(
            snapshot_id=d["snapshot_id"],
            parent_id=d.get("parent_id"),
            schema=T.StructType.fromJson(d["schema"]),
            bucket_manifests={int(b): m for b, m in d.get("bucket_manifests", {}).items()},
            properties=d.get("properties", {}),
            watermark=d.get("watermark"),
            lineage=d.get("lineage", []),
            timestamp_ms=d.get("timestamp_ms", 0),
            root=root,
        )

    # -- lazy file listing --------------------------------------------
    def files_for(self, buckets: list[int] | None = None) -> list[dict[str, Any]]:
        """Data-file entries for the given buckets (all buckets when
        None), loading each bucket's manifest at most once."""
        wanted = sorted(self.bucket_manifests) if buckets is None else [
            b for b in buckets if b in self.bucket_manifests
        ]
        out: list[dict[str, Any]] = []
        for b in wanted:
            if b not in self._bucket_files:
                m = self.bucket_manifests[b]
                with open(os.path.join(self.root, m["path"])) as fh:
                    self._bucket_files[b] = json.load(fh)["files"]
            out.extend(self._bucket_files[b])
        return out

    @property
    def files(self) -> list[dict[str, Any]]:
        return self.files_for(None)


class LakeTable:
    """One transactional bucket-partitioned table rooted at ``root``."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = os.path.abspath(root)
        self.meta_dir = os.path.join(self.root, "metadata")
        self.data_dir = os.path.join(self.root, "data")

    # ------------------------------------------------------------------
    # metadata plumbing
    # ------------------------------------------------------------------
    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.meta_dir, "_current"))

    def _manifest_name(self, snapshot_id: int) -> str:
        return f"v{snapshot_id:08d}.json"

    @staticmethod
    def _pointer_id(name: str | None) -> int:
        """Snapshot id encoded in a pointer value (``v00000042.json``);
        -1 for a missing pointer (pre-create table)."""
        return int(name[1:9]) if name else -1

    @contextmanager
    def _meta_lock(self, name: str, deadline_seconds: float = 30.0):
        """Exclusive advisory lock on ``metadata/<name>`` via
        ``fcntl.flock``. The kernel releases a flock when its holder's
        fd closes — including on crash — so there is no stale-lock
        state to judge and no lock-breaking protocol to race on (an
        unlink-based break lets two contenders both judge a lock stale
        and the slower remove delete a lock a THIRD process just
        acquired, re-admitting two writers). The lock file itself is
        permanent and never unlinked: unlinking would let a late opener
        lock the orphaned inode while a fresh opener locks a new one.
        On an object store this critical section collapses into one
        conditional PUT (If-Match on ETag / generation); flock is the
        POSIX stand-in."""
        path = os.path.join(self.meta_dir, name)
        fd = os.open(path, os.O_CREAT | os.O_RDWR)
        deadline = time.monotonic() + deadline_seconds
        try:
            while True:
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except OSError:
                    if time.monotonic() > deadline:
                        raise CommitConflictError(
                            f"lock {path} held past deadline"
                        ) from None
                    time.sleep(0.005)
            yield
        finally:
            os.close(fd)  # releases the flock

    def _swing_pointer(self, name: str) -> bool:
        """Conditionally advance ``_current`` to ``name`` — the table's
        one CAS. The swing happens only if the pointer still names an
        OLDER snapshot; a pointer at or past ``name`` is left untouched
        (returns False). Check-then-swap runs under :meth:`_meta_lock`,
        closing the race where a winner stalled between publishing its
        snapshot file and swinging the pointer resumes after a loser's
        roll-forward (or a later commit) and would otherwise regress
        ``_current`` — readers must never see the table go backwards."""
        pointer = os.path.join(self.meta_dir, "_current")
        target_id = self._pointer_id(name)
        with self._meta_lock("_current.lock"):
            try:
                with open(pointer) as pf:
                    current_id = self._pointer_id(pf.read().strip())
            except FileNotFoundError:
                current_id = -1
            if current_id >= target_id:
                return False
            ptmp = os.path.join(
                self.meta_dir, f"_current.{uuid.uuid4().hex[:8]}.tmp"
            )
            with open(ptmp, "w") as pf:
                pf.write(name)
                pf.flush()
                os.fsync(pf.fileno())
            os.replace(ptmp, pointer)
            return True

    def current_snapshot(self) -> Snapshot | None:
        pointer = os.path.join(self.meta_dir, "_current")
        if not os.path.exists(pointer):
            return None
        with open(pointer) as f:
            name = f.read().strip()
        with open(os.path.join(self.meta_dir, name)) as f:
            return Snapshot.from_json(f.read(), root=self.root)

    def snapshot(self, snapshot_id: int) -> Snapshot:
        with open(os.path.join(self.meta_dir, self._manifest_name(snapshot_id))) as f:
            return Snapshot.from_json(f.read(), root=self.root)

    def snapshot_as_of(self, timestamp_ms: int) -> Snapshot:
        """Time travel by wall clock: the latest snapshot committed at
        or before ``timestamp_ms`` (Iceberg ``FOR TIMESTAMP AS OF``).
        Pair with ``read(snapshot_id=...)``."""
        best: Snapshot | None = None
        for sid in self.snapshot_log():
            s = self.snapshot(sid)
            if s.timestamp_ms <= timestamp_ms and (
                best is None or s.timestamp_ms >= best.timestamp_ms
            ):
                best = s
        if best is None:
            raise ValueError(
                f"no snapshot at or before {timestamp_ms} in {self.root}"
            )
        return best

    def snapshot_as_of_version(self, change_version: int) -> Snapshot:
        """Time travel by CHANGE-FEED position: the latest snapshot
        whose committed watermark is at or below ``change_version`` —
        "the replica as it stood once change v had been applied". The
        natural cursor for CDF consumers (``changes_between``), since
        snapshot ids are an internal sequence but change versions are
        the source's public clock (SYS_CHANGE_VERSION)."""
        best: Snapshot | None = None
        for sid in self.snapshot_log():
            s = self.snapshot(sid)
            wm = (s.watermark or {}).get("version")
            if wm is None or wm > change_version:
                continue
            if best is None or (best.watermark or {}).get("version", -1) <= wm:
                best = s
        if best is None:
            raise ValueError(
                f"no snapshot at or below change version {change_version} in {self.root}"
            )
        return best

    def snapshot_log(self) -> list[int]:
        if not os.path.isdir(self.meta_dir):
            return []
        ids = []
        for name in os.listdir(self.meta_dir):
            if name.startswith("v") and name.endswith(".json"):
                ids.append(int(name[1:-5]))
        return sorted(ids)

    def _write_bucket_manifest(
        self, snapshot_id: int, bucket: int, entries: list[dict[str, Any]]
    ) -> dict[str, Any]:
        name = f"m-s{snapshot_id:08d}-b{bucket:05d}-{uuid.uuid4().hex[:8]}.json"
        path = os.path.join(self.meta_dir, name)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"bucket": bucket, "files": entries}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        return {
            "path": f"metadata/{name}",
            "files": len(entries),
            "rows": sum(e.get("rows", 0) for e in entries),
            "bytes": sum(e.get("bytes", 0) for e in entries),
        }

    def _commit(
        self,
        base: Snapshot | None,
        new_by_bucket: dict[int, list[dict[str, Any]]],
        *,
        schema: T.StructType | None = None,
        properties: dict[str, Any] | None = None,
        watermark: dict[str, Any] | None = None,
        lineage: list[dict[str, Any]] | None = None,
    ) -> Snapshot:
        """Commit the successor of ``base`` (None only for ``create``) —
        the one path every mutation takes. Derived from the base: id
        ``base + 1``, its properties plus ``properties``, field ids for
        the columns ``schema`` adds, and ``watermark``/``lineage`` unless
        passed. ``new_by_bucket`` (re)defines buckets — an empty list
        drops one; the rest inherit the base's manifests, so untouched
        buckets and metadata-only commits write no manifest.

        Order: bucket manifests, then the snapshot JSON published by
        ``link`` (the CAS on the snapshot id), then the pointer swing."""
        props = {**(base.properties if base else {}), **(properties or {})}
        if schema is not None and (base is None or schema.json() != base.schema.json()):
            # additive evolution: assign field ids to new columns
            field_ids = dict(props.get("field_ids", {}))
            max_id = int(props.get("max_field_id", len(field_ids)))
            for f in schema.fields:
                if f.name not in field_ids:
                    max_id += 1
                    field_ids[f.name] = max_id
            props["field_ids"] = field_ids
            props["max_field_id"] = max_id
        else:
            schema = base.schema
        snap = Snapshot(
            snapshot_id=base.snapshot_id + 1 if base else 0,
            parent_id=base.snapshot_id if base else None,
            schema=schema,
            bucket_manifests=dict(base.bucket_manifests) if base else {},
            properties=props,
            watermark=watermark if watermark is not None else (
                base.watermark if base else None),
            lineage=lineage if lineage is not None else (
                base.lineage if base else []),
            timestamp_ms=int(time.time() * 1000),
            root=self.root,
        )
        os.makedirs(self.meta_dir, exist_ok=True)
        for b, entries in new_by_bucket.items():
            if entries:
                snap._bucket_files[b] = entries
            else:
                snap.bucket_manifests.pop(b, None)
        # independent small files, each fsynced — overlap the IO
        with ThreadPoolExecutor(max_workers=16) as ex:
            snap.bucket_manifests.update(zip(snap._bucket_files, ex.map(
                lambda b: self._write_bucket_manifest(
                    snap.snapshot_id, b, snap._bucket_files[b]),
                snap._bucket_files)))
        name = self._manifest_name(snap.snapshot_id)
        path = os.path.join(self.meta_dir, name)
        # per-writer unique temp name: two writers racing on the same
        # snapshot id must never share a temp file (a shared name would
        # let writer B truncate the bytes writer A is about to publish)
        tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as f:
            f.write(snap.to_json())
            f.flush()
            os.fsync(f.fileno())
        # optimistic concurrency: the snapshot file itself is the CAS
        # token — link(2) publishes the fully-written temp file at the
        # versioned name and fails iff another writer already claimed
        # this snapshot id (committed on the same parent). Atomic AND
        # content-complete (no torn/empty snapshot on crash). On an
        # object store this is a conditional PUT (If-None-Match) of the
        # same uniquely-named key; the loser re-reads and re-plans.
        try:
            os.link(tmp, path)
        except FileExistsError:
            os.remove(tmp)
            # roll-forward repair: the existing snapshot file is either
            # a concurrent winner that crashed before swinging the
            # pointer or one about to swing it — its content is complete
            # (link publishes whole files), so advancing the pointer to
            # it is correct in both cases (the live winner's own swing
            # becomes a no-op: _swing_pointer never regresses) and
            # un-wedges the crashed-winner state; we still lose and must
            # re-plan.
            self._swing_pointer(name)
            raise CommitConflictError(
                f"snapshot {snap.snapshot_id} already committed by a "
                f"concurrent writer (base {snap.parent_id}); re-read and "
                f"re-apply"
            ) from None
        os.remove(tmp)
        # pointer swap — the one primitive that must be a CAS on object
        # stores (conditional PUT / catalog row); monotonic + locked so
        # a stalled winner resuming after a roll-forward cannot regress
        # the pointer past commits that built on this one
        self._swing_pointer(name)
        return snap

    # ------------------------------------------------------------------
    # table lifecycle
    # ------------------------------------------------------------------
    def create(
        self,
        schema: T.StructType,
        num_buckets: int = 32,
        key_columns: list[str] | None = None,
        properties: dict[str, Any] | None = None,
        watermark: dict[str, Any] | None = None,
    ) -> Snapshot:
        if self.exists():
            raise FileExistsError(f"table already exists at {self.root}")
        if MERGE_KEY_COL not in schema.fieldNames():
            raise ValueError(f"schema must contain {MERGE_KEY_COL}")
        props = {
            "num_buckets": num_buckets,
            "bucket_hash": BUCKET_HASH_NAME,
            "key_columns": key_columns or [],
            # reference parquetBloomFilterColumns (docs/crd.md:124-128);
            # normalized names, default = the merge key
            "parquet_bloom_filter_columns": [MERGE_KEY_COL],
        }
        props.update(properties or {})
        if props.get("zorder") is not None:
            # the property rides every snapshot and drives every write:
            # a malformed spec must fail HERE, not brick later appends
            # with a bare KeyError deep inside the write path
            from ..functions.zorder import zorder_expr

            z = props["zorder"]
            bounds = z.get("bounds") if isinstance(z, dict) else None
            if not isinstance(bounds, dict) or not bounds:
                raise ValueError(
                    "table property 'zorder' must be "
                    "{'bounds': {col: [lo, hi], ...}, 'bits': int}"
                )
            missing = [c for c in bounds if c not in schema.fieldNames()]
            if missing:
                raise ValueError(f"zorder bounds name unknown columns: {missing}")
            for c, v in bounds.items():
                if not isinstance(v, (list, tuple)) or len(v) != 2:
                    raise ValueError(
                        f"zorder bounds for {c!r} must be [lo, hi], got {v!r}"
                    )
            zorder_expr(  # validates bounds ranges / bit budget
                {k: tuple(v) for k, v in bounds.items()}, int(z.get("bits", 16))
            )
        bloom = props.get("parquet_bloom_filter_columns") or []
        unknown = [c for c in bloom if c not in schema.fieldNames()]
        if unknown:
            # parquet silently ignores filter options for absent columns —
            # a typo'd spec would disable pruning with zero signal
            raise ValueError(
                f"parquet_bloom_filter_columns name unknown columns: {unknown}"
            )
        os.makedirs(self.data_dir, exist_ok=True)
        # field ids 1..n are assigned by _commit (every column is new)
        return self._commit(
            None, {}, schema=schema, properties=props, watermark=watermark
        )

    @property
    def num_buckets(self) -> int:
        return int(self._require().properties["num_buckets"])

    def _require(self) -> Snapshot:
        snap = self.current_snapshot()
        if snap is None:
            raise FileNotFoundError(f"no such table: {self.root}")
        recorded = snap.properties.get("bucket_hash", BUCKET_HASH_NAME)
        if recorded != BUCKET_HASH_NAME:
            raise BucketHashMismatchError(
                f"table {self.root} was bucketed with {recorded!r} but this "
                f"engine writes {BUCKET_HASH_NAME!r}; rewrite the table "
                f"(backfill overwrite) before merging into it"
            )
        return snap

    def schema(self) -> T.StructType:
        return self._require().schema

    def watermark(self) -> dict[str, Any] | None:
        return self._require().watermark

    # ------------------------------------------------------------------
    # read path
    # ------------------------------------------------------------------
    def read(
        self,
        buckets: list[int] | None = None,
        snapshot_id: int | None = None,
        where: dict[str, Any] | None = None,
    ) -> DataFrame:
        """Scan the table (optionally bucket-pruned / time-travel).

        Bucket-pruned reads open only the touched buckets' manifests —
        metadata IO as well as data IO scales with the pruned set.
        Every file is read with the snapshot schema applied, so files
        written before a column was added null-pad it — the same
        read-time evolution Iceberg performs via field ids.

        ``where={col: value}`` is a manifest-stats PRUNING HINT: files
        whose recorded [min, max] for ``col`` excludes ``value`` are
        skipped at plan time (zero footer opens — the stats live in the
        manifest, captured at write when the ``stats_columns`` table
        property is set). Files without stats for the column are kept.
        Like Iceberg scan planning, this prunes IO only — apply the
        actual ``.filter()`` on the returned DataFrame for correctness.
        """
        snap = self._require() if snapshot_id is None else self.snapshot(snapshot_id)
        files = snap.files_for(buckets)
        if where:
            def _may_contain(f: dict[str, Any]) -> bool:
                stats = f.get("stats") or {}
                for c, v in where.items():
                    rng = stats.get(c)
                    if rng is None:
                        continue
                    try:
                        if not (rng[0] <= v <= rng[1]):
                            return False
                    except TypeError:
                        # incomparable probe/stat types: a pruning HINT
                        # must degrade to keeping the file, never abort
                        continue
                return True

            files = [f for f in files if _may_contain(f)]
        if not files:
            return self.spark.createDataFrame([], snap.schema)
        paths = [os.path.join(self.root, f["path"]) for f in files]
        return self.spark.read.schema(snap.schema).parquet(*paths)

    def changes_between(
        self,
        from_snapshot_id: int,
        to_snapshot_id: int,
        key_columns: Sequence[str] | None = None,
    ) -> DataFrame:
        """Change Data Feed: row-level diff ``from`` → ``to``, planned
        from the manifest delta (see operators/cdf.py module doc).

        Copy-on-write invariant: a bucket whose manifest entry names the
        SAME manifest file in both snapshots was not rewritten between
        them, so no row in it changed — those buckets are pruned before
        any data IO. Scan cost is O(touched buckets), not O(table), on
        both sides; the diff itself is one hash exchange per side plus a
        codegen projection (operators/cdf.snapshot_diff).

        ``key_columns`` defaults to the table's recorded ``key_columns``
        property. Works across additive schema evolution: columns added
        between the snapshots are compared as null on the old side and
        surface as updates.
        """
        from ..operators.cdf import snapshot_diff

        # from_snapshot_id=None means "from nothing": the whole state at
        # ``to`` as inserts — the bootstrap feed for a consumer whose
        # base snapshot was expired by maintenance (diffing against an
        # empty old side reuses the exact operator, so columns/labels
        # match the incremental path one-for-one)
        old = None if from_snapshot_id is None else self.snapshot(from_snapshot_id)
        new = self.snapshot(to_snapshot_id)
        keys = list(
            key_columns
            if key_columns is not None
            else new.properties.get("key_columns") or []
        )
        if not keys:
            raise ValueError(
                "changes_between needs key columns: none passed and none "
                "recorded in table properties"
            )

        def _ident(m: dict[str, Any]) -> Any:
            return m.get("path")

        if old is None:
            touched = sorted(new.bucket_manifests)
        else:
            touched = sorted(
                b
                for b in set(old.bucket_manifests) | set(new.bucket_manifests)
                if _ident(old.bucket_manifests.get(b, {}))
                != _ident(new.bucket_manifests.get(b, {}))
            )
        payload_cols = [
            f.name
            for f in new.schema.fields
            if f.name not in keys and f.name not in ESSENTIAL_FIELDS
        ]
        new_df = self.read(buckets=touched, snapshot_id=to_snapshot_id)
        old_df = (
            new_df.limit(0)
            if old is None
            else self.read(buckets=touched, snapshot_id=from_snapshot_id)
        )
        keep_old = [c for c in keys + payload_cols if c in old_df.columns]
        keep_new = [c for c in keys + payload_cols if c in new_df.columns]
        return snapshot_diff(
            old_df.select(*keep_old), new_df.select(*keep_new), keys
        )

    # ------------------------------------------------------------------
    # write path
    # ------------------------------------------------------------------
    def _write_parts(
        self,
        df: DataFrame,
        snapshot_id: int,
        max_rows_per_file: int | None = None,
        sort_within: list[str] | None = None,
        properties: dict[str, Any] | None = None,
        dirname: str | None = None,
        rows_per_bucket: int | None = None,
    ) -> list[dict[str, Any]]:
        """Write ``df`` (must match the table schema) into per-bucket
        parquet files and return manifest entries. One write job: a
        hash-repartition by bucket (one shuffle) feeds a partitioned
        write straight into a fresh per-snapshot directory, so every
        bucket lands in one task and, under ``max_rows_per_file``
        (reference staging ``maxRowsPerFile``, CRD:72-75), in one file.
        No renames follow — the write IS final; nothing is visible
        until a commit references the files. Optionally sorted within
        partitions (reference ``sortedBy`` write order,
        docs/crd.md:117-119).

        ``rows_per_bucket`` — an upper bound on any written bucket's
        rows, known to the caller without a job — sizes the bloom
        filters; without it they are sized for a full file."""
        out = df.withColumn(
            _BUCKET, bucket_expr(MERGE_KEY_COL, self.num_buckets)
        ).repartition(F.col(_BUCKET))
        props = properties if properties is not None else (
            self.current_snapshot().properties if self.exists() else {}
        )
        # cluster by bucket inside each task so the partitioned writer
        # keeps one open file at a time; a declared z-order property
        # clusters file contents along the Morton curve of its columns so
        # manifest min/max pruning works on ALL of them (functions/zorder)
        sort_cols: list[Any] = [F.col(_BUCKET)]
        zspec = props.get("zorder")
        if zspec:
            from ..functions.zorder import zorder_expr

            sort_cols.append(
                zorder_expr(
                    {k: tuple(v) for k, v in zspec["bounds"].items()},
                    int(zspec.get("bits", 16)),
                )
            )
        sort_cols += [F.col(c) for c in (sort_within or [])]
        out = out.sortWithinPartitions(*sort_cols)
        snap_dirname = dirname or f"s{snapshot_id:08d}-{uuid.uuid4().hex[:8]}"
        dest = os.path.join(self.data_dir, snap_dirname)
        writer = out.write.mode("overwrite")
        if max_rows_per_file:
            writer = writer.option("maxRecordsPerFile", str(max_rows_per_file))
        # expected NDV sizes the bloom bitset (~1.2 bytes/key at 1% fpp):
        # a file holds at most one bucket's rows and at most the row cap,
        # so small commits carry small filters, not a 1 MiB bitset
        # (parquet rejects an NDV of 0)
        ndv = max_rows_per_file or 1_000_000
        if rows_per_bucket is not None:
            ndv = max(1, min(rows_per_bucket, ndv))
        for c in props.get("parquet_bloom_filter_columns", []):
            writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
            writer = writer.option(
                f"parquet.bloom.filter.expected.ndv#{c}", str(ndv)
            )
        writer.partitionBy(_BUCKET).parquet(dest)

        entries: list[dict[str, Any]] = []
        for dirname in sorted(os.listdir(dest)):
            if not dirname.startswith(f"{_BUCKET}="):
                stray = os.path.join(dest, dirname)  # e.g. a _SUCCESS marker
                if os.path.isfile(stray):
                    os.remove(stray)
                continue
            bucket = int(dirname.split("=", 1)[1])
            bdir = os.path.join(dest, dirname)
            for fname in sorted(os.listdir(bdir)):
                if not fname.endswith(".parquet"):
                    continue
                entries.append(
                    {
                        "path": f"data/{snap_dirname}/{dirname}/{fname}",
                        "bucket": bucket,
                        "bytes": os.path.getsize(os.path.join(bdir, fname)),
                    }
                )
        self._attach_row_counts(
            entries, stats_columns=props.get("stats_columns") or None
        )
        return entries

    #: commits touching more files than this collect footer stats with a
    #: distributed Spark job instead of driver threads — the driver must
    #: never do O(files) IO per commit (the 100 TB failure mode; a 10k-file
    #: commit against an object store would serialize thousands of GETs
    #: through one box)
    DRIVER_FOOTER_READ_LIMIT = 64

    def _attach_row_counts(
        self, entries: list[dict[str, Any]], stats_columns: list[str] | None = None
    ) -> None:
        """Per-file row counts (+ optional per-column min/max) from
        parquet footers — no data scan. Small commits (≤
        ``DRIVER_FOOTER_READ_LIMIT`` files) read footers with driver
        threads (independent ~KB reads, cheaper than a job); larger
        commits run one Spark job that fans the footer reads out across
        the executors (``_footer_stats_job``), so commit metadata IO
        scales with the cluster, not the driver. (Iceberg's Spark writer
        gets the same numbers from write-task results; parquet footers
        are the PySpark-reachable equivalent — same bytes, read where
        they were just written.)

        ``stats_columns`` (table property of the same name) records
        min/max per file for string/number columns — the manifest-level
        file-skipping stats Iceberg keeps. Worthless for the (uniform)
        hash merge key, valuable for ``sort_within`` columns: a sorted
        write clusters each file's range, so point/range reads prune to
        a few files per bucket without opening any footer at plan time."""
        cols = stats_columns or []
        if len(entries) > self.DRIVER_FOOTER_READ_LIMIT:
            stats_by_path = self._footer_stats_job(
                [e["path"] for e in entries], cols
            )
            for e in entries:
                rows, stats = stats_by_path[e["path"]]
                e["rows"] = rows
                if stats:
                    e["stats"] = stats
            return

        def _count(e: dict[str, Any]) -> None:
            rows, stats = _read_footer_stats(
                os.path.join(self.root, e["path"]), cols
            )
            e["rows"] = rows
            if stats:
                e["stats"] = stats

        with ThreadPoolExecutor(max_workers=16) as ex:
            list(ex.map(_count, entries))

    def _footer_stats_job(
        self, paths: list[str], cols: list[str]
    ) -> dict[str, tuple[int, dict[str, list[Any]]]]:
        """One Spark job reading every new file's parquet footer on the
        executors (mapInPandas over the path list — each task opens the
        footers of its slice). Returns {rel_path: (rows, stats)}."""
        import pandas as pd

        root = self.root
        want = list(cols)

        def read_slice(batches):
            for pdf in batches:
                out = []
                for rel in pdf["path"]:
                    rows, stats = _read_footer_stats(
                        os.path.join(root, rel), want
                    )
                    out.append((rel, rows, json.dumps(stats)))
                yield pd.DataFrame(out, columns=["path", "rows", "stats"])

        n_slices = max(1, min(len(paths) // 16, 256))
        df = self.spark.createDataFrame(
            [(p,) for p in paths], T.StructType([T.StructField("path", T.StringType())])
        ).repartition(n_slices)
        result = df.mapInPandas(
            read_slice,
            T.StructType(
                [
                    T.StructField("path", T.StringType()),
                    T.StructField("rows", T.LongType()),
                    T.StructField("stats", T.StringType()),
                ]
            ),
        ).collect()
        return {r["path"]: (int(r["rows"]), json.loads(r["stats"])) for r in result}

    @staticmethod
    def _group_by_bucket(
        entries: list[dict[str, Any]]
    ) -> dict[int, list[dict[str, Any]]]:
        by_bucket: dict[int, list[dict[str, Any]]] = {}
        for e in entries:
            by_bucket.setdefault(int(e["bucket"]), []).append(e)
        return by_bucket

    def replace_buckets(
        self,
        df: DataFrame,
        buckets: list[int] | None = None,
        watermark: dict[str, Any] | None = None,
        lineage: list[dict[str, Any]] | None = None,
        schema: T.StructType | None = None,
        properties_update: dict[str, Any] | None = None,
        max_rows_per_file: int | None = None,
        sort_within: list[str] | None = None,
        base: "Snapshot | None" = None,
        incoming_rows: int = 0,
    ) -> Snapshot:
        """Commit a copy-on-write replacement of the given buckets:
        ``df`` is their whole new content, written one file per bucket
        (``_write_parts``); untouched buckets keep their parent
        manifests (no metadata rewrite), touched buckets get fresh
        ones. This is the physical form of MERGE.

        ``incoming_rows`` bounds the rows ``df`` adds to any one bucket
        beyond what the bucket holds now (a MERGE batch's largest
        per-bucket row count; 0 for a rewrite). With the largest touched
        bucket's manifest row count it bounds each written bucket's
        rows, which sizes the bloom filters.

        ``base`` is the snapshot the replacement CONTENT was planned
        against (Iceberg-style commit validation): a replacement's
        retained rows are re-reads of the base's files, so committing it
        on top of any OTHER snapshot silently discards that snapshot's
        changes to the touched buckets — a lost update the snapshot-id
        CAS alone cannot see (a late committer re-reads the pointer and
        builds on the winner with no id collision). When ``base`` is
        given and the current snapshot has moved past it, the commit
        fails with CommitConflictError BEFORE any files are written and
        the caller must re-plan against the new state."""
        snap = self._require()
        if base is not None and snap.snapshot_id != base.snapshot_id:
            raise CommitConflictError(
                f"table advanced from snapshot {base.snapshot_id} to "
                f"{snap.snapshot_id} since this replacement was planned; "
                f"re-read and re-apply"
            )
        stored = max((int(snap.bucket_manifests.get(b, {}).get("rows", 0))
                      for b in buckets or []), default=0)
        entries = self._write_parts(
            df, snap.snapshot_id + 1, max_rows_per_file, sort_within,
            properties={**snap.properties, **(properties_update or {})},
            rows_per_bucket=stored + incoming_rows,
        )
        by_bucket = self._group_by_bucket(entries)
        for b in buckets or []:
            by_bucket.setdefault(int(b), [])  # touched but emptied
        return self._commit(
            snap, by_bucket, schema=schema, properties=properties_update,
            watermark=watermark, lineage=lineage or [],
        )

    def append(
        self,
        df: DataFrame,
        watermark: dict[str, Any] | None = None,
        lineage: list[dict[str, Any]] | None = None,
        max_rows_per_file: int | None = None,
        sort_within: list[str] | None = None,
    ) -> Snapshot:
        snap = self._require()
        entries = self._write_parts(
            df, snap.snapshot_id + 1, max_rows_per_file,
            sort_within, properties=snap.properties,
        )
        by_bucket = self._group_by_bucket(entries)
        # appended buckets = parent entries + new entries
        for b in list(by_bucket):
            by_bucket[b] = snap.files_for([b]) + by_bucket[b]
        return self._commit(
            snap, by_bucket, watermark=watermark, lineage=lineage or []
        )

    def set_watermark(self, watermark: dict[str, Any]) -> Snapshot:
        """Metadata-only commit that (re)sets the watermark — used to
        prepare the epoch watermark, mirroring ``MsSqlWatermark.epoch``
        preparation in StreamRunner.scala:188-192. Writes the snapshot
        JSON only — zero manifests."""
        return self._commit(self._require(), {}, watermark=watermark)

    # ------------------------------------------------------------------
    # restartable backfill (reference T4: ShardStagingProcessor +
    # DefaultBackfillStateManager, main.scala:94-101 — shard-level
    # staged progress persisted so a crashed full reload resumes
    # without redoing completed shards; staging survives restarts
    # during backfill, docs/crd.md:45-47)
    # ------------------------------------------------------------------
    BACKFILL_STATE_NAME = "_backfill.json"

    def backfill_state(self) -> dict[str, Any] | None:
        """The persisted in-progress backfill record, or None. Shape:
        ``{"backfill_id", "total_shards", "completed": {shard: entries}}``."""
        path = os.path.join(self.meta_dir, self.BACKFILL_STATE_NAME)
        try:
            with open(path) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _write_backfill_state(self, state: dict[str, Any]) -> None:
        path = os.path.join(self.meta_dir, self.BACKFILL_STATE_NAME)
        tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)

    def stage_backfill_shard(
        self,
        df: DataFrame,
        backfill_id: str,
        shard: int,
        total_shards: int,
        max_rows_per_file: int | None = None,
        sort_within: list[str] | None = None,
    ) -> list[dict[str, Any]]:
        """Write one backfill shard's files (invisible — no snapshot
        references them yet) and record its completion in the backfill
        state file. A shard already recorded as completed is skipped
        and its recorded entries returned — the resume path. The state
        write is atomic, so a crash leaves either "shard done, files
        live-pinned" or "shard absent, files orphan-swept later"; the
        data files themselves never need cleanup on the happy path."""
        def _validated_state() -> dict[str, Any]:
            s = self.backfill_state()
            if s is None:
                return {
                    "backfill_id": backfill_id,
                    "total_shards": total_shards,
                    "completed": {},
                }
            if s["backfill_id"] != backfill_id or s["total_shards"] != total_shards:
                raise BackfillStateError(
                    f"in-progress backfill {s['backfill_id']!r} "
                    f"({s['total_shards']} shards) does not match requested "
                    f"{backfill_id!r} ({total_shards} shards); finish it or "
                    f"abort_backfill() first"
                )
            return s

        key = str(shard)
        # concurrent stagers (caller-sharded backfill across processes)
        # serialize the tiny state read-modify-write under a lock so one
        # shard's completion record can't overwrite another's; the
        # expensive Spark write happens OUTSIDE the critical section
        with self._meta_lock(self.BACKFILL_STATE_NAME + ".lock"):
            state = _validated_state()
            if key in state["completed"]:
                return state["completed"][key]
        entries = self._write_parts(
            df,
            snapshot_id=0,
            max_rows_per_file=max_rows_per_file,
            sort_within=sort_within,
            properties=self._require().properties,
            dirname=f"bf-{backfill_id}-s{shard:04d}-{uuid.uuid4().hex[:8]}",
        )
        with self._meta_lock(self.BACKFILL_STATE_NAME + ".lock"):
            state = _validated_state()
            if key in state["completed"]:
                # a racing stager finished this shard while we wrote —
                # keep its record; our files are unreferenced and fall
                # to the orphan sweep
                return state["completed"][key]
            state["completed"][key] = entries
            self._write_backfill_state(state)
        return entries

    def commit_backfill(
        self,
        backfill_id: str,
        watermark: dict[str, Any] | None = None,
        lineage: list[dict[str, Any]] | None = None,
        schema: T.StructType | None = None,
    ) -> Snapshot:
        """Atomically publish a completed sharded backfill as one
        overwrite snapshot (every bucket redefined from the staged
        shards), then clear the state file. Re-running after a crash
        between commit and state removal re-commits the same content —
        idempotent in final state."""
        state = self.backfill_state()
        if state is None or state["backfill_id"] != backfill_id:
            raise BackfillStateError(f"no staged backfill {backfill_id!r}")
        missing = [
            s for s in range(state["total_shards"])
            if str(s) not in state["completed"]
        ]
        if missing:
            raise BackfillStateError(
                f"backfill {backfill_id!r} incomplete: shards {missing} not staged"
            )
        snap = self._require()
        entries = [e for es in state["completed"].values() for e in es]
        # the staged shards redefine EVERY bucket (stale ones drop)
        by_bucket = self._group_by_bucket(entries)
        for b in snap.bucket_manifests:
            by_bucket.setdefault(b, [])
        committed = self._commit(
            snap, by_bucket, schema=schema, watermark=watermark,
            lineage=lineage or [],
        )
        self.abort_backfill()  # staged files are now snapshot-referenced
        return committed

    def abort_backfill(self) -> None:
        """Drop the backfill state record; staged files it pinned become
        ordinary orphans for the age-guarded sweep."""
        try:
            os.remove(os.path.join(self.meta_dir, self.BACKFILL_STATE_NAME))
        except FileNotFoundError:
            pass

    # ------------------------------------------------------------------
    # maintenance (reference K7: OPTIMIZE / expire_snapshots /
    # remove_orphan_files, docs/crd.md:136-172)
    # ------------------------------------------------------------------
    def rewrite_data_files(
        self, file_size_threshold_bytes: int = 512 * 1024 * 1024,
        min_files_per_bucket: int = 2,
        small_file_fraction: float = 0.75,
    ) -> Snapshot | None:
        """Compact buckets that have ≥ ``min_files_per_bucket`` files
        below ``small_file_fraction × threshold`` (reference OPTIMIZE,
        512MB default, stream-context-yaml-example.yaml:49-52).

        Output files are SIZED to the threshold (not merged into one
        unbounded file per bucket — a 10 GB bucket must come out as ~20
        files at 512 MB). The fraction is what makes the cycle
        CONVERGE: sized outputs land near the threshold, above the
        small-file cut, so the next maintenance pass does not re-select
        and endlessly re-rewrite an already-compacted bucket.
        """
        snap = self._require()
        small_cut = int(file_size_threshold_bytes * small_file_fraction)
        targets = []
        for b, m in snap.bucket_manifests.items():
            if m["files"] < min_files_per_bucket:
                continue
            small = [
                f for f in snap.files_for([b])
                if f.get("bytes", 0) < small_cut
            ]
            if len(small) >= min_files_per_bucket:
                targets.append(b)
        if not targets:
            return None
        compacted = self.read(buckets=targets)
        # rows-per-byte from the LARGEST rewritten file: small files are
        # overhead-dominated (footer + bloom bitset), which would
        # undersize the cap and churn the layout on the next cycle
        rewritten = snap.files_for(targets)
        widest = max(
            (f for f in rewritten if f.get("rows") and f.get("bytes")),
            key=lambda f: int(f["bytes"]),
            default=None,
        )
        cap = (
            max(1, int(file_size_threshold_bytes * int(widest["rows"])
                       / int(widest["bytes"])))
            if widest
            else None
        )
        # base=snap: the small-file scan and the commit must validate
        # against the SAME snapshot, else a merge landing in a target
        # bucket between them would be silently overwritten
        return self.replace_buckets(
            compacted, targets, max_rows_per_file=cap, base=snap, lineage=[
                {"maintenance": "rewrite_data_files", "buckets": sorted(targets)}
            ]
        )

    def _referenced(self, snapshot_ids: Iterable[int]) -> tuple[set[str], set[str]]:
        """(data file paths, bucket-manifest paths) referenced by the
        given snapshots — the live set of maintenance. Snapshots share
        the manifests of untouched buckets, so each distinct manifest
        file is read once."""
        data: set[str] = set()
        manifests: set[str] = set()
        for sid in snapshot_ids:
            for m in self.snapshot(sid).bucket_manifests.values():
                if m["path"] in manifests:
                    continue
                manifests.add(m["path"])
                with open(os.path.join(self.root, m["path"])) as fh:
                    data.update(e["path"] for e in json.load(fh)["files"])
        return data, manifests

    def expire_snapshots(self, keep_last: int = 5) -> list[str]:
        """Drop old snapshot manifests and delete data files (and bucket
        manifests) only referenced by them. Returns deleted file paths."""
        log = self.snapshot_log()
        keep = set(log[-keep_last:]) if keep_last else set(log)
        keep.add(self._require().snapshot_id)
        expired = [sid for sid in log if sid not in keep]
        live, live_manifests = self._referenced(keep)
        # read every expired snapshot's listing BEFORE deleting anything:
        # expired snapshots share bucket-manifest files with each other,
        # and deletion order must not break a later read
        dead, dead_manifests = self._referenced(expired)
        # snapshots first: a crash part-way leaves unreferenced files for
        # the orphan sweep, never a snapshot naming a deleted file
        for sid in expired:
            os.remove(os.path.join(self.meta_dir, self._manifest_name(sid)))
        deleted: list[str] = []
        for rel in sorted(dead - live):
            p = os.path.join(self.root, rel)
            if os.path.exists(p):
                os.remove(p)
                deleted.append(rel)
        for rel in dead_manifests - live_manifests:
            p = os.path.join(self.root, rel)
            if os.path.exists(p):
                os.remove(p)
        return deleted

    def remove_orphan_files(self, older_than_seconds: float = 3600.0) -> list[str]:
        """Delete data files not referenced by any retained snapshot
        (e.g. left by a crash between write and commit), bucket-manifest
        files not referenced by any snapshot (left by a lost commit
        race), and stale staging dirs — the reference sweeps stale
        staging tables at stream start (docs/crd.md:45-48).

        ``older_than_seconds`` is the in-flight guard (Iceberg's
        ``older_than``): with rename-free writes, a concurrent writer's
        files exist on disk BEFORE its commit references them, so only
        files older than the threshold are eligible — never a write in
        progress. Pass 0 only when no other writer can be active."""
        now = time.time()
        live, live_manifests = self._referenced(self.snapshot_log())
        # staged backfill shards are not snapshot-referenced yet but
        # MUST survive the sweep — they are the resume state of a
        # crashed full reload (reference keeps staging tables alive
        # during backfill, docs/crd.md:45-47)
        bf = self.backfill_state()
        if bf:
            for es in bf.get("completed", {}).values():
                live.update(e["path"] for e in es)
        deleted: list[str] = []

        def _old_enough(full: str) -> bool:
            try:
                return now - os.path.getmtime(full) >= older_than_seconds
            except OSError:
                return False

        if os.path.isdir(self.data_dir):
            for dirpath, _dirnames, filenames in os.walk(self.data_dir, topdown=False):
                for name in filenames:
                    full = os.path.join(dirpath, name)
                    rel = os.path.relpath(full, self.root)
                    if rel not in live and _old_enough(full):
                        os.remove(full)
                        if not name.startswith((".", "_")):
                            deleted.append(rel)  # side-cars swept silently
                if dirpath != self.data_dir and not os.listdir(dirpath):
                    os.rmdir(dirpath)
        # manifests stranded by lost commit races accumulate under
        # contention — same liveness + age rule
        if os.path.isdir(self.meta_dir):
            for name in os.listdir(self.meta_dir):
                if not (name.startswith("m-") and name.endswith(".json")):
                    continue
                rel = f"metadata/{name}"
                full = os.path.join(self.meta_dir, name)
                if rel not in live_manifests and _old_enough(full):
                    os.remove(full)
        return deleted

    def analyze(self, included_columns: list[str] | None = None) -> dict[str, Any]:
        """Table statistics (reference ANALYZE, docs/crd.md:168-172):
        row/byte/file counts per bucket straight from the manifest-list
        aggregates — no scan, no manifest opens.

        ``included_columns`` mirrors the reference's
        ``targetAnalyzeSettings.includedColumns``
        (crd-microsoft-sql-server-stream.yaml:285-301): for each named
        column, one table scan collects approximate NDV (HyperLogLog++
        sketch — mergeable, so the agg is map-side partial like any
        other), null count, min and max. An EMPTY list means ALL schema
        columns — the reference's documented default ("ALL columns will
        be included") — while ``None`` skips column statistics
        entirely (manifest-level counts only). All columns share the SINGLE
        scan/aggregation (4·k agg expressions, one job, no shuffle
        beyond the final 1-row reduce), which is the only shape that
        survives 100 TB — never one scan per column."""
        snap = self._require()
        ms = snap.bucket_manifests.values()
        stats = {
            "snapshot_id": snap.snapshot_id,
            "files": sum(m["files"] for m in ms),
            "rows": sum(m["rows"] for m in ms),
            "bytes": sum(m["bytes"] for m in ms),
            "buckets": sum(1 for m in ms if m["files"]),
        }
        if included_columns is not None and not included_columns:
            included_columns = list(snap.schema.fieldNames())
        if included_columns:
            known = set(snap.schema.fieldNames())
            unknown = sorted(set(included_columns) - known)
            if unknown:
                raise ValueError(
                    f"includedColumns not in table schema: {unknown}"
                )
            aggs = []
            for c in included_columns:
                aggs += [
                    F.approx_count_distinct(c).alias(f"{c}__ndv"),
                    F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__nulls"),
                    F.min(c).alias(f"{c}__min"),
                    F.max(c).alias(f"{c}__max"),
                ]
            row = self.read(buckets=None).agg(*aggs).collect()[0]

            def _safe(v: Any) -> Any:
                # snapshot properties are JSON — stringify exotic types
                return v if v is None or isinstance(v, (str, int, float, bool)) else str(v)

            stats["columns"] = {
                c: {
                    "ndv": int(row[f"{c}__ndv"]),
                    "null_count": int(row[f"{c}__nulls"]),
                    "min": _safe(row[f"{c}__min"]),
                    "max": _safe(row[f"{c}__max"]),
                }
                for c in included_columns
            }
        self._commit(snap, {}, properties={"stats": stats})
        return stats
