"""T5/T4/K3/K4 — the stream runner: bootstrap → resume → per-batch apply
→ commit(watermark+lineage), plus backfill and maintenance cadence.

Mirrors the reference graph (main.scala:69-117; SURVEY.md §3.1):

    source poll (version > watermark)            -> sources/incremental.py
    -> throughput shaping (max_events_per_batch) -> version_chunks
    -> field filtering                            -> operators/fields.py
    -> text normalization (Arrow pandas UDF)      -> functions/text.py
    -> merge-key synthesis + agg dedup            -> functions/keys.py, operators/dedup.py
    -> schema migration (additive)                -> operators/schema_evolution.py
    -> MERGE (bucket-pruned copy-on-write)        -> operators/merge.py + plans/lake.py
    -> watermark + per-partition lineage COMMIT   -> plans/lake.py (atomic)
    -> maintenance every N batches                -> plans/lake.py

One CDC entry point, the drain loop (``run_incremental``): replay, poll
ticks and Structured-Streaming micro-batches all go through it. It drops
rows at or below the watermark once, chunks the rest, stages each chunk
on a helper thread (the next chunk while the current one commits) and
runs the maintenance and ANALYZE cadences; one retry loop
(``_apply_staged``) re-plans a failed plan+commit under the K3 policy.
One backfill path (``backfill``, T4): ``overwrite`` stages every
bucket-slice shard (one when ``shards=1``) and publishes them in one
commit, restartable at any shard count; ``merge`` stages the snapshot
like one chunk and commits it through the same retry loop at the
backfill's version.

Exactly-once: the watermark is a property of the same atomic snapshot
commit that publishes the merged files, so a crash at any point leaves
either (old files, old watermark) or (new files, new watermark) — a
re-run re-selects `version > watermark` and cannot double-apply. The
reference gets the same end state via idempotent MERGE + post-commit
watermark write (StreamRunner.scala:250-258); we strengthen the window.

Fail-fast resume contract: running against a table whose watermark was
never prepared raises ``WatermarkNotSetError("Invalid watermark value:
'null'")`` exactly like the reference (StreamRunner.scala:167-185);
``bootstrap()`` prepares the epoch watermark like ``MsSqlWatermark.epoch``
(StreamRunner.scala:188-192).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.keys import (
    MERGE_KEY_COL,
    OPERATION_COL,
    VERSION_COL,
    bucket_expr,
    normalize_column_names,
    with_merge_key,
)
from ..functions.text import normalize_text, normalize_text_expr
from ..operators.dedup import latest_change_per_key
from ..operators.fields import FieldFilter
from ..operators.merge import conform, plan_merge
from ..operators.schema_evolution import diff_schemas
from ..plans.lake import CommitConflictError, LakeTable
from ..sources.incremental import chunk_filter, incremental_read, version_chunks

_BUCKET = "__b"
#: per deduped row, the rows its key had entering the dedup
_ROWS_IN = "__n"

#: system columns never promoted into the evolving payload schema
SYSTEM_COLS = (VERSION_COL, OPERATION_COL, MERGE_KEY_COL, _BUCKET, _ROWS_IN)


class WatermarkNotSetError(RuntimeError):
    pass


def _watermark_version(wm: "dict | None") -> int:
    if wm is None or wm.get("version") is None:
        # exact reference failure message, StreamRunner.scala:183
        raise WatermarkNotSetError("Invalid watermark value: 'null'")
    return int(wm["version"])


def _bucket_stats(deduped: DataFrame) -> list:
    """The one stats job per staged batch: rows, rows entering the
    dedup and max version per touched bucket (touched buckets, lineage,
    max version, ``rows_in``)."""
    return (
        deduped.groupBy(_BUCKET)
        .agg(F.count("*").alias("rows"),
             F.sum(_ROWS_IN).alias("rows_in"),
             F.max(VERSION_COL).alias("last_version"))
        .collect()
    )


@dataclass
class EngineOptions:
    key_columns: tuple[str, ...] = ("conv_id", "turn_idx")
    num_buckets: int = 32
    max_events_per_batch: int = 500_000          # rowsPerGroup analog (quickstart.md:66)
    normalize_text_columns: tuple[str, ...] = ()  # e.g. ("text",)
    normalize_impl: str = "expr"  # "expr" (JVM codegen) | "pandas" (Arrow UDF, adds NFC)
    field_filter: FieldFilter = field(default_factory=FieldFilter)
    max_rows_per_file: int = 1_000_000            # maxRowsPerFile analog (CRD:72-75)
    sort_within: tuple[str, ...] = ()             # sortedBy analog (docs/crd.md:117-119)
    maintenance_interval_batches: int = 60        # reference default (yaml-example:49-52)
    # targetAnalyzeSettings parity: run ANALYZE every N applied batches
    # ([] = all schema columns, None = manifest counts only — lake.analyze)
    analyze_interval_batches: "int | None" = None
    analyze_included_columns: "list | None" = None
    compact_file_threshold_bytes: int = 512 * 1024 * 1024
    expire_keep_last: int = 20
    # K3 retry policy (CRD:181-211): one attempt budget and one backoff
    # for every failure of a batch's plan+commit, each retry re-planned
    # against a fresh snapshot (CdcEngine._apply_staged)
    retry_max_attempts: int = 3
    retry_base_seconds: float = 0.1
    retry_scale_factor: float = 2.0
    retry_on_message_contents: tuple[str, ...] = ()
    retry_mode: str = "never"     # reference queryRetryMode (CRD:195-210,
                                  # default never): "never" | "always" |
                                  # "backfillOnly"
    orphan_min_age_seconds: float = 3600.0  # in-flight guard for the
                                  # orphan sweep: rename-free writes put
                                  # uncommitted files on disk, so only
                                  # old ones are sweep-eligible
    shaper_impl: str = "static"   # T2 throughput.shaperImpl (CRD beta:433-470):
                                  # "static" (chunk = max_events_per_batch,
                                  # the advised baseline) | "memoryBound"
                                  # (sigmoid chunk-cost vs free memory,
                                  # streaming/shaper.py)
    shaper_params: "dict | None" = None  # memoryBound body (chunkCostMax,
                                  # tableSizeWeight, ... — spec_to_config
                                  # maps CRD camelCase to shaper kwargs);
                                  # None/{} = CRD defaults
    expectations: tuple = ()       # data-quality admission control
                                   # (operators/quality_gate.py rule
                                   # dicts): evaluated per batch on the
                                   # PREPARED rows (post-filter/dedup —
                                   # the gate guards what would LAND);
                                   # any violation raises
                                   # ExpectationError BEFORE the write,
                                   # table + watermark untouched — the
                                   # same fail-fast philosophy as K4's
                                   # watermark contract. One extra agg
                                   # over the cached batch when set.


@dataclass
class BatchResult:
    batch_seq: int
    rows_in: int
    rows_deduped: int
    max_version: int
    touched_buckets: int
    apply_seconds: float
    skipped: bool = False
    prepare_seconds: float = 0.0   # dedup/normalize + bucket stats job
    commit_seconds: float = 0.0    # merge write + atomic commit


class CdcEngine:
    def __init__(self, spark: SparkSession, table: LakeTable,
                 options: EngineOptions | None = None,
                 emitters: "list | None" = None):
        self.spark = spark
        self.table = table
        self.opts = options or EngineOptions()
        self.metrics: list[BatchResult] = []
        #: pluggable metric sinks (streaming/metrics.py) — statsd
        #: UDP/UDS, jsonl, callback; reference DeclaredMetrics →
        #: DataDog.UdsPublisher (main.scala:111,115-116)
        self.emitters = list(emitters or [])

    def _record(self, result: BatchResult) -> BatchResult:
        """Record a batch result in ``self.metrics`` and emit it. A2
        parity (DeclaredMetrics/statsd publisher, main.scala:111,
        115-116): one JSON line per applied batch under the table root
        (the always-on local record), plus a fan-out to any configured
        emitters — statsd counters/gauges/timers with metricTags
        (docs/crd.md:33-37), see streaming/metrics.py."""
        self.metrics.append(result)
        path = os.path.join(self.table.root, "metrics.jsonl")
        with open(path, "a") as f:
            f.write(json.dumps({"event": "batch_applied", **vars(result)}) + "\n")
        if self.emitters:
            from .metrics import emit_batch_result

            emit_batch_result(self.emitters, result)
        return result

    # ------------------------------------------------------------------
    # bootstrap (T5 DefaultStreamBootstrapper: ensure target + epoch wm)
    # ------------------------------------------------------------------
    def bootstrap(self, payload_schema: T.StructType, epoch_version: int = 0,
                  properties: "dict | None" = None) -> None:
        fields = list(payload_schema.fields)
        names = {f.name for f in fields}
        if MERGE_KEY_COL not in names:
            fields.append(T.StructField(MERGE_KEY_COL, T.StringType(), False))
        if VERSION_COL not in names:
            fields.append(T.StructField(VERSION_COL, T.LongType(), True))
        schema = T.StructType(fields)
        self.table.create(
            schema,
            num_buckets=self.opts.num_buckets,
            key_columns=list(self.opts.key_columns),
            properties=properties,
            watermark={"version": epoch_version, "batch_seq": 0, "partitions": []},
        )

    def current_watermark(self) -> int:
        return _watermark_version(self.table.watermark())

    # ------------------------------------------------------------------
    # per-batch apply
    # ------------------------------------------------------------------
    def _shape(self, batch: DataFrame) -> DataFrame:
        """normalize names -> field filter -> merge key: the row shape
        shared by CDC batches and both backfill behaviors."""
        df = self.opts.field_filter.apply(normalize_column_names(batch))
        return with_merge_key(df, list(self.opts.key_columns))

    def _prepare(self, batch: DataFrame) -> DataFrame:
        """shape (``_shape``) -> agg dedup -> text normalize -> bucket
        id. All lazily declared; one cached result per batch. The dedup
        keeps each key's input row count as a system column, so the
        stats job sums the rows entering dedup (no job of its own).
        No stale-row guard here: the drain's ``incremental_read`` drops
        rows at or below the watermark once, and a merge backfill lands
        rows below it on purpose.

        Text normalization runs AFTER dedup on purpose: it is per-row
        deterministic, so normalizing only the surviving row per key is
        semantically identical and the Arrow batches (and the dedup
        shuffles before them) carry ~dup-factor× fewer rows."""
        df = latest_change_per_key(self._shape(batch), count_col=_ROWS_IN)
        norm = normalize_text if self.opts.normalize_impl == "pandas" else normalize_text_expr
        for c in self.opts.normalize_text_columns:
            if c in df.columns:
                df = df.withColumn(c, norm(F.col(c)))
        return df.withColumn(_BUCKET, bucket_expr(MERGE_KEY_COL, self.table.num_buckets))

    def _stage(self, batch: DataFrame):
        """Prepare a batch (dedup/normalize/bucket), cache it, and run
        the ONE stats job (touched buckets, per-bucket lineage, max
        version). Independent of table mutations, so the next batch can
        stage while the previous one commits (the drain loop's prefetch).
        The cache is shared by the stats job and the merge-write job
        (measured ~20% faster than recompute-with-shuffle-reuse).
        Returns ``(deduped, bucket_stats, rows_in)``; ``rows_in`` (rows
        entering dedup) is summed by the stats job."""
        deduped = self._prepare(batch).persist()
        try:
            if self.opts.expectations:
                from ..operators.quality_gate import enforce_expectations

                # tombstones never LAND (they delete), and the
                # CHANGETABLE contract nulls a D row's payload columns —
                # gating them would fail valid batches on not_null rules
                enforce_expectations(
                    deduped.filter(F.col(OPERATION_COL) != "D"),
                    list(self.opts.expectations))
            bucket_stats = _bucket_stats(deduped)
        except Exception:
            deduped.unpersist()  # don't leak the cached batch
            raise
        return deduped, bucket_stats, sum(int(r["rows_in"]) for r in bucket_stats)

    def _apply_staged(
        self,
        deduped: DataFrame,
        bucket_stats,
        rows_in: int,
        t0: float,
        chunk_lo: int | None = None,
        backfill_version: int | None = None,
    ) -> BatchResult:
        """Apply a staged batch under the K3 retry policy (CRD:181-211):
        one attempt budget (``retry_max_attempts``), one exponential
        backoff. A failed attempt is retried iff it is a
        CommitConflictError that ``retry_mode`` allows (reference
        queryRetryMode, CRD:195-210) or its message contains one of
        ``retry_on_message_contents``. Every retry re-plans: it re-reads
        the table (fresh watermark, fresh touched-bucket content) and
        re-runs only the merge + write (one exchange) — the expensive
        dedup result is the cached ``deduped``."""
        opts = self.opts
        attempt = 0
        delay = opts.retry_base_seconds
        while True:
            try:
                return self._apply_staged_once(
                    deduped, bucket_stats, rows_in, t0, chunk_lo,
                    backfill_version)
            except Exception as e:  # noqa: BLE001 - policy-driven retry
                attempt += 1
                conflict_retriable = isinstance(e, CommitConflictError) and (
                    opts.retry_mode == "always"
                    or (opts.retry_mode == "backfillOnly"
                        and backfill_version is not None)
                )
                retriable = conflict_retriable or any(
                    s in str(e) for s in opts.retry_on_message_contents)
                if not retriable or attempt >= opts.retry_max_attempts:
                    raise
                time.sleep(delay)
                delay *= opts.retry_scale_factor

    def _apply_staged_once(
        self,
        deduped: DataFrame,
        bucket_stats,
        rows_in: int,
        t0: float,
        chunk_lo: int | None = None,
        backfill_version: int | None = None,
    ) -> BatchResult:
        """``chunk_lo`` is the staged chunk's exclusive lower version
        bound (None for a merge backfill). When the committed watermark
        is above it, another writer committed since staging, and the
        stale-row guard re-applies against the watermark before
        re-planning. A single-writer drain never re-guards: chunk i
        commits at most its upper bound, which is chunk i+1's
        ``chunk_lo``. The merge cannot guard: its batch row wins
        whatever the versions (a merge backfill relies on it).
        ``backfill_version`` non-None marks a merge backfill: never
        skipped as already applied, and the commit records that version
        as the watermark.

        The whole plan (watermark, stale guard, touched-bucket read) is
        pinned to ONE base snapshot, and the commit validates against
        that same base — a concurrent writer landing anywhere between
        plan and commit turns this attempt into a CommitConflictError
        (handled by the ``_apply_staged`` retry loop) instead of a
        silent lost update."""
        base = self.table.current_snapshot()
        wm_rec = (base.watermark if base is not None else None) or {}
        wm = _watermark_version(wm_rec)
        backfill = backfill_version is not None
        if chunk_lo is not None and wm > chunk_lo:
            # another writer advanced the table since this batch was
            # staged: rows now at or below the committed watermark are
            # already reflected and must not regress newer table rows —
            # re-apply the stale-row guard and refresh the bucket stats
            # (a cache-hit aggregation, not a recompute of the dedup)
            deduped = deduped.filter(F.col(VERSION_COL) > F.lit(wm))
            bucket_stats = _bucket_stats(deduped)
        seq = int(wm_rec.get("batch_seq", 0)) + 1
        max_version = backfill_version if backfill else max(
            (int(r["last_version"]) for r in bucket_stats), default=wm)
        rows_deduped = sum(int(r["rows"]) for r in bucket_stats)
        if not backfill and max_version <= wm:
            # empty batch, or idempotence guard: already applied
            # (crash-replay window)
            return self._record(BatchResult(
                seq, rows_in, rows_deduped, max_version, 0,
                time.monotonic() - t0, skipped=True))
        touched = sorted(int(r[_BUCKET]) for r in bucket_stats)

        # schema migration (K6): diff batch payload vs the base's schema
        diff = diff_schemas(base.schema, deduped.schema, system_columns=SYSTEM_COLS)
        existing = self.table.read(buckets=touched, snapshot_id=base.snapshot_id)
        new_state = plan_merge(existing, deduped, diff.evolved,
                               int(base.properties["num_buckets"]))

        # per-partition lineage (FIXTURES.md §3): bucket = the stable
        # partition identity; latency measured up to commit start
        pre_commit_ms = int((time.monotonic() - t0) * 1000)
        lineage = [
            {
                "partition_id": int(r[_BUCKET]),
                "last_version": int(r["last_version"]),
                "rows_applied": int(r["rows"]),
                "apply_latency_ms": pre_commit_ms,
            }
            for r in bucket_stats
        ]
        t_commit = time.monotonic()
        self.table.replace_buckets(
            new_state,
            buckets=touched,
            schema=diff.evolved if diff.changed else None,
            watermark={
                "version": max_version,
                "batch_seq": seq,
                "partitions": lineage,
            },
            lineage=lineage,
            max_rows_per_file=self.opts.max_rows_per_file,
            sort_within=list(self.opts.sort_within) or None,
            base=base,
            incoming_rows=max((int(r["rows"]) for r in bucket_stats), default=0),
        )
        dt = time.monotonic() - t0
        return self._record(BatchResult(
            batch_seq=seq, rows_in=rows_in, rows_deduped=rows_deduped,
            max_version=max_version, touched_buckets=len(touched), apply_seconds=dt,
            prepare_seconds=round(pre_commit_ms / 1000.0, 3),
            commit_seconds=round(time.monotonic() - t_commit, 3),
        ))


    # ------------------------------------------------------------------
    # the loop (streaming replay mode)
    # ------------------------------------------------------------------
    def run_incremental(
        self,
        changelog: DataFrame,
        max_batches: int | None = None,
        maintenance: bool = True,
    ) -> list[BatchResult]:
        """Drain all pending changes (version > watermark) in
        count-balanced micro-batches: the one entry point for every CDC
        batch — replay, each poll tick (``poll_loop``) and each
        Structured-Streaming micro-batch (``run_stream``). A re-delivered
        changelog has nothing above the watermark, so it applies nothing
        and records no batch.

        The stale-row guard runs once, in ``incremental_read``. Every
        chunk stages (dedup shuffle + cache + stats job — pure reads,
        independent of table state) on a helper thread, and chunk i+1
        stages while chunk i's merge-write commits. Correct because
        chunks are disjoint ascending version ranges ``(lo, hi]``: chunk
        i commits at most its ``hi``, chunk i+1's ``lo``, so no row of
        chunk i+1 is ever at or below a watermark this drain commits.
        Commits stay strictly serial — the watermark sequence is
        untouched. Maintenance (K7) and ANALYZE run on their batch
        cadences after each commit."""
        from concurrent.futures import ThreadPoolExecutor

        from .shaper import build_shaper

        pending = incremental_read(normalize_column_names(changelog),
                                   self.current_watermark())
        # T2 throughput shaper: static returns the advised baseline;
        # memoryBound scales it by schema-estimated row size vs free
        # memory, with the spec's memoryBound body as tuning (CRD
        # beta:446-478 via EngineOptions.shaper_params)
        shaper = build_shaper(
            self.opts.shaper_impl,
            self.opts.max_events_per_batch,
            **(self.opts.shaper_params or {}),
        )
        chunk_size = shaper.advise(pending.schema)
        chunks = version_chunks(pending, chunk_size)
        if max_batches is not None:
            chunks = chunks[:max_batches]
        results: list[BatchResult] = []
        if not chunks:
            return results

        def _rechunk(chunks: list, next_i: int, cur_size: int):
            """CRD contract: memoryBound "UPDATES throughput based on
            available free memory" — re-advise before each subsequent
            batch and re-plan the remaining backlog when the advised
            size moves materially (≥20% — chunk cost is a small
            integer, so real pressure changes are discrete jumps; the
            guard keeps stable-memory drains at zero extra agg jobs).
            Static shaper advises a constant: never re-plans."""
            if self.opts.shaper_impl == "static" or next_i >= len(chunks):
                return chunks, cur_size
            new_size = shaper.advise(pending.schema)
            if max(new_size, cur_size) < 1.2 * min(new_size, cur_size):
                return chunks, cur_size
            remaining = version_chunks(
                incremental_read(pending, chunks[next_i - 1][1]), new_size)
            chunks = chunks[:next_i] + remaining
            if max_batches is not None:
                chunks = chunks[:max_batches]
            return chunks, new_size

        with ThreadPoolExecutor(max_workers=1) as ex:
            def stage(i: int):
                return ex.submit(self._stage, chunk_filter(pending, *chunks[i]))

            t_batch = time.monotonic()
            staged = stage(0)
            try:
                i = 0
                while staged is not None:
                    deduped, stats, rows_in = staged.result()
                    if i:
                        t_batch = time.monotonic()
                    # re-advise between batch i's staging and batch
                    # i+1's submit — the only point where the next
                    # chunk's bounds are still re-plannable
                    chunks, chunk_size = _rechunk(chunks, i + 1, chunk_size)
                    staged = stage(i + 1) if i + 1 < len(chunks) else None
                    try:
                        res = self._apply_staged(deduped, stats, rows_in,
                                                 t_batch, chunks[i][0])
                    finally:
                        deduped.unpersist()
                    results.append(res)
                    if maintenance and res.batch_seq % self.opts.maintenance_interval_batches == 0:
                        self.run_maintenance()
                    self._maybe_analyze(res)
                    i += 1
            finally:
                if staged is not None:
                    try:
                        staged.result()[0].unpersist()
                    except Exception:
                        pass
        return results

    # ------------------------------------------------------------------
    # backfill (T4)
    # ------------------------------------------------------------------
    def backfill(
        self,
        snapshot: DataFrame,
        behavior: str = "overwrite",
        capture_version: int | None = None,
        shards: int = 1,
        backfill_id: str | None = None,
        shard_parts: list[DataFrame] | None = None,
    ) -> None:
        """Full reload, one path for both behaviors (backfillBehavior,
        CRD:116-118). Rows are shaped like a CDC batch (``_shape``);
        rows without CDC columns are inserts at the committed version.
        The watermark becomes ``capture_version`` (the source version
        captured before the backfill started; None keeps the current
        one), so change capture resumes without a gap — reference
        sequence stream→backfill→stream, StreamRunner.scala:196-258.

        ``merge`` stages the whole snapshot like one CDC chunk (``_stage``)
        and commits it through the CDC retry loop with
        ``backfill_version``: no watermark read, so rows at or below the
        watermark land too; never skipped as already applied; keys absent
        from the snapshot stay; ``retry_mode="backfillOnly"`` retries it.

        ``overwrite`` replaces the table content and is RESTARTABLE at
        any shard count (reference ShardStagingProcessor +
        DefaultBackfillStateManager, main.scala:94-101): the key space is
        split into ``shards`` disjoint bucket slices, each staged as its
        own write job whose completion is persisted in the table's
        backfill state file. A crashed reload re-invoked with the same
        snapshot and shard count skips every completed shard, and the
        publish is ONE atomic commit of the evolved schema, so readers
        never see a partial backfill. ``backfill_id`` defaults to an id
        derived from (capture_version, shards); pass one to disambiguate
        retries with a different source snapshot. Overwrite rows keep
        their raw text; CDC and merge rows are text-normalized.

        ``shard_parts`` replaces the internal bucket-slice sharding with
        CALLER-provided shard DataFrames (one per shard, e.g.
        ``MsSqlSource.read_backfill_shards`` range slices). The internal
        slicing filters by a hash of the merge key — correct anywhere,
        but not pushable to a JDBC source, so each shard re-scans the
        whole source table server-side. Caller parts carry their own
        (range) predicates, which the source CAN seek — resuming a
        crashed reload then re-reads only unfinished slices. Caller
        contract: parts are key-disjoint (every merge key's rows in
        exactly one part) and together cover the snapshot; ``snapshot``
        is ignored when parts are given. Only ``overwrite`` takes parts."""
        if behavior not in ("overwrite", "merge"):
            raise ValueError(f"unknown backfill behavior: {behavior!r}")
        if shard_parts is not None and behavior != "overwrite":
            raise ValueError("shard_parts requires behavior='overwrite'")
        wm_before = self.table.watermark() or {}
        version = capture_version if capture_version is not None else int(wm_before.get("version", 0))

        def _cdc_cols(sdf: DataFrame) -> DataFrame:
            sdf = normalize_column_names(sdf)
            if OPERATION_COL not in sdf.columns:
                sdf = sdf.withColumn(OPERATION_COL, F.lit("I"))
            if VERSION_COL not in sdf.columns:
                sdf = sdf.withColumn(VERSION_COL, F.lit(version).cast("long"))
            return sdf

        if behavior == "merge":
            t0 = time.monotonic()
            deduped, stats, rows_in = self._stage(_cdc_cols(snapshot))
            try:
                self._apply_staged(deduped, stats, rows_in, t0,
                                   backfill_version=version)
            finally:
                deduped.unpersist()
            return
        if shard_parts is not None:
            # caller-sharded: source-pushable predicates make the resume
            # path re-read only unfinished slices (read_backfill_shards)
            parts = [self._shape(_cdc_cols(raw)) for raw in shard_parts]
        else:
            # shard i owns buckets ≡ i (mod shards) — bucket slices
            # partition the key space, so per-shard dedup is globally
            # correct and every staged file lands in a bucket the final
            # commit expects
            df = self._shape(_cdc_cols(snapshot))
            bucket = bucket_expr(MERGE_KEY_COL, self.table.num_buckets)
            n = max(shards, 1)
            parts = [df.filter(F.pmod(bucket, F.lit(n)) == F.lit(shard))
                     for shard in range(n)]
        diff = diff_schemas(self.table.schema(), parts[0].schema,
                            system_columns=SYSTEM_COLS)
        # deterministic resume identity: same capture version + shard
        # count = same backfill
        bid = backfill_id or f"v{version}x{len(parts)}"
        for shard, part in enumerate(parts):
            part = latest_change_per_key(part).filter(F.col(OPERATION_COL) != "D")
            self.table.stage_backfill_shard(
                conform(part, diff.evolved), bid, shard, len(parts),
                max_rows_per_file=self.opts.max_rows_per_file,
                sort_within=list(self.opts.sort_within) or None)
        self.table.commit_backfill(
            bid,
            watermark={"version": version,
                       "batch_seq": int(wm_before.get("batch_seq", 0)) + 1,
                       "partitions": []},
            schema=diff.evolved if diff.changed else None,
        )

    # ------------------------------------------------------------------
    # maintenance cadence (K7)
    # ------------------------------------------------------------------
    def run_maintenance(self) -> None:
        self.table.rewrite_data_files(
            file_size_threshold_bytes=self.opts.compact_file_threshold_bytes
        )
        self.table.expire_snapshots(keep_last=self.opts.expire_keep_last)
        self.table.remove_orphan_files(
            older_than_seconds=self.opts.orphan_min_age_seconds
        )

    def _maybe_analyze(self, res: BatchResult) -> None:
        """targetAnalyzeSettings cadence: ANALYZE every
        ``analyze_interval_batches`` applied batches (reference
        batchThreshold; docs/crd.md targetAnalyzeSettings)."""
        it = self.opts.analyze_interval_batches
        if it and not res.skipped and res.batch_seq % it == 0:
            self.table.analyze(
                included_columns=self.opts.analyze_included_columns
            )

    # ------------------------------------------------------------------
    # reading the replicated state
    # ------------------------------------------------------------------
    def current_state(self) -> DataFrame:
        return self.table.read()

    def state_at(self, snapshot_id: int) -> DataFrame:
        """Time travel: the replicated state as of an earlier commit."""
        return self.table.read(snapshot_id=snapshot_id)

    def lineage(self) -> dict[str, Any]:
        """Committed per-partition lineage (A2/K4): last applied
        version, row counts and apply latency per bucket, as persisted
        in the current snapshot's watermark."""
        wm = self.table.watermark() or {}
        return {
            "version": wm.get("version"),
            "batch_seq": wm.get("batch_seq"),
            "partitions": wm.get("partitions", []),
        }
