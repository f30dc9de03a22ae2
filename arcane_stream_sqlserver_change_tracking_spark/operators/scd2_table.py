"""Maintained SCD Type-2 lake table — incremental history upserts.

:func:`~.scd2.scd2_history` derives the full Type-2 history from the
raw changelog in one pass; perfect for a one-shot backfill, wrong as a
serving path at 100 TB (every point-in-time read would re-derive from
the full feed). This module maintains the history AS a lake table,
batch by batch, through the same copy-on-write bucket-replacement
commit the Type-1 replica uses — so downstream ``AS OF`` reads are
plain bucket-pruned scans of a committed table.

Reference anchor: the reference's sink keeps only the Type-1 "latest
row per arcane_merge_key" state (Fixtures.scala change-replay
contract); SCD2 is the standard warehouse consumer pattern layered on
the same feed (Kimball type-2 dimension), included here as a
first-class sink mode.

Table layout (the scale story):

* The history table's ``arcane_merge_key`` is the hash of the KEY
  columns only — the same key domain as the Type-1 replica — so ALL of
  a key's validity intervals co-locate in one bucket. Row identity
  within the bucket is ``(key, valid_from_version)``.
* A batch touches O(its keys) buckets. The apply reads ONLY those
  buckets and splits their rows with one broadcast probe of the batch
  key set: rows of untouched keys AND — the load-bearing invariant —
  every CLOSED interval of touched keys are kept as they are and
  rewritten with the recomputed rows, one file per bucket (the same
  CoW write as the Type-1 MERGE). Because the watermark guard
  makes every batch version strictly greater than every stored
  version, history below the frontier is immutable — a new event can
  only close a key's OPEN interval and append after it, never reshape
  closed intervals. The interval window therefore runs over just
  (open rows of touched keys) ∪ (batch events): O(batch), not
  O(touched keys' history) — the difference between rewriting a hot
  key's million-version history every batch and touching one row of
  it.
* Idempotence: the lake watermark guards replay — a batch whose max
  version is at or below the committed watermark is skipped whole, and
  events at or below the watermark are filtered out of a partially new
  batch (exactly the engine's crash-replay contract). The same guard
  is what makes the immutable-history fast path unconditional.

Equivalence invariant (oracled by the ``scd2_incremental`` driver
query and pinned by tests): after applying any prefix of the changelog
in any batch partitioning, ``history()`` equals the one-shot
``scd2_history`` over the same prefix, row for row.

The touched keys' recompute round-trips intervals through events:
every interval contributes its opening change ``(valid_from, 'U',
payload)``; a closed interval whose close version opens no other
interval of the same key was closed by a DELETE at that version, which
is re-synthesized — the interval↔event mapping is a bijection, so
untouched keys would reconstruct bit-identically (and are therefore
kept without recompute).
"""

from __future__ import annotations

import time
from collections.abc import Sequence
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.keys import (
    MERGE_KEY_COL,
    OPERATION_COL,
    OP_DELETE,
    VERSION_COL,
    bucket_expr,
    with_merge_key,
)
from .scd2 import IS_CURRENT_COL, VALID_FROM_COL, VALID_TO_COL, scd2_history

_HIT = "__batch_key"


@dataclass
class Scd2BatchResult:
    batch_seq: int
    rows_in: int
    max_version: int
    touched_buckets: int
    apply_seconds: float
    skipped: bool = False


class Scd2Table:
    """Incrementally maintained SCD2 history over a ``LakeTable``.

    ::

        hist = Scd2Table(table, key_columns=["user_id"])
        hist.bootstrap(payload_schema)     # creates the lake table
        hist.apply_batch(changes_df)       # per engine micro-batch
        hist.history()                     # the full Type-2 table
        hist.as_of(version)                # point-in-time state
    """

    def __init__(
        self,
        table: Any,
        key_columns: Sequence[str],
        num_buckets: int = 32,
    ) -> None:
        self.table = table
        self.keys = list(key_columns)
        self.num_buckets = num_buckets

    # ------------------------------------------------------------------
    def bootstrap(self, payload_schema: T.StructType) -> None:
        """Create the history table: keys + payload + interval columns
        + the key-domain merge key. No-op if it already exists."""
        if self.table.exists():
            return
        fields = list(payload_schema.fields) + [
            T.StructField(VALID_FROM_COL, T.LongType()),
            T.StructField(VALID_TO_COL, T.LongType()),
            T.StructField(IS_CURRENT_COL, T.BooleanType()),
            T.StructField(MERGE_KEY_COL, T.StringType()),
        ]
        self.table.create(
            T.StructType(fields),
            num_buckets=self.num_buckets,
            key_columns=self.keys,
            watermark={"version": 0, "batch_seq": 0, "partitions": []},
        )

    # ------------------------------------------------------------------
    def _payload_columns(self) -> list[str]:
        system = {VALID_FROM_COL, VALID_TO_COL, IS_CURRENT_COL, MERGE_KEY_COL}
        return [
            f.name
            for f in self.table.schema().fields
            if f.name not in system and f.name not in self.keys
        ]

    def _intervals_to_events(self, intervals: DataFrame) -> DataFrame:
        """Inverse of scd2_history for a set of keys: each interval is
        its opening 'U' change; a close version that opens no interval
        of the same key was a DELETE there."""
        payload = self._payload_columns()
        opens = intervals.select(
            *self.keys,
            F.col(VALID_FROM_COL).alias(VERSION_COL),
            F.lit("U").alias(OPERATION_COL),
            *payload,
        )
        deletes = (
            intervals.filter(F.col(VALID_TO_COL).isNotNull())
            .select(*self.keys, F.col(VALID_TO_COL).alias(VERSION_COL))
            .join(
                opens.select(*self.keys, VERSION_COL),
                on=self.keys + [VERSION_COL],
                how="left_anti",
            )
            .select(
                *self.keys,
                VERSION_COL,
                F.lit(OP_DELETE).alias(OPERATION_COL),
                *[F.lit(None).cast(intervals.schema[c].dataType).alias(c) for c in payload],
            )
        )
        return opens.unionByName(deletes)

    # ------------------------------------------------------------------
    def apply_batch(self, changes: DataFrame) -> Scd2BatchResult:
        """Apply one micro-batch of raw change events (NOT net-change
        deduped — SCD2 keeps every version) to the history table.

        ``changes`` columns: the key columns, ``sys_change_version``,
        ``sys_change_operation`` and the payload columns; at most one
        event per (key, version)."""
        t0 = time.monotonic()
        base = self.table.current_snapshot()
        wm = int((base.watermark or {}).get("version", 0))
        seq = int((base.watermark or {}).get("batch_seq", 0)) + 1
        payload = self._payload_columns()

        # cache the keyed batch: its lineage (often an expensive upstream
        # plan — e.g. a CdfCursor full-outer diff) is consumed three
        # times below (bucket stats, key broadcast, events union) — the
        # same reason the engine caches its deduped batch
        batch = with_merge_key(
            changes.filter(F.col(VERSION_COL) > F.lit(wm)), self.keys
        ).cache()
        try:
            stats = (
                batch.groupBy(bucket_expr(MERGE_KEY_COL, self.num_buckets).alias("b"))
                .agg(F.count("*").alias("rows"), F.max(VERSION_COL).alias("v"))
                .collect()
            )
            if not stats:
                return Scd2BatchResult(
                    seq, 0, wm, 0, time.monotonic() - t0, skipped=True
                )
            return self._apply_prepared(batch, stats, base, payload, seq, t0)
        finally:
            batch.unpersist()

    def _apply_prepared(self, batch, stats, base, payload, seq, t0) -> Scd2BatchResult:
        touched = sorted(int(r["b"]) for r in stats)
        max_version = max(int(r["v"]) for r in stats)
        rows_in = sum(int(r["rows"]) for r in stats)

        existing = self.table.read(buckets=touched, snapshot_id=base.snapshot_id)
        batch_keys = F.broadcast(
            batch.select(MERGE_KEY_COL).distinct().withColumn(_HIT, F.lit(True))
        )
        probed = existing.join(batch_keys, on=MERGE_KEY_COL, how="left")
        # immutable-history fast path (see module doc): batch versions
        # are strictly above the watermark, hence above every stored
        # version — closed intervals of touched keys cannot change and
        # are kept as they are, with every row of untouched keys; only
        # the open interval per touched key enters the window
        is_open = F.col(_HIT).isNotNull() & F.col(VALID_TO_COL).isNull()
        kept = probed.filter(~is_open)
        open_rows = probed.filter(is_open).drop(_HIT)

        events = self._intervals_to_events(open_rows).unionByName(
            batch.select(
                *self.keys,
                VERSION_COL,
                OPERATION_COL,
                *[
                    (F.col(c) if c in batch.columns else F.lit(None)).alias(c)
                    for c in payload
                ],
            )
        )
        recomputed = with_merge_key(
            scd2_history(
                events,
                key_columns=self.keys,
                version_col=VERSION_COL,
                op_col=OPERATION_COL,
                payload_columns=payload,
            ),
            self.keys,
        )
        cols = [f.name for f in self.table.schema().fields]
        lineage = [
            {
                "partition_id": int(r["b"]),
                "last_version": int(r["v"]),
                "rows_applied": int(r["rows"]),
            }
            for r in stats
        ]
        self.table.replace_buckets(
            kept.select(*cols).unionByName(recomputed.select(*cols)),
            buckets=touched,
            watermark={
                "version": max_version,
                "batch_seq": seq,
                "partitions": lineage,
            },
            lineage=lineage,
            base=base,
            incoming_rows=max(int(r["rows"]) for r in stats),
        )
        return Scd2BatchResult(
            seq, rows_in, max_version, len(touched), time.monotonic() - t0
        )

    # ------------------------------------------------------------------
    def history(self) -> DataFrame:
        return self.table.read()

    def as_of(self, version: int) -> DataFrame:
        """Point-in-time state at change version ``version`` — a plain
        predicate over the committed table (no re-derivation)."""
        return self.table.read().filter(
            (F.col(VALID_FROM_COL) <= F.lit(version))
            & (F.col(VALID_TO_COL).isNull() | (F.col(VALID_TO_COL) > F.lit(version)))
        )
