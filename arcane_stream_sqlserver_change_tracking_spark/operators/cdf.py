"""Change Data Feed: row-level diff between two committed table states.

The reference engine consumes SQL Server's change feed; the natural
downstream counterpart is *producing* one — "what changed between
snapshot A and snapshot B of the replicated table" — so a consumer can
incrementally sync from the lake without re-reading the full table
(Iceberg's `create_changelog_view` / Delta's CDF serve the same need;
the reference targets exactly such engines via its Iceberg sink,
/root/reference/src/main/scala/main.scala:80-84).

Three layers:

* :func:`snapshot_diff` — a pure DataFrame operator: FULL OUTER join of
  the two states on the key columns, null-safe per-column comparison,
  `_change_type ∈ {insert, update_postimage, delete}`. Post-image for
  inserts/updates, pre-image for deletes (the row a consumer must
  retract). One shuffle per side (hash exchange on the key), then a
  single-pass whole-stage-codegen projection — no UDF, no collect.

* ``LakeTable.changes_between`` (plans/lake.py) — the scale layer: this
  engine's tables are copy-on-write with per-bucket manifests, so a
  bucket whose manifest file is the SAME object in both snapshots
  cannot contain a changed row. The diff therefore plans from the
  manifest delta and scans ONLY touched buckets on both sides —
  metadata-bounded IO, the same trick merge uses for its bucket-pruned
  anti-join. On a 10k-bucket 100 TB table where a batch touched 3
  buckets, the CDF reads 3 buckets twice instead of the table twice.

* :class:`CdfCursor` — the consumer loop: a checkpointed incremental
  reader that tails the replica's change feed exactly the way the
  engine tails SQL Server (poll → process → commit cursor). Each poll
  plans ``changes_between(checkpointed, current)``; the checkpoint is
  advanced only after the consumer confirms the increment was applied,
  so a crash between poll and commit replays the same increment —
  at-least-once delivery of a deterministic diff, which is
  exactly-once in final state when applied as a keyed merge (the same
  contract the engine itself offers its sink).

Determinism: the diff is a set operation over committed states — no
ordering sensitivity, so it oracles exactly against a SQL FULL OUTER
JOIN replay.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Sequence
from typing import Any

from pyspark.sql import DataFrame, functions as F

CHANGE_TYPE_COL = "_change_type"

CT_INSERT = "insert"
CT_UPDATE = "update_postimage"
CT_DELETE = "delete"


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_columns: Sequence[str],
    compare_columns: Sequence[str] | None = None,
) -> DataFrame:
    """Row-level changes that turn ``old`` into ``new``.

    Returns one row per changed key with the table's columns
    (post-image for insert/update, pre-image for delete) plus
    ``_change_type``. Keys whose compared columns are all null-safe
    equal are dropped — an idempotent re-apply produces an empty feed.

    ``compare_columns`` defaults to every non-key column the two inputs
    share; columns present on only one side (schema evolution between
    the snapshots) are compared as null on the missing side and
    null-padded in the output, mirroring the lake's read-time
    evolution.
    """
    keys = list(key_columns)
    old_cols = [c for c in old.columns if c not in keys]
    new_cols = [c for c in new.columns if c not in keys]
    # evolved union, new side's order first — the output schema
    payload = list(dict.fromkeys(new_cols + old_cols))
    if "_present" in payload or "_present" in keys:
        raise ValueError(
            "snapshot_diff reserves the column name '_present' for its "
            "join-side presence marker; rename the input column"
        )
    if compare_columns is None:
        compare_columns = payload

    def _pad(df: DataFrame, have: list[str]) -> DataFrame:
        missing = [c for c in payload if c not in have]
        return df.select(
            *keys,
            *[F.col(c) for c in payload if c in have],
            *[F.lit(None).alias(c) for c in missing],
            # non-null presence marker: key nullability is NOT a safe
            # presence probe under eqNullSafe (an all-NULL key row
            # matches across sides yet both key-based probes would read
            # "absent", mislabeling a match as insert)
            F.lit(True).alias("_present"),
        )

    o = _pad(old, old_cols).alias("o")
    n = _pad(new, new_cols).alias("n")
    on = [F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in keys]
    joined = o.join(n, on, "full_outer")

    # a side "exists" iff the join found a row there — probe the
    # always-true marker, which is NULL only when that side is the
    # null-padded half of the full-outer join
    o_present = F.col("o._present").isNotNull()
    n_present = F.col("n._present").isNotNull()

    same = F.lit(True)
    for c in compare_columns:
        same = same & F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))

    change = (
        F.when(~o_present, F.lit(CT_INSERT))
        .when(~n_present, F.lit(CT_DELETE))
        .when(~same, F.lit(CT_UPDATE))
    )  # NULL → unchanged, filtered below

    side = F.when(F.col(CHANGE_TYPE_COL) == CT_DELETE, F.lit("o")).otherwise(F.lit("n"))
    out = (
        joined.withColumn(CHANGE_TYPE_COL, change)
        .filter(F.col(CHANGE_TYPE_COL).isNotNull())
        .select(
            *[
                F.when(side == "o", F.col(f"o.{k}")).otherwise(F.col(f"n.{k}")).alias(k)
                for k in keys
            ],
            *[
                F.when(side == "o", F.col(f"o.{c}")).otherwise(F.col(f"n.{c}")).alias(c)
                for c in payload
            ],
            CHANGE_TYPE_COL,
        )
    )
    return out


class CursorBehindRetentionError(RuntimeError):
    """The cursor's checkpointed snapshot has been expired by table
    maintenance — the increments it needs no longer exist. The consumer
    must re-bootstrap (full read + reset), the same recovery SQL Server
    forces on a change-tracking reader whose version fell behind
    CHANGE_TRACKING_MIN_VALID_VERSION (the engine's own retention
    fail-fast mirrors it, sources/mssql.py)."""


class CdfCursor:
    """Checkpointed incremental consumer of a lake table's change feed.

    Usage (the downstream twin of the engine's own poll loop)::

        cur = CdfCursor(table, "/ckpt/orders.cdfcursor.json")
        inc = cur.poll()
        while inc is not None:
            df, upto = inc
            apply_somewhere(df)     # idempotent keyed merge
            cur.commit(upto)        # advance only after the apply
            inc = cur.poll()

    * ``start_at="beginning"`` (default): the first poll returns the
      full initial state as ``insert`` rows — ``changes_between``
      from the table's empty snapshot 0 — so a fresh consumer
      bootstraps and tails through one code path.
    * ``start_at="latest"``: the first poll begins at the current
      snapshot (no initial load).

    The checkpoint is a single JSON file written atomically
    (tmp + ``os.replace``), holding the last APPLIED snapshot id plus
    the source's public clock (the watermark change version) for
    observability. Crash between ``poll`` and ``commit`` ⇒ the next
    poll re-plans the identical increment (the diff is a pure function
    of two immutable snapshots): at-least-once delivery, exactly-once
    final state under keyed-merge application.

    Scale: each poll costs O(buckets touched since the checkpoint),
    never O(table) — the manifest-delta pruning in ``changes_between``.
    A consumer that polls every batch reads each changed bucket once
    per increment; one that polls daily reads the net diff (interim
    churn collapses), which is exactly the CDF-vs-changelog tradeoff
    at 100 TB.
    """

    def __init__(
        self,
        table: Any,
        checkpoint_path: str,
        key_columns: Sequence[str] | None = None,
        start_at: str = "beginning",
    ) -> None:
        if start_at not in ("beginning", "latest"):
            raise ValueError(f"start_at must be beginning|latest, got {start_at!r}")
        self.table = table
        self.checkpoint_path = checkpoint_path
        self.key_columns = list(key_columns) if key_columns else None
        self.start_at = start_at

    # -- checkpoint plumbing ------------------------------------------------
    def _load(self) -> dict[str, Any] | None:
        try:
            with open(self.checkpoint_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def position(self) -> int | None:
        """Last committed (applied) snapshot id, or None before the
        first commit."""
        state = self._load()
        return None if state is None else int(state["snapshot_id"])

    # -- the consumer loop --------------------------------------------------
    def poll(self) -> tuple[DataFrame, int] | None:
        """Plan the next increment. Returns ``(changes_df, upto_snapshot_id)``
        or ``None`` when the cursor is caught up. Does NOT advance the
        checkpoint — call :meth:`commit` after applying."""
        current = self.table.current_snapshot()
        if current is None:
            raise FileNotFoundError(f"no such table: {self.table.root}")
        last = self.position()
        if last is None:
            if self.start_at == "latest":
                # begin tailing from here: nothing to deliver yet
                self.commit(current.snapshot_id)
                return None
            last = 0  # the empty created snapshot → initial load as inserts
        if current.snapshot_id <= last:
            return None
        known = set(self.table.snapshot_log())
        if last not in known:
            if last == 0:
                # the created snapshot was expired by maintenance — a
                # fresh consumer can still bootstrap: full current state
                # as inserts (changes_between from nothing), then tail
                df = self.table.changes_between(
                    None, current.snapshot_id, key_columns=self.key_columns
                )
                return df, current.snapshot_id
            raise CursorBehindRetentionError(
                f"cursor at snapshot {last} but the table retains only "
                f"{sorted(known)[:1]}..{sorted(known)[-1:]} — maintenance "
                f"expired the cursor's base; re-bootstrap the consumer "
                f"(delete the checkpoint: a fresh beginning-cursor "
                f"bootstraps from the current state)"
            )
        df = self.table.changes_between(
            last, current.snapshot_id, key_columns=self.key_columns
        )
        return df, current.snapshot_id

    def commit(self, upto_snapshot_id: int) -> None:
        """Atomically advance the checkpoint to ``upto_snapshot_id``
        (call only after the increment is durably applied downstream)."""
        last = self.position()
        if last is not None and upto_snapshot_id < last:
            raise ValueError(
                f"cursor may not move backwards: {last} -> {upto_snapshot_id}"
            )
        snap = self.table.snapshot(upto_snapshot_id)
        state = {
            "snapshot_id": upto_snapshot_id,
            "change_version": (snap.watermark or {}).get("version"),
        }
        tmp = f"{self.checkpoint_path}.{uuid.uuid4().hex[:8]}.tmp"
        os.makedirs(os.path.dirname(self.checkpoint_path) or ".", exist_ok=True)
        with open(tmp, "w") as f:
            json.dump(state, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.checkpoint_path)


def cdf_increment_to_changes(
    df: DataFrame, key_columns: Sequence[str], version: int
) -> DataFrame:
    """Adapt one CDF increment (``snapshot_diff`` output) into the raw
    change-event shape the engine family consumes (``Scd2Table``,
    ``CdcEngine.run_incremental``): insert/update → operation ``U`` with the
    post-image payload, delete → ``D`` with a null payload, every row
    stamped with the increment's ``version`` (callers typically pass the
    drained-to snapshot id — monotone, so interval columns stay
    ordered). This closes the loop: a downstream consumer can tail the
    replica with :class:`CdfCursor` and maintain derived tables (SCD2
    history, aggregates) through exactly the machinery the engine itself
    uses against SQL Server. Pure projection — no shuffle."""
    from ..functions.keys import OPERATION_COL, VERSION_COL

    keys = list(key_columns)
    payload = [c for c in df.columns if c not in keys and c != CHANGE_TYPE_COL]
    is_del = F.col(CHANGE_TYPE_COL) == CT_DELETE
    return df.select(
        *keys,
        *[F.when(~is_del, F.col(c)).alias(c) for c in payload],
        F.when(is_del, F.lit("D")).otherwise(F.lit("U")).alias(OPERATION_COL),
        F.lit(version).cast("long").alias(VERSION_COL),
    )
