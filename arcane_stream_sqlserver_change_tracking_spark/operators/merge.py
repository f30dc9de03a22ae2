"""J2 — the MERGE upsert join, expressed as DataFrame operations.

Reference semantics (MergeBatchProcessor → Trino ``MERGE INTO``,
main.scala:74,85; behavior pinned by StreamRunner.scala:254-258 and the
null-padding assertions in SchemaMigrationTests.scala:163-166,209-212)::

    MERGE INTO target t USING batch s ON t.arcane_merge_key = s.arcane_merge_key
    WHEN MATCHED AND s.sys_change_operation = 'D' THEN DELETE
    WHEN MATCHED THEN UPDATE SET *
    WHEN NOT MATCHED AND s.sys_change_operation <> 'D' THEN INSERT *

Because the batch is deduped to one row per key (operators/dedup.py),
the merge is equivalent to::

    retained = target ⟕anti batch.keys        -- rows whose key didn't change
    upserts  = batch WHERE op <> 'D'          -- new current row per changed key
    result   = retained ∪ upserts

which is how we compute the new content of the *touched buckets only*
(plans/lake.py prunes the scan and the rewrite to those buckets, and
writes that content as one DataFrame, one file per bucket).

Physical strategy at scale: the batch (and its key set) is tiny relative
to the table, so the anti-join needs no table-side shuffle — we
broadcast the batch keys when the deduped batch is under
``broadcast_threshold`` rows, giving a broadcast-hash anti-join against
a bucket-pruned scan. The only shuffle of table data is the write's
repartition of the touched buckets by bucket. Delete events for
never-inserted keys are naturally no-ops (they only appear in the anti
key set). Duplicate-key safety and D-row null payloads are handled
upstream exactly as the reference requires (SURVEY.md §7.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.keys import MERGE_KEY_COL, OPERATION_COL, OP_DELETE


def conform(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project ``df`` onto ``schema``: columns ``df`` lacks (dropped at
    the source but retained in the target) become NULL — reference
    SchemaMigrationTests.scala:209-212 — and every column is cast to the
    schema's type, in the schema's order."""
    return df.select(
        *[
            (F.col(f.name) if f.name in df.columns else F.lit(None))
            .cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
    )


def plan_merge(
    existing: DataFrame,
    deduped_batch: DataFrame,
    schema: T.StructType,
    broadcast_keys: bool = True,
) -> DataFrame:
    """The post-merge content of the touched buckets, conformed to
    ``schema``: retained ∪ upserts.

    ``existing``       — current rows of the touched buckets (table schema).
    ``deduped_batch``  — exactly one row per merge key, with
                         ``sys_change_operation`` and all payload columns
                         (missing payload columns allowed — null-padded,
                         mirroring drop-column retention semantics).
    ``schema``         — the (possibly evolved) target schema.
    """
    keys = deduped_batch.select(MERGE_KEY_COL)
    if broadcast_keys:
        keys = F.broadcast(keys)

    upserts = conform(
        deduped_batch.filter(F.col(OPERATION_COL) != F.lit(OP_DELETE)), schema)
    # the anti-join moves the key column first; conform restores order
    retained = conform(existing.join(keys, on=MERGE_KEY_COL, how="left_anti"), schema)
    return retained.unionByName(upserts)
