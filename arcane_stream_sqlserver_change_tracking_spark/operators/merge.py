"""J2 — the MERGE upsert join, expressed as DataFrame operations.

Reference semantics (MergeBatchProcessor → Trino ``MERGE INTO``,
main.scala:74,85; behavior pinned by StreamRunner.scala:254-258 and the
null-padding assertions in SchemaMigrationTests.scala:163-166,209-212)::

    MERGE INTO target t USING batch s ON t.arcane_merge_key = s.arcane_merge_key
    WHEN MATCHED AND s.sys_change_operation = 'D' THEN DELETE
    WHEN MATCHED THEN UPDATE SET *
    WHEN NOT MATCHED AND s.sys_change_operation <> 'D' THEN INSERT *

Because the batch is deduped to one row per key (operators/dedup.py),
the merge is, per key: the batch row if there is one, whatever the
versions (a merge backfill's older row replaces a newer table row),
else the table's rows; then drop ``D`` rows. Only the touched buckets
are computed (plans/lake.py prunes the scan and the rewrite to them).

Physical plan: table rows (side 0, operation NULL) ∪ batch (side 1),
repartitioned by the table's bucket expression ``pmod(hash(mk), N)``,
then ``rank() = 1`` over (bucket, key) by side DESC — ``rank``, so an
untouched key keeps all its table rows. The writer needs that
partitioning, so Spark elides its repartition: ONE exchange per commit
at every batch size, no broadcast, no join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.keys import MERGE_KEY_COL, OPERATION_COL, OP_DELETE, bucket_expr

_SIDE = "__side"
_RANK = "__rank"
_OP = "__op"


def conform(df: DataFrame, schema: T.StructType, *extra: Column) -> DataFrame:
    """Project ``df`` onto ``schema``: columns ``df`` lacks (dropped at
    the source but retained in the target) become NULL — reference
    SchemaMigrationTests.scala:209-212 — and every column is cast to the
    schema's type, in the schema's order, followed by ``extra``. Columns
    of the right type skip the cast (several driver py4j calls each)."""
    have = {f.name: f.dataType for f in df.schema.fields}
    return df.select(
        *[
            F.col(f.name) if have.get(f.name) == f.dataType else
            (F.col(f.name) if f.name in have else F.lit(None))
            .cast(f.dataType).alias(f.name)
            for f in schema.fields
        ],
        *extra,
    )


def plan_merge(
    existing: DataFrame,
    deduped_batch: DataFrame,
    schema: T.StructType,
    num_buckets: int,
) -> DataFrame:
    """The post-merge content of the touched buckets, conformed to
    ``schema`` and hash-partitioned by bucket (of ``num_buckets``).

    ``existing``       — current rows of the touched buckets (table schema).
    ``deduped_batch``  — exactly one row per merge key, with
                         ``sys_change_operation`` and all payload columns
                         (missing payload columns allowed — null-padded,
                         mirroring drop-column retention semantics).
    ``schema``         — the (possibly evolved) target schema.
    """
    bucket = bucket_expr(MERGE_KEY_COL, num_buckets)
    by_key = Window.partitionBy(bucket, MERGE_KEY_COL).orderBy(F.col(_SIDE).desc())
    return (
        conform(existing, schema, F.lit(0).alias(_SIDE), F.lit(None).alias(_OP))
        .union(conform(deduped_batch, schema, F.lit(1).alias(_SIDE),
                       F.col(OPERATION_COL).alias(_OP)))
        .repartition(bucket)
        .select("*", F.rank().over(by_key).alias(_RANK))
        .filter((F.col(_RANK) == 1) & ~F.col(_OP).eqNullSafe(OP_DELETE))
        .drop(_SIDE, _OP, _RANK)
    )
