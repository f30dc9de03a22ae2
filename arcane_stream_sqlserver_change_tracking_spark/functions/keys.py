"""Key synthesis + column-name normalization (reference ops F1/F2/P4).

* F1 — ``arcane_merge_key`` synthesis from the primary-key column(s):
  the reference treats the merge key as a distinguished engine-derived
  field (``IndexedMergeKeyField``, Fixtures.scala:17-23) that the
  Iceberg target may be bucket-partitioned on
  (docs/crd.md:115, ``bucket(arcane_merge_key, 10)``).
  We derive it as ``sha2(concat_ws(US, key_cols...), 256)`` — a pure
  Catalyst expression, vectorized in whole-stage codegen, no UDF.

* P4/F2 — column-name normalization: special characters stripped,
  metadata names lowercased (docs/crd.md:226-228).
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: unit separator — an unambiguous join character for composite keys
KEY_SEP = "\x1f"

#: CDC metadata column names, pinned by the reference CRD essentialFields
#: default (.helm/templates/crd-microsoft-sql-server-stream.yaml:417-421),
#: lowercased per docs/crd.md:126-128.
VERSION_COL = "sys_change_version"
OPERATION_COL = "sys_change_operation"
MERGE_KEY_COL = "arcane_merge_key"
ESSENTIAL_FIELDS = (VERSION_COL, OPERATION_COL, MERGE_KEY_COL)

OP_INSERT = "I"
OP_UPDATE = "U"
OP_DELETE = "D"

#: name of the bucket hash function this engine version writes. Recorded
#: in table properties at create() and validated when a table is opened:
#: files bucketed under a DIFFERENT hash would silently defeat merge's
#: touched-bucket pruning (a key's existing rows would sit in a bucket
#: the merge never reads, and the table would accumulate duplicates), so
#: a mismatch is a hard error, never a fallback.
BUCKET_HASH_NAME = "murmur3"


def merge_key_expr(key_columns: Sequence[str]) -> Column:
    """sha2-256 over the unit-separated string form of the key columns.

    Deterministic, collision-negligible, uniformly distributed — which
    is exactly what the downstream hash-bucket partitioning wants.
    """
    parts = [F.col(c).cast("string") for c in key_columns]
    return F.sha2(F.concat_ws(KEY_SEP, *parts), 256)


def bucket_expr(merge_key: str | Column, num_buckets: int) -> Column:
    """Stable bucket id for a merge key: ``pmod(hash(mk), N)`` —
    Spark's Murmur3, the SAME function hashpartitioning uses.

    Deterministic across sessions/versions (murmur3 seed 42 is the
    basis of Spark's on-disk bucketed tables), so files written under
    bucket b in one run are correctly pruned in every later run (same
    contract as Iceberg's bucket transform, docs/crd.md:115).
    """
    col = F.col(merge_key) if isinstance(merge_key, str) else merge_key
    return F.pmod(F.hash(col), F.lit(num_buckets)).cast("int")


_NORMALIZE_RE = re.compile(r"[^0-9a-zA-Z_]")


def normalize_column_name(name: str) -> str:
    """Strip special characters (``$``, ``/``, ``\\`` …) per docs/crd.md:226-228;
    lowercase metadata column names per docs/crd.md:126-128."""
    cleaned = _NORMALIZE_RE.sub("", name)
    if cleaned.lower() in ESSENTIAL_FIELDS or cleaned.lower() == "changetrackingversion":
        return cleaned.lower()
    return cleaned


def normalize_column_names(df: DataFrame) -> DataFrame:
    """Rename all columns through :func:`normalize_column_name`.

    Pure metadata operation — zero data movement, no new stage.
    """
    new_names = [normalize_column_name(c) for c in df.columns]
    if new_names == list(df.columns):
        return df
    return df.toDF(*new_names)


def with_merge_key(df: DataFrame, key_columns: Sequence[str]) -> DataFrame:
    """Attach ``arcane_merge_key`` if not already present."""
    if MERGE_KEY_COL in df.columns:
        return df
    return df.withColumn(MERGE_KEY_COL, merge_key_expr(key_columns))
