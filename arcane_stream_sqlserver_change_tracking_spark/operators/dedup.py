"""W1 — net-change dedup: at most one change row per ``arcane_merge_key``
per applied batch, keeping the row with the highest ``sys_change_version``.

Reference semantics: SQL Server ``CHANGETABLE(CHANGES)`` returns net
change per key per poll, and the engine must preserve that across chunk
boundaries because the downstream (Trino) MERGE aborts on duplicate
source keys (SURVEY.md §2.3; behavior pinned by
src/test/scala/tests/integration/StreamRunner.scala:155-161,254-258).

One strategy, ONE shuffle:
``groupBy(mk).agg(max_by(struct(all_cols), order))``. Skew-safe by
construction: hash aggregation's map-side partial agg collapses a hot
key to ≤1 row per map task *before* the shuffle, so the hot key's
reducer receives ≤ num_map_tasks rows regardless of how many changes hit
that key — the bound an explicit salted two-phase agg buys, with one
fewer shuffle. The salted variant was deleted after losing on every
measured feed (BENCH.md: 1M rows on local[4], 1.9s vs 1.1s with 50% of
rows on one key, 2.7s vs 1.5s with unique keys). The textbook window
form, ``row_number() OVER (PARTITION BY mk ORDER BY version DESC) = 1``,
is not offered: it cannot map-side combine (a hot key lands on one
task). ``top_k_per_key`` below is the window shape for k > 1.

Determinism under version ties: ordered by
``struct(sys_change_version, sys_change_operation, xxhash64(row))`` so
equal versions resolve identically everywhere (the generator contract
makes versions unique per key; this is belt-and-braces). The tiebreak is
a fixed-width hash, NOT the row struct itself — comparing long text
payloads in the aggregation buffer would dominate batch cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.keys import MERGE_KEY_COL, OPERATION_COL, VERSION_COL

_ROW = "__row"


def _order_struct(df: DataFrame):
    # total order: version, then operation, then a fixed-width row hash
    # for absolute determinism — comparisons are cheap (two longs + a
    # short string) and short-circuit on the version
    return F.struct(
        F.col(VERSION_COL),
        F.col(OPERATION_COL),
        F.xxhash64(*[F.col(c) for c in df.columns]),
    )


def latest_change_per_key(
    df: DataFrame,
    key_col: str = MERGE_KEY_COL,
    count_col: str | None = None,
) -> DataFrame:
    """Return one row per ``key_col`` — the one with max
    ``sys_change_version``. With ``count_col``, each row also carries in
    that column the number of input rows its key had; their sum is the
    dedup's input row count."""
    counted = [count_col] if count_col else []
    cols = df.columns
    return (
        df.groupBy(key_col)
        .agg(F.max_by(F.struct(*cols), _order_struct(df)).alias(_ROW),
             *[F.count(F.lit(1)).alias(c) for c in counted])
        .select([F.col(f"{_ROW}.{c}").alias(c) for c in cols] + counted)
    )


def top_k_per_key(
    df: DataFrame,
    keys,
    order_by,
    k: int,
    *,
    descending: bool = True,
    tiebreak: str | None = None,
    rank_col: str | None = None,
) -> DataFrame:
    """Generic k>1 generalization of the top-1 family: the k best rows
    per key by ``order_by`` (first k per ordering). Top-N products per
    category, k freshest versions per entity, k best-scoring documents
    per cluster — the everyday group-limit query.

    Plan shape: row_number over (keys, ordering) then ``<= k`` — which
    Spark 4 rewrites with ``WindowGroupLimit``: each MAP task keeps
    only its local top-k per key BEFORE the Exchange, so a hot key
    ships ≤ k·num_map_tasks rows instead of its full history, and the
    reducer-side sort is over pre-pruned data. That optimizer rewrite
    (plan-pinned in tests) is why this beats collecting per-key arrays
    or a self-join at 100 TB.

    ``tiebreak`` (strongly recommended) makes the ordering total —
    equal ``order_by`` values otherwise rank arbitrarily per engine.
    ``rank_col`` optionally exposes the 1-based rank in the output.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if isinstance(keys, str):
        keys = [keys]
    from ._join_common import check_reserved_names, qcol

    # _ROW would silently overwrite a same-named input column, and a
    # rank_col colliding with an existing column would emit duplicates
    reserved = [_ROW] + ([rank_col] if rank_col is not None else [])
    check_reserved_names(reserved, ("input", df.columns))
    order = [qcol(order_by).desc() if descending
             else qcol(order_by).asc()]
    if tiebreak is not None:
        order.append(qcol(tiebreak).asc())
    w = Window.partitionBy(*[qcol(c) for c in keys]).orderBy(*order)
    out = (df.withColumn(_ROW, F.row_number().over(w))
           .filter(F.col(_ROW) <= k))
    if rank_col is not None:
        return out.withColumnRenamed(_ROW, rank_col)
    return out.drop(_ROW)
