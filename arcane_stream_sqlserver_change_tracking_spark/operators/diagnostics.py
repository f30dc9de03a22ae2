"""Data-distribution diagnostics for shuffle planning.

Shuffle-keyed operators without a map-side combine (the
centroid-bucketed joins, the merge path, a caller's own joins) need a
skew call — centroid count, bucket layout, salting or broadcast. W1
dedup needs none: its aggregation combines a hot key map-side. This
module computes the evidence for that call:

* :func:`skew_report` — the top-N hottest keys with exact row counts
  and integer ppm shares, plus nothing else: ONE map-side-combined
  aggregate over the keys, then a ``TakeOrderedAndProject`` top-N (no
  global sort shuffle — Spark rewrites ``orderBy().limit()`` into a
  per-partition heap + driver merge). At 100 TB the aggregate output is
  bounded by key cardinality and the result by ``top_n``.

Workflow: run ``skew_report(df, ["user_id"])`` before keying a big
join on ``user_id``; a top key holding >1% of rows (share_ppm >
10_000) is the signal to salt or broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def skew_report(df: DataFrame, key_cols: list[str], top_n: int = 20) -> DataFrame:
    """Top-``top_n`` hottest key values: (rank, keys..., cnt,
    share_ppm). ``share_ppm`` is exact integer parts-per-million
    (``cnt * 1_000_000 div total``) so the report is bit-identical
    across engines — no float in the output.

    Plan: one Exchange (map-side-combined count per key) →
    TakeOrderedAndProject (per-partition top-N heap, no global sort) →
    a window over ≤ top_n rows for the rank. Ties break on the key
    columns ascending, so the output is deterministic."""
    if not key_cols:
        raise ValueError("skew_report: key_cols must be non-empty")
    if top_n <= 0:
        raise ValueError(f"skew_report: top_n must be ≥1, got {top_n}")
    counts = df.groupBy(*key_cols).agg(F.count("*").cast("long").alias("cnt"))
    # total = plain row count over df (partial-agg, one 1-row Exchange) —
    # NOT counts.agg(sum), which would re-run the keyed aggregate subtree
    total = df.agg(F.count("*").cast("long").alias("total"))
    order = [F.desc("cnt")] + [F.asc(c) for c in key_cols]
    top = counts.orderBy(*order).limit(top_n)
    w = Window.orderBy(*order)  # ≤ top_n rows: single tiny partition is fine
    return (
        top.join(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w))
        .select(
            "rank", *key_cols, "cnt",
            F.expr("cnt * 1000000L div total").cast("long").alias("share_ppm"),
        )
    )


def column_profile(df: DataFrame, columns: list[str] | None = None,
                   *, round_to: int = 6, exact_quantiles: bool = True,
                   approx_accuracy: int = 10_000) -> DataFrame:
    """Numeric column profile in ONE scan: per column a row of
    (column, n, n_null, min_v, max_v, mean_v, p25, p50, p75) — the
    pre-flight the other diagnostics lean on (is the column worth a
    bloom filter? do the quantiles justify a range partition? how bad
    are the nulls before a not_null expectation is enforced?).

    Plan shape: every statistic for every column is an aggregate in a
    SINGLE ``agg`` — one scan, one partial+final aggregate, one
    single-partition Exchange of ONE row. Deliberately NO exact
    distinct count: k ``count_distinct`` aggregates in one pass make
    Catalyst plan an ``Expand`` that multiplies every scanned row by
    k (the token_vocab lesson, plan-pinned here as "no Expand node");
    NDV lives in the ANALYZE path (plans/lake.py) where it is one
    column per pass by design. Quantiles are Spark's exact
    ``percentile`` (linear interpolation — the same definition as
    standard ``quantile_cont``), rounded for cross-engine identity.

    ``columns`` defaults to every numeric column of ``df``.

    ``exact_quantiles=False`` is the corpus-scale path: exact
    ``percentile`` buffers every value of every profiled column in the
    aggregate (fine up to memory, wrong at 100 TB);
    ``percentile_approx`` keeps a bounded GK sketch per column instead
    (error ≤ 1/``approx_accuracy`` in rank), same single-pass plan.
    Approx quantiles return an actual data value rather than an
    interpolated one, so the exact variant stays the oracle default.
    """
    from pyspark.sql import types as T

    from ._join_common import qcol

    if columns is None:
        columns = [f.name for f in df.schema.fields
                   if isinstance(f.dataType, T.NumericType)]
    if not columns:
        raise ValueError("column_profile: no numeric columns to profile")
    if len(set(columns)) != len(columns):
        raise ValueError("column_profile: duplicate column names in "
                         f"{columns}")
    for c in columns:
        if not isinstance(df.schema[c].dataType, T.NumericType):
            raise ValueError(f"column_profile: {c!r} is not numeric "
                             f"({df.schema[c].dataType.simpleString()})")

    def _r(col):
        return F.round(col, round_to)

    # ONE shared row count for all columns (count(1) is column-
    # independent — k copies would be k redundant per-row buffer
    # updates in the very aggregate this operator keeps cheap);
    # internal aliases are positional (__nn_0…), never derived from
    # user names, and user columns are read via literal quoting (qcol)
    # so dotted/backticked names profile fine.
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(columns):
        v = qcol(c)
        aggs += [
            # count(when(isNull,1)) is 0 on an empty frame where
            # sum(cast) would be NULL
            F.count(F.when(v.isNull(), 1)).alias(f"__nn_{i}"),
            _r(F.min(v).cast("double")).alias(f"__min_{i}"),
            _r(F.max(v).cast("double")).alias(f"__max_{i}"),
            _r(F.avg(v)).alias(f"__mean_{i}"),
            (F.percentile(v, F.lit([0.25, 0.5, 0.75]))
             if exact_quantiles else
             F.percentile_approx(v, F.lit([0.25, 0.5, 0.75]),
                                 F.lit(approx_accuracy)).cast(
                 "array<double>")).alias(f"__q_{i}"),
        ]
    one = df.agg(*aggs)
    rows = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("__n").alias("n"),
            F.col(f"__nn_{i}").alias("n_null"),
            F.col(f"__min_{i}").alias("min_v"),
            F.col(f"__max_{i}").alias("max_v"),
            F.col(f"__mean_{i}").alias("mean_v"),
            _r(F.col(f"__q_{i}")[0]).alias("p25"),
            _r(F.col(f"__q_{i}")[1]).alias("p50"),
            _r(F.col(f"__q_{i}")[2]).alias("p75"),
        )
        for i, c in enumerate(columns)
    ]
    # explode of a literal-length array over the ONE aggregate row —
    # pure projection, not a second pass
    return (one.select(F.explode(F.array(*rows)).alias("p"))
            .select("p.*"))
