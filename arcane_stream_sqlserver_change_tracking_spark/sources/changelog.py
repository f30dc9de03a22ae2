"""S1-equivalent — the change feed.

The reference polls SQL Server ``CHANGETABLE(CHANGES schema.table, @ver)``
(net change per key since a version; deleted keys carry NULL payload —
SURVEY.md §2.1 S1, Fixtures.scala:31-39). Our engine consumes the same
*shape* from any DataFrame: payload columns ∪
``{sys_change_version: long, sys_change_operation: 'I'|'U'|'D'}``.

Two providers:

* :func:`synth_transcripts_changelog` — a deterministic, scale-
  parameterized generator of a transcripts changelog
  (BASELINE.json input_hint shape: conv_id, turn_idx, role, text,
  [tool], ts). Built entirely from ``spark.range`` + hash expressions,
  so 10^10 events are *described*, never materialized: generation cost
  is per-partition streaming work, zero driver memory, no shuffles.
  Skew is built in: a configurable share of events hit a few hot
  conversations (Zipf-ish head), which the dedup's map-side combine
  absorbs.

* :func:`events_as_changelog` — adapts the driver-provided ``events``
  parquet table (TESTDATA.md) to the changelog shape: key=user_id,
  version=event_id, op: 'error' → D, else U (CHANGETABLE net-change
  consumers treat I and U identically — both are upserts; the MERGE
  branches only on D, StreamRunner.scala:235-248).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.keys import OPERATION_COL, VERSION_COL


def _hash01(*cols) -> F.Column:
    """Deterministic pseudo-uniform in [0,1) from a hash — avoids
    F.rand(), whose values depend on partitioning."""
    return (F.pmod(F.xxhash64(*cols), F.lit(1_000_000)).cast("double") / 1_000_000.0)


def synth_transcripts_changelog(
    spark: SparkSession,
    num_events: int,
    num_convs: int = 1000,
    max_turns: int = 64,
    hot_conv_count: int = 4,
    hot_fraction: float = 0.2,
    delete_fraction: float = 0.08,
    with_tool: bool = False,
    version_offset: int = 0,
    payload_repeat: int = 1,
    num_partitions: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Deterministic transcripts changelog of ``num_events`` rows with
    versions ``version_offset+1 .. version_offset+num_events``.

    Every column is a pure function of the event id (and seed), so any
    sub-range regenerates identically — the property that lets tests
    replay the same feed the engine consumed, and lets 10^10-event runs
    stream without a materialized source.
    """
    df = spark.range(0, num_events, 1, num_partitions or spark.sparkContext.defaultParallelism)
    sid = F.lit(seed)
    # hash on the version-offset id so a feed generated in epochs
    # (version_offset=N) is a *continuation*, not a replay of the same
    # key/op sequence
    eid = F.col("id") + F.lit(version_offset)

    is_hot = _hash01(sid, F.lit("hot"), eid) < F.lit(hot_fraction)
    conv_num = F.when(
        is_hot, F.pmod(F.xxhash64(sid, F.lit("hc"), eid), F.lit(hot_conv_count))
    ).otherwise(
        F.pmod(F.xxhash64(sid, F.lit("cc"), eid), F.lit(num_convs))
    )
    turn = F.pmod(F.xxhash64(sid, F.lit("t"), eid), F.lit(max_turns)).cast("int")

    op_u = _hash01(sid, F.lit("op"), eid)
    op = (
        F.when(op_u < F.lit(delete_fraction), F.lit("D"))
        .when(op_u < F.lit(delete_fraction + 0.25), F.lit("I"))
        .otherwise(F.lit("U"))
    )
    role = F.element_at(
        F.array(F.lit("user"), F.lit("assistant"), F.lit("system"), F.lit("tool")),
        (F.pmod(F.xxhash64(sid, F.lit("r"), eid), F.lit(4)) + 1).cast("int"),
    )
    base_text = F.concat_ws(
        " ",
        F.lit("turn"),
        conv_num.cast("string"),
        turn.cast("string"),
        F.md5(F.concat_ws("-", sid.cast("string"), eid.cast("string"))),
    )
    text = (
        F.concat_ws(" ", *([base_text] * payload_repeat))
        if payload_repeat > 1
        else base_text
    )
    ts = F.timestamp_seconds(F.lit(1_700_000_000) + eid)

    cols = [
        (eid + F.lit(1)).alias(VERSION_COL),  # eid already carries version_offset
        op.alias(OPERATION_COL),
        F.concat(F.lit("conv-"), conv_num.cast("string")).alias("conv_id"),
        turn.alias("turn_idx"),
        # D rows: payload NULL except the key (CHANGETABLE left-join
        # semantics — deleted keys have no base row, Fixtures contract)
        F.when(op != "D", role).alias("role"),
        F.when(op != "D", text).alias("text"),
        F.when(op != "D", ts).alias("ts"),
    ]
    if with_tool:
        cols.append(
            F.when(
                (role == "tool") & (op != "D"),
                F.concat(
                    F.lit("tool-"),
                    F.pmod(F.xxhash64(sid, F.lit("tl"), eid), F.lit(8)).cast("string"),
                ),
            ).alias("tool")
        )
    return df.select(*cols)


def transcripts_from_events(events: DataFrame, num_turns: int = 40) -> DataFrame:
    """Derive a deterministic *transcripts* changelog (BASELINE.json
    input_hint shape: conv_id, turn_idx, role, text, tool, ts) from the
    driver testdata ``events`` table, using only expressions DuckDB can
    reproduce exactly — this is what lets the flagship transcripts CDC
    replay have a cross-engine oracle.

    Mapping: key = (conv_id='conv-'||user_id, turn_idx=event_id%num_turns),
    version = event_id+1 (strictly positive, above the epoch watermark),
    op: error→D, signup→I, else U. The raw ``text`` deliberately carries
    messy whitespace (double spaces, tabs) so the Arrow pandas-UDF
    normalization pass (functions/text.py) is observable in the final
    state. D rows carry NULL payload (CHANGETABLE left-join semantics).
    """
    op = (
        F.when(F.col("event_type") == "error", F.lit("D"))
        .when(F.col("event_type") == "signup", F.lit("I"))
        .otherwise(F.lit("U"))
    )
    role = F.element_at(
        F.array(F.lit("user"), F.lit("assistant"), F.lit("system"), F.lit("tool")),
        (F.pmod(F.col("event_id"), F.lit(4)) + 1).cast("int"),
    )
    raw_text = F.concat(
        F.lit("  "), F.col("event_type"),
        F.lit("  turn\t"), F.pmod(F.col("event_id"), F.lit(num_turns)).cast("string"),
        F.lit("  "), F.col("props"), F.lit(" "),
    )
    tool = F.when(
        role == "tool",
        F.concat(F.lit("tool-"), F.pmod(F.col("event_id"), F.lit(8)).cast("string")),
    )
    not_del = op != "D"
    return events.select(
        (F.col("event_id") + F.lit(1)).alias(VERSION_COL),
        op.alias(OPERATION_COL),
        F.concat(F.lit("conv-"), F.col("user_id").cast("string")).alias("conv_id"),
        F.pmod(F.col("event_id"), F.lit(num_turns)).cast("int").alias("turn_idx"),
        F.when(not_del, role).alias("role"),
        F.when(not_del, raw_text).alias("text"),
        F.when(not_del, tool).alias("tool"),
        F.when(not_del, F.col("ts")).alias("ts"),
    )


def events_as_changelog(events: DataFrame) -> DataFrame:
    """Adapt the driver testdata ``events`` table to the changelog shape.

    version = event_id + 1: versions must be strictly positive so the
    epoch watermark (0) does not swallow the first event."""
    return events.select(
        (F.col("event_id") + F.lit(1)).alias(VERSION_COL),
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias(OPERATION_COL),
        F.col("user_id"),
        F.col("ts"),
        F.col("event_type"),
        F.col("value"),
        F.col("props"),
    )
