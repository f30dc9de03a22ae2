"""Structured-Streaming mode — the continuous twin of
``CdcEngine.run_incremental`` (reference T1/T2/T3/S2: the polling loop
``MsSqlStreamingDataProvider`` + ``changeCaptureInterval`` trigger +
lifetime services, main.scala:79,91-92,78; SURVEY.md §2.10).

Spark-first mapping:

* poll scheduler (interval ± jitter)  -> ``trigger(processingTime=...)``
  for the Structured-Streaming mode; :func:`poll_loop` provides the
  reference's jittered poll cadence (``changeCaptureJitterVariance`` /
  ``changeCaptureJitterSeed``, crd yaml:132-135) for the tick-driven
  mode — jitter de-synchronizes many streams sharing one SQL Server
* one polled batch                    -> one micro-batch in
  ``foreachBatch``, drained by ``CdcEngine.run_incremental`` like a
  poll tick (the same chunking, staging overlap and K7 maintenance /
  ANALYZE cadences)
* throughput shaper (T2)              -> ``maxFilesPerTrigger`` /
  source rate options on the stream reader bound the micro-batch;
  the engine's shaper (``max_events_per_batch``) then chunks it
* graceful shutdown (T3)              -> ``query.stop()`` /
  ``trigger(availableNow=True)`` bounded drain for tests
* exactly-once                        -> the drain's watermark read:
  Structured Streaming may REPLAY a micro-batch after crash/restart
  (foreachBatch is at-least-once); only rows above the committed
  watermark are applied, so a replayed batch applies nothing and the
  lake table state is exactly-once regardless — the standard
  idempotent-sink pattern, strengthened because our watermark lives in
  the same atomic snapshot commit as the data.

The changelog stream itself can be any streaming DataFrame with the
changelog shape (payload ∪ sys_change_version/sys_change_operation):
a file-source directory of parquet change files (used in tests — the
shape a binlog/WAL shipper or CHANGETABLE poller would land), Kafka,
or rate-source synthetics.
"""

from __future__ import annotations

import random
import time
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from .runner import BatchResult, CdcEngine


def poll_intervals(
    interval_seconds: float,
    jitter_variance_seconds: float = 0.0,
    jitter_seed: int = 0,
) -> Iterator[float]:
    """Infinite sequence of poll delays: ``interval + uniform[0,
    variance)`` jitter, deterministic from the seed — the reference's T1
    ``changeCaptureInterval`` + ``changeCaptureJitterVariance`` /
    ``changeCaptureJitterSeed`` (crd-microsoft-sql-server-stream.yaml:
    129-135). Jitter matters when MANY streams tail one SQL Server:
    seeded offsets keep their polls from landing on the same instant."""
    rng = random.Random(jitter_seed)
    while True:
        delay = interval_seconds
        if jitter_variance_seconds:
            delay += rng.random() * jitter_variance_seconds
        yield delay


def poll_loop(
    engine: CdcEngine,
    changelog_provider: Callable[[], DataFrame],
    interval_seconds: float,
    max_ticks: int | None = None,
    jitter_variance_seconds: float = 0.0,
    jitter_seed: int = 0,
    sleep: Callable[[float], None] = time.sleep,
) -> list[BatchResult]:
    """Tick-driven poll mode: each tick drains everything pending above
    the committed watermark (``run_incremental``), then sleeps the
    jittered interval. ``changelog_provider`` is called per tick (e.g.
    a fresh ``MsSqlSource.read_changes`` from the current watermark);
    ``sleep`` is injectable for tests."""
    results: list[BatchResult] = []
    for tick, delay in enumerate(
        poll_intervals(interval_seconds, jitter_variance_seconds, jitter_seed)
    ):
        if max_ticks is not None and tick >= max_ticks:
            break
        results.extend(engine.run_incremental(changelog_provider()))
        sleep(delay)
    return results


def changelog_file_stream(
    spark: SparkSession,
    directory: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """A changelog stream tailing a directory of parquet change files —
    the lake-side equivalent of tailing CHANGETABLE: each landed file is
    a chunk of change rows. ``maxFilesPerTrigger`` is the throughput
    shaper (reference T2 ``advisedChunkSize``/rate options)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(directory)


def run_stream(
    engine: CdcEngine,
    changelog_stream: DataFrame,
    checkpoint_dir: str,
    processing_time: str | None = None,
    available_now: bool = False,
    query_name: str = "arcane-cdc-stream",
) -> StreamingQuery:
    """Start the continuous pipeline: every micro-batch is drained by
    ``engine.run_incremental`` (watermark read -> chunking -> dedup ->
    normalize -> schema-evolve -> merge -> atomic watermark commit ->
    maintenance cadence).

    ``available_now=True`` drains all currently-available input then
    stops (the reference test-mode ``TimeLimitLifetimeService`` analog);
    ``processing_time`` gives the polling cadence otherwise
    (``changeCaptureInterval`` analog).
    """

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch may re-deliver a batch after restart; the drain
        # applies only rows above the committed watermark
        engine.run_incremental(batch_df)

    writer = (
        changelog_stream.writeStream.foreachBatch(_apply)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def run_stream_from_spec(
    engine: CdcEngine,
    changelog_stream: DataFrame,
    checkpoint_dir: str,
    cfg,
    available_now: bool = False,
    trigger_override_seconds: float | None = None,
    query_name: str = "arcane-cdc-stream",
) -> StreamingQuery:
    """Boot the STREAMING path from a reference-shaped spec
    (:class:`~..config.SpecConfig`): ``changeCaptureInterval`` becomes
    the processingTime trigger, offset by the per-stream seeded jitter
    (``changeCaptureJitterSeed``/``Variance`` with the stream id mixed
    in — config.jittered_trigger_seconds). So the same CRD body that
    drives replay/backfill drives ``run_stream`` too.

    ``trigger_override_seconds`` lets a CLI flag take precedence over
    the spec interval while keeping the spec's jitter semantics;
    ``available_now=True`` (bounded drain) ignores cadence entirely —
    there is no next poll to jitter."""
    if available_now:
        return run_stream(engine, changelog_stream, checkpoint_dir,
                          available_now=True, query_name=query_name)
    from ..config import jittered_trigger_seconds

    base = (trigger_override_seconds if trigger_override_seconds is not None
            else cfg.trigger_seconds)
    trigger = jittered_trigger_seconds(
        base, cfg.jitter_seed, cfg.jitter_variance_seconds, cfg.stream_id)
    return run_stream(engine, changelog_stream, checkpoint_dir,
                      processing_time=f"{trigger} seconds",
                      query_name=query_name)
