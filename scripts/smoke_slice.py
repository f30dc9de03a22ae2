"""Minimum end-to-end slice (SURVEY.md §7.1): generate a changelog,
bootstrap, replay in micro-batches, compare final state to a DuckDB
oracle."""

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import types as T

from arcane_stream_sqlserver_change_tracking_spark.session import build_session
from arcane_stream_sqlserver_change_tracking_spark.plans.lake import LakeTable
from arcane_stream_sqlserver_change_tracking_spark.streaming.runner import CdcEngine, EngineOptions
from arcane_stream_sqlserver_change_tracking_spark.sources.changelog import synth_transcripts_changelog

spark = build_session(cpus=8)
root = tempfile.mkdtemp(prefix="lake_")
try:
    payload = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    table = LakeTable(spark, root)
    eng = CdcEngine(spark, table, EngineOptions(
        num_buckets=16, max_events_per_batch=5000,
        normalize_text_columns=("text",),
    ))
    eng.bootstrap(payload)
    log = synth_transcripts_changelog(spark, 20000, num_convs=300, seed=42)
    results = eng.run_incremental(log)
    print("batches:", [(r.batch_seq, r.rows_in, r.max_version, r.touched_buckets, round(r.apply_seconds,2)) for r in results])
    final = eng.current_state()
    print("final rows:", final.count())
    print("watermark:", table.watermark()["version"], "snapshots:", table.snapshot_log())

    # oracle: same changelog -> pandas -> groupby max version, drop D
    pdf = log.toPandas()
    con = duckdb.connect()
    con.register("log", pdf)
    oracle = con.execute("""
        with ranked as (
          select *, row_number() over (
            partition by conv_id, turn_idx order by sys_change_version desc) rn
          from log)
        select conv_id, turn_idx, role, text, ts, sys_change_version
        from ranked where rn=1 and sys_change_operation <> 'D'
        order by conv_id, turn_idx
    """).fetchdf()
    got = final.select("conv_id", "turn_idx", "role", "text", "ts", "sys_change_version") \
        .orderBy("conv_id", "turn_idx").toPandas()
    print("oracle rows:", len(oracle), "engine rows:", len(got))
    import pandas as pd
    got2 = got.reset_index(drop=True)
    oracle2 = oracle.reset_index(drop=True)
    # text normalization is identity for this synthetic text
    pd.testing.assert_frame_equal(got2, oracle2, check_dtype=False)
    print("MATCH ✓")
finally:
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()
