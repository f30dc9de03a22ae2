"""Metrics emitters: statsd datagram shape over UDP and UDS, metricTags
stamping, fire-and-forget on a dead collector, and the engine wiring
(BatchResult → declared metric set observed by a fake collector)."""

import os
import socket

from pyspark.sql import types as T

from arcane_stream_sqlserver_change_tracking_spark.streaming.metrics import (
    CallbackEmitter,
    StatsdEmitter,
    emit_batch_result,
)
from arcane_stream_sqlserver_change_tracking_spark.streaming.runner import (
    BatchResult,
    CdcEngine,
    EngineOptions,
)


def _drain(sock):
    out = []
    sock.settimeout(2.0)
    try:
        while True:
            out.append(sock.recv(65536).decode())
    except socket.timeout:
        return out
    except BlockingIOError:
        return out


def test_statsd_udp_datagram_format_and_tags():
    srv = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    em = StatsdEmitter(f"127.0.0.1:{port}",
                       global_tags={"stream_id": "msql-test", "env": "test"})
    em.emit("batch.rows_in", 1500.0, "c", {"batch_seq": "3"})
    em.emit("batch.apply_ms", 12.5, "ms", {"batch_seq": "3"})
    em.close()
    srv.settimeout(2.0)
    got = {srv.recv(65536).decode(), srv.recv(65536).decode()}
    srv.close()
    # DogStatsD line format, integral floats rendered as ints, tags
    # sorted and merged with the global metricTags
    assert got == {
        "cdc.batch.rows_in:1500|c|#batch_seq:3,env:test,stream_id:msql-test",
        "cdc.batch.apply_ms:12.5|ms|#batch_seq:3,env:test,stream_id:msql-test",
    }


def test_statsd_uds_transport(tmp_path):
    """The reference's transport (DataDog.UdsPublisher): datagrams over
    a Unix domain socket."""
    path = str(tmp_path / "dsd.sock")
    srv = socket.socket(socket.AF_UNIX, socket.SOCK_DGRAM)
    srv.bind(path)
    em = StatsdEmitter(f"unix://{path}")
    em.emit("batch.version", 42.0, "g", {})
    em.close()
    srv.settimeout(2.0)
    assert srv.recv(65536) == b"cdc.batch.version:42|g"
    srv.close()


def test_statsd_dead_collector_never_raises(tmp_path):
    """Fire-and-forget: a missing UDS socket / closed port must not
    raise into the stream."""
    em = StatsdEmitter(f"unix://{tmp_path}/nonexistent.sock")
    em.emit("batch.rows_in", 1.0, "c", {})  # ECONNREFUSED swallowed
    em.close()


def test_emit_batch_result_declared_set():
    seen = []
    em = CallbackEmitter(lambda n, v, k, t: seen.append((n, v, k, t["batch_seq"])))
    res = BatchResult(batch_seq=7, rows_in=100, rows_deduped=80, max_version=55,
                      touched_buckets=3, apply_seconds=1.5,
                      prepare_seconds=1.0, commit_seconds=0.5)
    emit_batch_result([em], res)
    assert ("batch.rows_in", 100.0, "c", "7") in seen
    assert ("batch.rows_applied", 80.0, "c", "7") in seen
    assert ("batch.touched_buckets", 3.0, "g", "7") in seen
    assert ("batch.version", 55.0, "g", "7") in seen
    assert ("batch.prepare_ms", 1000.0, "ms", "7") in seen
    assert ("batch.commit_ms", 500.0, "ms", "7") in seen
    assert ("batch.apply_ms", 1500.0, "ms", "7") in seen
    assert not any(n == "batch.skipped" for n, *_ in seen)
    skipped = BatchResult(batch_seq=8, rows_in=0, rows_deduped=0, max_version=55,
                          touched_buckets=0, apply_seconds=0.1, skipped=True)
    emit_batch_result([em], skipped)
    assert ("batch.skipped", 1.0, "c", "8") in seen


def test_engine_emits_to_configured_collector(spark, lake_root):
    """End-to-end A2: a real engine batch observed by a fake UDP statsd
    collector — counters and timers arrive with the batch's numbers."""
    from pyspark.sql import functions as F

    from arcane_stream_sqlserver_change_tracking_spark.functions.keys import (
        OPERATION_COL,
        VERSION_COL,
    )
    from arcane_stream_sqlserver_change_tracking_spark.plans.lake import LakeTable

    srv = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]

    payload = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
    )
    table = LakeTable(spark, os.path.join(lake_root, "mt"))
    eng = CdcEngine(
        spark, table,
        EngineOptions(key_columns=("k",), num_buckets=4, max_events_per_batch=100),
        emitters=[StatsdEmitter(f"127.0.0.1:{port}", global_tags={"stream_id": "s1"})],
    )
    eng.bootstrap(payload)
    log = spark.createDataFrame(
        [(i + 1, "U", f"k{i % 5}", i) for i in range(20)],
        f"{VERSION_COL} long, {OPERATION_COL} string, k string, v long",
    )
    [res] = eng.run_incremental(log.withColumn("v", F.col("v")))
    lines = _drain(srv)
    srv.close()
    # rows_in counts the rows entering dedup (the dedup's per-key
    # counts, summed by the stats job: no extra Spark job);
    # rows_applied the rows left after it
    assert res.rows_in == 20 and res.rows_in > res.rows_deduped == 5
    assert any(l.startswith("cdc.batch.rows_in:20|c|#batch_seq:1,stream_id:s1")
               for l in lines), lines
    assert any(l.startswith("cdc.batch.rows_applied:5|c|#batch_seq:1,stream_id:s1")
               for l in lines), lines
    assert any(l.startswith("cdc.batch.version:20|g") for l in lines), lines
    assert any(l.startswith("cdc.batch.apply_ms:") for l in lines), lines
    # the always-on jsonl record still lands
    assert os.path.exists(os.path.join(table.root, "metrics.jsonl"))


def test_statsd_address_forms():
    from arcane_stream_sqlserver_change_tracking_spark.streaming.metrics import StatsdEmitter

    # host without port -> default statsd port; misconfig fails AT
    # CONSTRUCTION with a message naming the shape, not an int() traceback
    e = StatsdEmitter("localhost")
    assert e._target == ("localhost", 8125)
    e.close()
    e = StatsdEmitter("9125")
    assert e._target == ("127.0.0.1", 9125)
    e.close()
    import pytest as _pytest

    with _pytest.raises(ValueError, match="statsd address"):
        StatsdEmitter("host:notaport")
