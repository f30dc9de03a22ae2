"""Per-layer metrics of a traced run: span self times, Spark task
totals per layer from the event log, and layout counts from the
snapshot manifests."""

from __future__ import annotations

import statistics

from arcane_stream_sqlserver_change_tracking_spark.plans.lake import LakeTable

import eventlog
from spans import (
    LAYERS,
    TARGETS,
    length,
    self_intervals,
    subtract,
    union,
    with_stage_wait,
)
from stats import percentile

#: layers that get task/CPU/GC/driver seconds from the event log
JOB_LAYERS = ("chunk_plan", "stage", "gate", "merge", "write", "footer_stats",
              "manifest_commit", "maintenance", "read", "cdf")
MAIN_THREAD = "MainThread"


def absent_layers(tracer) -> set[str]:
    """Layers with a wrapper whose target no longer exists."""
    missing = set(tracer.absent)
    return {
        layer for module, cls, attr, layer in TARGETS
        if f"{module}.{cls + '.' if cls else ''}{attr}" in missing
    }


def layer_metrics(run, tracer, jobs: list, index: dict, num_buckets: int) -> dict:
    w0, w1 = run.window
    wall = w1 - w0
    spans = [s for s in tracer.spans if s.start >= w0 and s.end <= w1]
    spans = with_stage_wait(spans)
    selfs = self_intervals(spans)
    by_layer: dict[str, list] = {layer: [] for layer in LAYERS}
    for s in spans:
        by_layer.setdefault(s.layer, []).append(s)
    self_union = {
        layer: union([iv for s in ss for iv in selfs[s.id]])
        for layer, ss in by_layer.items()
    }
    busy = {layer: sum(length(selfs[s.id]) for s in ss)
            for layer, ss in by_layer.items()}

    span_layers = {s.id: s.layer for s in spans}
    in_window = [j for j in jobs if w0 <= j.submit <= w1]
    per_job = eventlog.attribute(in_window, index, span_layers)

    m: dict[str, tuple[float, str]] = {}
    m["chunk_plan.s"] = (busy["chunk_plan"], "s")
    m["chunk_plan.calls"] = (len(by_layer["chunk_plan"]), "count")

    applied = [c for c in run.commits
               if not c["maintenance"] and c["wm_hi"] > c["wm_lo"]]
    rows_in = sum(c["wm_hi"] - c["wm_lo"] for c in applied)
    rows_applied = sum(c["rows_applied"] for c in applied)
    st = per_job.get("stage", {})
    m["stage.s"] = (busy["stage"], "s")
    m["stage.rows_in"] = (rows_in, "count")
    m["stage.dedup_ratio"] = (rows_in / rows_applied if rows_applied else 0.0, "ratio")
    m["stage.shuffle_write_mb"] = (st.get("shuffle_write_bytes", 0) / 1e6, "MB")
    m["stage.spill_mb"] = (st.get("spill_bytes", 0) / 1e6, "MB")
    m["stage_wait.s"] = (busy["stage_wait"], "s")
    m["gate.s"] = (busy["gate"], "s")
    m["runner.s"] = (busy["runner"], "s")

    touched = sum(c["touched_buckets"] for c in applied)
    written = sum(c["rows_written"] for c in applied)
    files = sum(c["files_written"] for c in applied)
    m["merge.s"] = (busy["merge"], "s")
    m["merge.rows_read"] = (sum(c["rows_read"] for c in applied), "count")
    m["merge.rewrite_amplification"] = (
        written / rows_applied if rows_applied else 0.0, "ratio")
    m["touched_buckets.ratio"] = (
        touched / (len(applied) * num_buckets) if applied else 0.0, "ratio")

    per_file = [n for c in applied for n in c["rows_per_file"]]
    m["write.s"] = (busy["write"], "s")
    m["write.files"] = (files, "count")
    m["write.mb"] = (sum(c["bytes_written"] for c in applied) / 1e6, "MB")
    m["write.rows_per_file_p50"] = (
        percentile(per_file, 50) if per_file else 0.0, "count")
    m["write.files_per_touched_bucket"] = (files / touched if touched else 0.0, "ratio")
    m["footer_stats.s"] = (busy["footer_stats"], "s")
    # only commits above the driver-read limit run the footer job
    m["footer_stats.files"] = (sum(
        c["files_written"] for c in applied
        if c["files_written"] > LakeTable.DRIVER_FOOTER_READ_LIMIT), "count")
    m["footer_stats.jobs"] = (per_job.get("footer_stats", {}).get("jobs", 0), "count")
    m["manifest_commit.s"] = (busy["manifest_commit"], "s")
    m["maintenance.s"] = (busy["maintenance"], "s")
    m["table.mb"] = (run.table_mb, "MB")
    scans = run.read["scan_s"]
    m["read.s"] = (busy["read"], "s")
    m["read.scan_s"] = (statistics.median(scans) if scans else 0.0, "s")
    m["read.files_opened"] = (run.read["files_opened"], "count")
    m["read.scan_rows_per_s"] = (statistics.median(run.read["scan_rows_per_s"]), "1/s")
    m["read.lookup_p50_ms"] = (percentile(run.read["lookup_ms"], 50), "ms")
    m["read.lookup_p90_ms"] = (percentile(run.read["lookup_ms"], 90), "ms")
    m["cdf.s"] = (busy["cdf"], "s")
    m["cdf.call_s"] = (statistics.median(run.read["cdf_s"]), "s")

    for layer in JOB_LAYERS:
        acc = per_job.get(layer, {})
        jobs_u = union(acc.get("intervals", []))
        driver = length(subtract(self_union[layer], jobs_u))
        m[f"{layer}.task_s"] = (acc.get("task_s", 0.0), "s")
        m[f"{layer}.cpu_s"] = (acc.get("cpu_s", 0.0), "s")
        m[f"{layer}.gc_s"] = (acc.get("gc_s", 0.0), "s")
        m[f"{layer}.driver_s"] = (driver, "s")

    main_busy = sum(length(selfs[s.id]) for s in spans if s.thread == MAIN_THREAD)
    m["trace.coverage"] = (main_busy / wall if wall > 0 else 0.0, "ratio")
    m["trace.wall_s"] = (wall, "s")
    m["trace.unattributed_task_s"] = (
        per_job.get("unattributed", {}).get("task_s", 0.0), "s")

    gone = absent_layers(tracer)
    return {k: v for k, v in m.items() if k.split(".", 1)[0] not in gone}

