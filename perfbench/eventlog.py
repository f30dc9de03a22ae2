"""Spark event-log attribution for the traced run.

The traced run starts Spark with ``spark.eventLog.enabled``. Each job in
the log is attributed to a layer in two steps:

1. Its ``callSite.short`` (``collect at <file>:<line>``) is mapped to the
   innermost enclosing function of that line in the engine's source, and
   the function to a layer through ``FUNCTION_LAYERS``.
2. Jobs whose call site is outside the engine (a parquet write is
   submitted from JVM code, a benchmark scan from the benchmark's file)
   fall back to the ``perfbench.span`` local property, the span that was
   open on the submitting thread (``spans.py``).

Per layer the tasks' run time, CPU time, GC time, shuffle bytes written
and bytes spilled to disk are summed, and the jobs' [submit, complete]
intervals are kept so the caller can compute driver time as span wall
time outside any of the layer's jobs.
"""

from __future__ import annotations

import ast
import json
import os
import re
from dataclasses import dataclass, field

from spans import ABSORBING, SPAN_PROPERTY

CALLSITE_RE = re.compile(r" at (?P<file>.+?):(?P<line>\d+)$")

#: enclosing engine function (dotted qualified name) -> layer
FUNCTION_LAYERS = {
    "version_chunks": "chunk_plan",
    "CdcEngine._prepare": "stage",
    "CdcEngine._stage": "stage",
    "expectation_report": "gate",
    "enforce_expectations": "gate",
    "CdcEngine._apply_staged_once": "runner",
    "plan_merge": "merge",
    "LakeTable._write_parts": "write",
    "LakeTable._attach_row_counts": "footer_stats",
    "LakeTable._footer_stats_job": "footer_stats",
    "LakeTable.rewrite_data_files": "maintenance",
    "LakeTable.analyze": "maintenance",
    "LakeTable.changes_between": "cdf",
}


def function_index(package_dir: str) -> dict[str, list[tuple[int, int, str]]]:
    """``{path relative to the package's parent: [(first, last, qualname)]}``
    for every function and method in the package, nested ones included."""
    base = os.path.dirname(os.path.abspath(package_dir))
    index: dict[str, list[tuple[int, int, str]]] = {}
    for dirpath, _dirs, files in os.walk(package_dir):
        for name in files:
            if not name.endswith(".py"):
                continue
            full = os.path.join(dirpath, name)
            with open(full) as fh:
                tree = ast.parse(fh.read(), filename=full)
            out: list[tuple[int, int, str]] = []
            _collect(tree, "", out)
            index[os.path.relpath(full, base)] = out
    return index


def _collect(node: ast.AST, prefix: str, out: list) -> None:
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            qual = f"{prefix}{child.name}"
            if not isinstance(child, ast.ClassDef):
                out.append((child.lineno, child.end_lineno or child.lineno, qual))
            _collect(child, qual + ".", out)
        else:
            _collect(child, prefix, out)


def callsite_layer(
    site: str | None,
    index: dict[str, list[tuple[int, int, str]]],
    layers: dict[str, str] = FUNCTION_LAYERS,
) -> str | None:
    """Layer of a job from its ``callSite.short``; None when the call
    site is not inside a mapped engine function."""
    m = CALLSITE_RE.search(site or "")
    if not m:
        return None
    path, line = m["file"], int(m["line"])
    for rel, funcs in index.items():
        if path == rel or path.endswith(os.sep + rel):
            enclosing = sorted(
                (last - first, qual) for first, last, qual in funcs
                if first <= line <= last
            )
            for _size, qual in enclosing:  # innermost first
                if qual in layers:
                    return layers[qual]
            return None
    return None


@dataclass
class Job:
    id: int
    submit: float
    end: float | None
    site: str | None
    span: int | None
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    stages: list[int] = field(default_factory=list)


def read_jobs(path: str) -> list[Job]:
    """Jobs with their task totals. A stage skipped by a later job
    (shuffle reuse, AQE re-submission) belongs to the first job that
    listed it, which is the one that ran its tasks."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                span = props.get(SPAN_PROPERTY)
                job = Job(
                    id=ev["Job ID"], submit=ev["Submission Time"] / 1000.0,
                    end=None, site=props.get("callSite.short"),
                    span=int(span) if span else None,
                    stages=list(ev.get("Stage IDs", [])),
                )
                jobs[job.id] = job
                for sid in job.stages:
                    stage_job.setdefault(sid, job)
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics") or {}
                if job is None or not m:
                    continue
                job.task_s += m.get("Executor Run Time", 0) / 1000.0
                job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                job.gc_s += m.get("JVM GC Time", 0) / 1000.0
                job.shuffle_write_bytes += (
                    m.get("Shuffle Write Metrics") or {}
                ).get("Shuffle Bytes Written", 0)
                job.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return sorted(jobs.values(), key=lambda j: j.id)


def job_layer(job: Job, index, span_layers: dict[int, str]) -> str:
    """Call-site layer first, then the open span's layer; a job under an
    absorbing span (maintenance, CDF) is that span's work wherever in
    the engine it was submitted."""
    span_layer = span_layers.get(job.span)
    if span_layer in ABSORBING:
        return span_layer
    return callsite_layer(job.site, index) or span_layer or "unattributed"


def attribute(jobs: list[Job], index, span_layers: dict[int, str]) -> dict[str, dict]:
    """Per layer: task/CPU/GC seconds, shuffle write and spill bytes, job
    count and the jobs' [submit, complete] intervals."""
    out: dict[str, dict] = {}
    for job in jobs:
        layer = job_layer(job, index, span_layers)
        acc = out.setdefault(layer, {
            "jobs": 0, "task_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "intervals": [],
        })
        acc["jobs"] += 1
        acc["task_s"] += job.task_s
        acc["cpu_s"] += job.cpu_s
        acc["gc_s"] += job.gc_s
        acc["shuffle_write_bytes"] += job.shuffle_write_bytes
        acc["spill_bytes"] += job.spill_bytes
        if job.end is not None:
            acc["intervals"].append((job.submit, job.end))
    return out
