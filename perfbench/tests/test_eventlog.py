import os

import pytest

import eventlog

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
INDEX = eventlog.function_index(os.path.join(FIXTURES, "pkg"))
SPAN_LAYERS = {1: "stage", 2: "write", 5: "maintenance"}


def test_function_index_has_methods_and_nested_functions():
    funcs = {q for _a, _b, q in INDEX["pkg/plans/lake.py"]}
    assert funcs == {"LakeTable._footer_stats_job",
                     "LakeTable._footer_stats_job.read_slice"}


@pytest.mark.parametrize("site, layer", [
    ("collect at /checkout/pkg/streaming/runner.py:7", "stage"),
    ("collect at /checkout/pkg/streaming/runner.py:11", "runner"),
    # the innermost enclosing function is unmapped: its mapped parent wins
    ("collect at /checkout/pkg/plans/lake.py:8", "footer_stats"),
    ("collect at /checkout/pkg/plans/lake.py:10", "footer_stats"),
    ("collect at /checkout/pkg/streaming/runner.py:15", None),
    ("collect at /checkout/pkg/streaming/runner.py:3", None),
    ("collect at /elsewhere/bench.py:7", None),
    ("parquet at NativeMethodAccessorImpl.java:0", None),
    (None, None),
])
def test_callsite_layer(site, layer):
    assert eventlog.callsite_layer(site, INDEX) == layer


def test_read_jobs_sums_tasks_per_job():
    jobs = {j.id: j for j in eventlog.read_jobs(os.path.join(FIXTURES, "eventlog.jsonl"))}
    assert sorted(jobs) == [0, 1, 2, 3, 4, 5]
    j0 = jobs[0]
    assert j0.task_s == pytest.approx(1.1)
    assert j0.cpu_s == pytest.approx(0.85)
    assert j0.gc_s == pytest.approx(0.03)
    assert j0.shuffle_write_bytes == 5_000_000
    assert j0.spill_bytes == 1_000_000
    assert (j0.submit, j0.end) == (1001.0, 1002.0)
    assert j0.span == 1
    # stage 1 ran under job 0; job 2 only re-listed it
    assert jobs[2].task_s == pytest.approx(0.05)


def test_attribution_call_site_then_span_then_absorbing():
    jobs = eventlog.read_jobs(os.path.join(FIXTURES, "eventlog.jsonl"))
    got = eventlog.attribute(jobs, INDEX, SPAN_LAYERS)
    assert got["stage"]["jobs"] == 2
    assert got["stage"]["task_s"] == pytest.approx(1.15)
    assert got["stage"]["shuffle_write_bytes"] == 5_000_000
    # JVM call site: the open span decides
    assert got["write"]["task_s"] == pytest.approx(1.5)
    assert got["write"]["intervals"] == [(1003.0, 1004.5)]
    # call site says footer, the span says write: the call site wins
    assert got["footer_stats"]["task_s"] == pytest.approx(0.7)
    # the same footer call site under a maintenance span is maintenance
    assert got["maintenance"]["task_s"] == pytest.approx(0.3)
    assert got["unattributed"]["jobs"] == 1
