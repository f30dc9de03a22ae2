import sys
import threading
import types

import pytest

import spans
from spans import Span, Tracer, resolve_layer, self_intervals, with_stage_wait


def test_resolve_layer():
    runner = Span(1, "CdcEngine._apply_staged", "runner", 0.0)
    maint = Span(2, "CdcEngine.run_maintenance", "maintenance", 0.0)
    scan = Span(3, "bench.scan", "read", 0.0)
    assert resolve_layer("read", None) == "read"
    assert resolve_layer("read", runner) == "merge"
    assert resolve_layer("read", scan) == "read"
    assert resolve_layer("write", maint) == "maintenance"
    assert resolve_layer("write", runner) == "write"


def test_interval_arithmetic():
    assert spans.union([(3, 4), (0, 1), (0.5, 2)]) == [(0, 2), (3, 4)]
    assert spans.subtract([(0, 10)], [(2, 3), (5, 12)]) == [(0, 2), (3, 5)]
    assert spans.length([(0, 2), (1, 3)]) == 3


def test_self_time_subtracts_same_thread_children_only():
    parent = Span(1, "p", "runner", 0.0, 10.0, thread="main")
    child = Span(2, "c", "write", 2.0, 5.0, parent=1, thread="main")
    other = Span(3, "o", "stage", 1.0, 9.0, parent=1, thread="helper")
    selfs = self_intervals([parent, child, other])
    assert spans.length(selfs[1]) == 7.0
    assert spans.length(selfs[2]) == 3.0


def test_stage_wait_in_pipelined_drain():
    drain = Span(1, "CdcEngine.run_incremental", "runner", 0.0, 20.0, thread="main")
    plan = Span(2, "version_chunks", "chunk_plan", 0.0, 1.0, parent=1, thread="main")
    st0 = Span(3, "CdcEngine._stage", "stage", 1.0, 4.0, thread="helper", batch=0)
    ap0 = Span(4, "CdcEngine._apply_staged", "runner", 4.0, 9.0, parent=1, thread="main", batch=0)
    st1 = Span(5, "CdcEngine._stage", "stage", 4.0, 12.0, thread="helper", batch=1)
    ap1 = Span(6, "CdcEngine._apply_staged", "runner", 12.0, 20.0, parent=1, thread="main", batch=1)
    out = with_stage_wait([drain, plan, st0, ap0, st1, ap1])
    waits = sorted((s.start, s.end, s.batch) for s in out if s.layer == "stage_wait")
    # batch 0 waits for its whole staging, batch 1 for the part of its
    # staging that outlasted commit 0
    assert waits == [(1.0, 4.0, 0), (9.0, 12.0, 1)]


def test_serial_drain_has_no_stage_wait():
    drain = Span(1, "CdcEngine.run_incremental", "runner", 0.0, 10.0, thread="main")
    st = Span(2, "CdcEngine._stage", "stage", 1.0, 4.0, parent=1, thread="main")
    ap = Span(3, "CdcEngine._apply_staged", "runner", 4.0, 9.0, parent=1, thread="main")
    assert with_stage_wait([drain, st, ap]) == [drain, st, ap]


def test_tracer_wraps_records_and_restores(monkeypatch):
    mod = types.ModuleType("fake_engine")

    class Engine:
        def work(self, x):
            return mod.helper(x) + 1  # looked up on the module at call time

    def helper(x):
        return x * 2

    mod.Engine, mod.helper = Engine, helper
    monkeypatch.setitem(sys.modules, "fake_engine", mod)
    tags = []
    tr = Tracer(tags.append)
    tr.install([("fake_engine", "Engine", "work", "runner"),
                ("fake_engine", None, "helper", "write"),
                ("fake_engine", "Engine", "gone", "footer_stats")])
    assert tr.absent == ["fake_engine.Engine.gone"]
    assert Engine().work(3) == 7
    tr.uninstall()
    assert mod.helper is helper and "work" in Engine.__dict__
    assert Engine().work(3) == 7 and len(tr.spans) == 2
    outer = next(s for s in tr.spans if s.name == "Engine.work")
    inner = next(s for s in tr.spans if s.name == "helper")
    assert (outer.layer, outer.parent) == ("runner", None)
    assert (inner.layer, inner.parent) == ("write", outer.id)
    assert outer.thread == threading.current_thread().name
    # the job tag follows the innermost open span and is cleared at the end
    assert tags == [str(outer.id), str(inner.id), str(outer.id), None]


def test_tracer_batch_ids_restart_per_drain():
    tr = Tracer()
    for _ in range(2):
        with tr.span("CdcEngine.run_incremental", "runner"):
            for _ in range(3):
                with tr.span("CdcEngine._apply_staged", "runner"):
                    with tr.span("LakeTable._write_parts", "write"):
                        pass
    writes = [s.batch for s in sorted(tr.spans, key=lambda s: s.start)
              if s.name == "LakeTable._write_parts"]
    assert writes == [0, 1, 2, 0, 1, 2]


def test_tracer_span_survives_exceptions():
    tr = Tracer()
    with pytest.raises(RuntimeError):
        with tr.span("x", "write"):
            raise RuntimeError("boom")
    assert len(tr.spans) == 1 and tr.spans[0].end >= tr.spans[0].start
