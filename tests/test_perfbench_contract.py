"""The names the outside-in benchmark (``perfbench/``) wraps or reads
must exist in the package: a traced run raises on a missing constant
and reports a layer as absent for a missing wrapper target. Checked
here without a Spark session, so a refactor that renames one fails
pytest instead of a benchmark run."""

import importlib
import importlib.util
import os
import sys

from arcane_stream_sqlserver_change_tracking_spark.plans.lake import LakeTable

SPANS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench", "spans.py"
)


def _spans_module(monkeypatch):
    spec = importlib.util.spec_from_file_location("perfbench_spans", SPANS)
    mod = importlib.util.module_from_spec(spec)
    # dataclasses resolve annotations through sys.modules
    monkeypatch.setitem(sys.modules, spec.name, mod)
    spec.loader.exec_module(mod)
    return mod


def test_every_span_target_resolves(monkeypatch):
    targets = _spans_module(monkeypatch).TARGETS
    assert targets
    missing = []
    for module, cls, attr, _layer in targets:
        owner = importlib.import_module(module)
        if cls is not None:
            owner = getattr(owner, cls, None)
        if owner is None or not callable(getattr(owner, attr, None)):
            missing.append(f"{module}.{cls + '.' if cls else ''}{attr}")
    assert missing == []


def test_footer_read_limit_is_an_int():
    # the traced report compares each commit's file count against it
    assert isinstance(LakeTable.DRIVER_FOOTER_READ_LIMIT, int)
