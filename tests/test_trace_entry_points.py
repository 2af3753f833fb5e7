"""The benchmark tracer (perfbench/spans.py) patches engine entry points
by module and attribute path. A renamed or moved one would otherwise
surface only when the traced benchmark runs; resolve them all here,
without a Spark session."""

from __future__ import annotations

import importlib.util
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_spans():
    path = os.path.join(ROOT, "perfbench", "spans.py")
    spec = importlib.util.spec_from_file_location("perfbench_spans", path)
    mod = importlib.util.module_from_spec(spec)
    # dataclasses resolve their module through sys.modules
    sys.modules[spec.name] = mod
    spec.loader.exec_module(mod)
    return mod


def test_every_traced_entry_point_resolves():
    spans = _load_spans()
    assert spans.ENTRY_POINTS
    for label, module, path, _ in spans.ENTRY_POINTS:
        owner, attr = spans._resolve(module, path)
        assert callable(getattr(owner, attr)), label
