"""Span recording, self time and attribute patching."""

from __future__ import annotations

import os
import sys
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import trace  # noqa: E402
from perfbench.trace import Span, Tracer  # noqa: E402


def test_self_time_subtracts_direct_children():
    t = Tracer()
    t.spans = [
        Span("client.q1", 0.0, 1.0, -1, 0),
        Span("engine.sql", 0.1, 0.3, 0, 0),
        Span("sources.read_parquet_table", 0.15, 0.25, 1, 0),
        Span("exec.collect", 0.4, 0.9, 0, 0),
    ]
    got = t.self_ms()
    assert got["client"] == pytest.approx(300.0)
    assert got["engine"] == pytest.approx(100.0)
    assert got["sources"] == pytest.approx(100.0)
    assert got["exec"] == pytest.approx(500.0)
    assert sum(got.values()) == pytest.approx(1000.0)  # self times tile the op
    t.spans.append(Span("session.build_session", 0.0, 5.0, -1, -1))  # set-up
    assert t.self_ms() == got


def test_disabled_tracer_records_nothing():
    t = Tracer()
    with t.span("engine.sql"):
        t.count("exec.jobs", 1)
    assert t.spans == [] and t.counts == {}
    t.enabled = True
    with t.span("client.op"):
        with t.span("engine.sql"):
            t.count("exec.jobs", 2)
    assert [(s.name, s.parent) for s in t.spans] == [("client.op", -1), ("engine.sql", 0)]
    assert t.counts == {"exec.jobs": 2}
    assert t.calls("engine.sql") == 1 and t.mean_ms("nope") == 0.0


def test_install_wraps_and_uninstall_restores(monkeypatch):
    mod = types.ModuleType("fake_layer")
    mod.f = lambda x: x + 1
    original = mod.f
    monkeypatch.setitem(sys.modules, "fake_layer", mod)
    monkeypatch.setattr(trace, "LAYER_FUNCTIONS", (("fake_layer", "f", "engine.f"),))
    t = Tracer()
    t.install()
    t.enabled = True
    assert mod.f(1) == 2
    assert [s.name for s in t.spans] == ["engine.f"]
    t.uninstall()
    assert mod.f is original


def test_layer_functions_resolve():
    """Every wrapped entry point exists where its callers look it up."""
    pytest.importorskip("pyspark")
    import importlib

    for target, attr, name in trace.LAYER_FUNCTIONS:
        mod, _, cls = target.partition(":")
        owner = importlib.import_module(mod)
        owner = getattr(owner, cls) if cls else owner
        assert callable(getattr(owner, attr)), name
        assert name.split(".", 1)[0] in ("session", "engine", "plans", "sources", "operators", "streaming")
