"""Harness helpers: test collection order and the core-count parsing
shared by sessions and bench.py."""

from __future__ import annotations

import os
from types import SimpleNamespace

import conftest


def test_run_order_puts_items_without_a_module_first():
    heavy = SimpleNamespace(module=SimpleNamespace(__name__="test_streaming"))
    light = SimpleNamespace(module=SimpleNamespace(__name__="test_checkpoint"))
    bare = SimpleNamespace()
    no_module = SimpleNamespace(module=None)
    items = [heavy, bare, light, no_module]
    items.sort(key=conftest.run_order)
    assert items == [bare, light, no_module, heavy]
    assert conftest.run_order(bare) == conftest.run_order(no_module) == -1


def test_session_cpus_degrades_on_malformed_env(monkeypatch):
    from kafka_denormalization_spark.engine import session_cpus

    for raw in ("abc", "", "4.5", "0", "-2"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
        assert session_cpus() == (os.cpu_count() or 4), raw
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert session_cpus() == 6
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert session_cpus() == (os.cpu_count() or 4)


def test_bench_sidecar_without_cpus_field_is_32c():
    import bench

    assert bench.sidecar_cpus({"queries": {"q": 1.0}}) == 32
    assert bench.sidecar_cpus({"cpus": 8, "queries": {}}) == 8


def test_oracle_check_puts_this_checkout_first_on_sys_path(monkeypatch):
    """The batch benchmark's check loads tools/oracle_check.py; the root it
    puts first on sys.path must be the checkout the file lives in, so a run
    from any other checkout imports that checkout's code."""
    import importlib.util
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location("checks", os.path.join(root, "perfbench", "checks.py"))
    checks = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(checks)
    monkeypatch.setattr(sys, "path", list(sys.path))
    checks.load_oracle_check(root)
    assert sys.path[0] == root
