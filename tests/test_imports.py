"""Every module of the package imports. Many operator modules are
reached by neither the query registry nor the server, so a dangling
import left behind by a deleted module would otherwise go unnoticed."""

from __future__ import annotations

import importlib
import pkgutil

import clickhouse_observability_spark as pkg


def test_every_package_module_imports():
    names = [m.name for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")]
    assert len(names) > 50
    failed = {}
    for name in names:
        try:
            importlib.import_module(name)
        except Exception as e:  # report every failure, not the first
            failed[name] = f"{type(e).__name__}: {e}"
    assert not failed, failed
