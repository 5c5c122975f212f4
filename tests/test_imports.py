"""Every module of the package imports, and every query `bench.py`
times is registered. Many operator modules are reached by neither the
query registry nor the server, and `bench.py` runs only against sf0.1,
so a dangling import or query name left behind by a deletion would
otherwise go unnoticed."""

from __future__ import annotations

import importlib
import importlib.util
import pkgutil
from pathlib import Path

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


def test_bench_names_are_registered():
    path = Path(__file__).resolve().parent.parent / "bench.py"
    spec = importlib.util.spec_from_file_location("bench", path)
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    from clickhouse_observability_spark.registry import queries

    registered = set(queries())
    names = {n for n, _ in bench.HEADLINE} | set(bench.R4_MIN_COMMON)
    assert names - registered == set()
