"""Every query the benchmark scripts time is registered, with an oracle.

``bench.py`` times ``HEADLINE`` and ``bench_extra.py`` times
``DEFAULT_QUERIES``; a query cut from the registry while a bench script
still names it would break the bench only when it runs. Importing both
scripts starts no Spark session.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

from lamapi_spark.queries import oracle_sql, queries

ROOT = Path(__file__).resolve().parents[1]


def _load(name):
    spec = importlib.util.spec_from_file_location(name, ROOT / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_bench_queries_are_registered_with_oracles():
    timed = {"bench.HEADLINE": _load("bench").HEADLINE,
             "bench_extra.DEFAULT_QUERIES": _load("bench_extra").DEFAULT_QUERIES}
    registered, oracles = queries(), oracle_sql()
    missing = [f"{where}: {name}" for where, names in timed.items()
               for name in names
               if name not in registered or name not in oracles]
    assert all(timed.values())
    assert not missing, "bench names without a query or oracle:\n" + "\n".join(missing)
