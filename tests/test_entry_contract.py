"""Contract tests for ``__spark_entry__.py``: ``entry`` returns the
flagship rows, and ``queries()`` / ``oracle_sql()`` export every
registered query (and every oracle) in registration order.
``tools/drive_contract.py`` runs the same module end to end."""

import importlib.util
import pathlib
import sys

import pytest

_REPO = pathlib.Path(__file__).resolve().parent.parent


@pytest.fixture(scope="module")
def entry_mod():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", _REPO / "__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["__spark_entry__"] = mod
    spec.loader.exec_module(mod)
    yield mod
    sys.modules.pop("__spark_entry__", None)


def test_entry_returns_flagship_rows(entry_mod, spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    # stable schema of the flagship word count
    assert [f.name for f in df.schema.fields] == ["word", "cnt"]


def test_queries_and_oracles_are_consistent(entry_mod):
    from map_reduce_showcase_spark.plans import REGISTRY

    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    # every registered query is exported, every oracle has a query
    assert set(q) == set(REGISTRY)
    assert set(o) <= set(q)
    assert list(o) == [n for n in REGISTRY if n in o]
    assert all(isinstance(s, str) and s.strip() for s in o.values())
    assert all(callable(fn) for fn in q.values())
    # the only oracle-less exports are the registry's oracle=None
    # entries (rows-only by design)
    rows_only = {n for n in q if n not in o}
    assert rows_only == {
        n for n, spec in REGISTRY.items() if spec.oracle is None
    }


def test_queries_follow_registration_order(entry_mod):
    from map_reduce_showcase_spark.plans import REGISTRY

    assert list(entry_mod.queries()) == list(REGISTRY)
