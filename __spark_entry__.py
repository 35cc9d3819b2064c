"""Public query contract of spark-graft (PySpark target).

``entry(spark)`` is a smoke query; ``queries()`` maps every registered
query name to its ``(spark, sf_dir) -> DataFrame`` builder, and
``oracle_sql()`` maps each SQL-expressible one to its DuckDB twin, both
in registration order. ``tools/drive_contract.py`` runs the contract:
each query against its oracle (row count + schema + order-insensitive
value hash).

All real logic lives in ``map_reduce_showcase_spark``; this module
is only the wiring. The registry (``plans/registry.py``) is the
engine's analogue of the reference's app registry
(``src/app/mod.rs:29-63``).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# keep the package importable even when this file is loaded by path
# (importlib spec) rather than as a module inside the repo root
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from map_reduce_showcase_spark.operators.mapreduce import word_count  # noqa: E402
from map_reduce_showcase_spark.plans import oracle_sql_map, query_map  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY.md §7.1): the reference's own flagship
    app — word count — over the sf0.001 documents table. Exercises
    scan → project → explode → shuffle → partial+final agg, i.e. the
    reference's entire physical pipeline as one declarative plan."""
    docs = spark.read.parquet(f"{SMOKE_SF_DIR}/documents.parquet")
    return word_count(docs, "text")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ the
    north-star extensions). Each callable: (spark, sf_dir) → DF."""
    return query_map()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query."""
    return oracle_sql_map()
