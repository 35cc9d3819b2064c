"""The engine's query registry — the surface ``__spark_entry__`` exports.

Each :class:`QuerySpec` pairs a Spark DataFrame builder with the
equivalent ANSI SQL that DuckDB runs on the same parquet tables (the
correctness oracle). This registry plays the role of the reference's
app registry (``src/app/mod.rs:29-63``): name → query, unknown name →
KeyError at lookup, except queries here are declarative plans instead
of (map_fn, reduce_fn) pairs. ``register`` adds a query; ``query_map``
and ``oracle_sql_map`` return them in registration order, after
``_load_all`` has imported every ``queries_*`` module; the order
depends on nothing else.

Determinism rules (every builder follows them so the oracle check's
order-insensitive value hash matches):

* Alias every computed column identically in Spark and SQL.
* Money/measure aggregates: cast to DECIMAL first (exact, associative
  — immune to partition/accumulation order), SUM in decimal, CAST the
  final sum to DOUBLE. Never sum raw doubles: float addition is
  non-associative and Spark's partition order differs from DuckDB's.
* Averages: exact decimal SUM cast to double, then one IEEE division.
* Ranked/top-k outputs: total tie-break on a unique key.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import load_table


@dataclass(frozen=True)
class QuerySpec:
    """One registered query: Spark builder + optional DuckDB oracle."""

    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB, or None → rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None,
    tags: Iterable[str] = (),
) -> Callable[[Callable[[SparkSession, str], DataFrame]], Callable[[SparkSession, str], DataFrame]]:
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(name=name, builder=fn, oracle=oracle, tags=tuple(tags))
        return fn

    return deco


def query_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """``queries()`` payload for ``__spark_entry__``, in registration
    order."""
    _load_all()
    return {name: spec.builder for name, spec in REGISTRY.items()}


def oracle_sql_map() -> dict[str, str]:
    """``oracle_sql()`` payload — only SQL-expressible queries, in
    registration order."""
    _load_all()
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None}


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Shorthand table loader used by builders."""
    return load_table(spark, sf_dir, name)


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    # Import order is registration order, which is the order
    # ``query_map`` and ``oracle_sql_map`` export: the reference's
    # MapReduce apps first, then the operator families, then the
    # relational queries.
    from . import queries_mapreduce  # noqa: F401
    from . import queries_graph  # noqa: F401
    from . import queries_dedup  # noqa: F401
    from . import queries_similarity  # noqa: F401
    from . import queries_events  # noqa: F401
    from . import queries_streaming  # noqa: F401
    from . import queries_multimodal  # noqa: F401
    from . import queries_vectors  # noqa: F401
    from . import queries_text  # noqa: F401
    from . import queries_pipeline  # noqa: F401
    from . import queries_packing  # noqa: F401
    from . import queries_udf  # noqa: F401
    from . import queries_bucketed  # noqa: F401
    from . import queries_relational  # noqa: F401
    from . import queries_relational2  # noqa: F401
    from . import queries_relational3  # noqa: F401
    from . import queries_relational4  # noqa: F401

    _LOADED = True
