"""Parquet table sources for the engine's standard catalog.

The reference's only source is "one map task per whole local text
file" (``src/worker/mod.rs:166-180``); our standard catalog is
columnar Parquet read through ``spark.read.parquet``, which gets us
(all free via the DataSource V2 scan + Catalyst):

* column pruning — only referenced columns are decoded,
* predicate pushdown — filters reach the parquet row-group stats,
* splittable scans — partition count tracks
  ``spark.sql.files.maxPartitionBytes``, not file count (the
  reference's task-per-file granularity makes its biggest file the
  straggler; see SURVEY.md §4.2).

At 100 TB the same call works unchanged against an object store
(``s3a://...``); partition pruning applies when the layout is
hive-partitioned (e.g. ``.../date=2024-01-01/``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Spark conf that maps parquet TIMESTAMP(NANOS) — unrepresentable in
#: Spark (SPARK-44988) — onto raw epoch-nano longs at scan time.
_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"

#: Epoch-magnitude thresholds for inferring the unit of a raw INT64
#: timestamp column. A wall-clock instant between 1973 and ~5000 AD
#: lands unambiguously in exactly one band: seconds ~1e9,
#: millis ~1e12, micros ~1e15, nanos ~1e18. ASSUMPTION: data is
#: 1973+ — a pre-1973 epoch in a finer unit is magnitude-identical
#: to a coarser unit's modern range (e.g. 1972 in millis looks like
#: 2525 in seconds), so such corpora must carry a unit annotation
#: instead. As a drift tripwire, the loader cross-checks the band
#: against a SECOND part file's footer when one exists and refuses
#: mixed-unit directories (see ``_epoch_long_to_ts_expr``).
_UNIT_BANDS = (
    (100_000_000_000, "timestamp_seconds(ts)"),
    (100_000_000_000_000, "timestamp_millis(ts)"),
    (100_000_000_000_000_000, "timestamp_micros(ts)"),
    # nanos: truncate to micros — the same truncation DuckDB's ns→us
    # cast applies, keeping the two engines value-identical.
    (None, "timestamp_micros(CAST(ts DIV 1000 AS BIGINT))"),
)


def _parquet_files(path: str, limit: int = 1) -> list[str]:
    """Up to ``limit`` parquet data files under ``path`` (itself, or
    part files), in deterministic walk order."""
    if not os.path.isdir(path):
        return [path]
    out: list[str] = []
    for root, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                out.append(os.path.join(root, f))
                if len(out) >= limit:
                    return out
    if not out:
        raise FileNotFoundError(f"no parquet data files under {path}")
    return out


def _epoch_long_to_ts_expr(path: str) -> str:
    """SQL expr converting a raw INT64 ``ts`` to TIMESTAMP.

    Spark shows LongType either because the file is annotated
    TIMESTAMP(NANOS) under ``nanosAsLong`` (arrow schema tells the
    unit directly) or because the column is plain ``int64`` with no
    annotation — then the unit is inferred from the footer statistics
    (metadata-only: one row-group min, no data scan; at 100 TB this
    touches a single footer). Falls back to reading one row group if
    stats are absent.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = _parquet_files(path, 2)
    pf = pq.ParquetFile(files[0])
    arrow_type = pf.schema_arrow.field("ts").type
    if pa.types.is_timestamp(arrow_type):
        return {
            "s": "timestamp_seconds(ts)",
            "ms": "timestamp_millis(ts)",
            "us": "timestamp_micros(ts)",
            "ns": "timestamp_micros(CAST(ts DIV 1000 AS BIGINT))",
        }[arrow_type.unit]

    def sample_of(pf: pq.ParquetFile) -> int | None:
        md = pf.metadata
        idx = next(
            i for i in range(len(md.schema)) if md.schema.column(i).name == "ts"
        )
        for rg in range(md.num_row_groups):
            stats = md.row_group(rg).column(idx).statistics
            if stats is not None and stats.has_min_max:
                return stats.min
        if md.num_row_groups:
            col = pf.read_row_group(0, columns=["ts"]).column("ts")
            if len(col):
                return col[0].as_py()
        return None

    def band_of(sample: int) -> int:
        for i, (bound, _expr) in enumerate(_UNIT_BANDS):
            if bound is None or sample < bound:
                return i
        raise AssertionError("unreachable")

    sample = sample_of(pf)
    if sample is None:  # empty table: unit is irrelevant, pick micros
        sample = 10**15
    band = band_of(sample)
    # drift tripwire (cost: one extra footer): a second part file in
    # the same directory must band identically, else the files mix
    # units and magnitude inference would silently mis-decode some
    if len(files) > 1:
        sample2 = sample_of(pq.ParquetFile(files[1]))
        if sample2 is not None and band_of(sample2) != band:
            raise ValueError(
                f"mixed raw-INT64 timestamp units under {path}: "
                f"row-group minima {sample} vs {sample2} band differently"
            )
    return _UNIT_BANDS[band][1]


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """Load ``events`` robustly across physical encodings of ``ts``.

    Dispatch on what Spark actually loads, not on an assumed layout
    (testdata regeneration changed TIMESTAMP(NANOS) → TIMESTAMP(MICROS)
    between rounds and must never break the catalog again):

    * timestamp / timestamp_ntz — pass through unchanged,
    * raw INT64 — unit inferred from footer stats, converted to
      TIMESTAMP (covers nanos/micros/millis/seconds-as-long),
    * TIMESTAMP(NANOS) — the plain read raises (SPARK-44988); retry
      with ``nanosAsLong`` scoped to this read, then truncate to
      micros. The conf is restored afterward: schema resolution
      happens eagerly at ``read.parquet`` time, and the physical scan
      re-converts from the already-resolved schema (pinned by
      tests/test_catalog_encodings.py).
    """
    try:
        df = spark.read.parquet(path)
    except Exception:
        prev = None
        try:
            prev = spark.conf.get(_NANOS_CONF)
        except Exception:
            prev = None
        spark.conf.set(_NANOS_CONF, "true")
        try:
            df = spark.read.parquet(path)
        finally:
            if prev is None:
                spark.conf.unset(_NANOS_CONF)
            else:
                spark.conf.set(_NANOS_CONF, prev)
        return df.withColumn(
            "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))")
        )
    if isinstance(df.schema["ts"].dataType, LongType):
        return df.withColumn("ts", F.expr(_epoch_long_to_ts_expr(path)))
    return df


#: (applicationId, realpath(sf_dir), table) → loaded DataFrame. A
#: TABLE-HANDLE cache, not a result cache: a DataFrame is an immutable
#: logical plan + resolved schema — no rows are computed or stored,
#: every action still scans the parquet files. What it removes is the
#: per-call driver work of ``spark.read.parquet`` (file listing +
#: footer/schema resolution, measured 0.15 s per call — paid by
#: every builder invocation), which is exactly what a registered
#: catalog table amortizes in a real deployment.
#: Keyed by applicationId so a stopped/rebuilt session can never
#: serve stale JVM references; keyed by realpath so the same data
#: reached via different spellings shares one entry. Staleness: a
#: table REWRITTEN mid-session keeps serving the old file listing —
#: same semantics as Spark's own FileIndex cache on a catalog table;
#: this engine's sf dirs are immutable test fixtures.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table from ``{sf_dir}/{name}.parquet``.

    ``events.ts`` has drifted physical encodings across testdata
    generations; :func:`_load_events` dispatches on the dtype Spark
    actually loads so every encoding yields the same TIMESTAMP rows."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    key = (spark.sparkContext.applicationId, os.path.realpath(sf_dir), name)
    df = _TABLE_CACHE.get(key)
    if df is None:
        if name == "events":
            df = _load_events(spark, f"{sf_dir}/{name}.parquet")
        else:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        _TABLE_CACHE[key] = df
    return df


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every catalog table as a temp view for ``spark.sql``."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
