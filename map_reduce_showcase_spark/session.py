"""SparkSession construction with scale-aware defaults, and the
per-application scratch path the package writes under.

Local testing runs on ``local[N]`` but every knob here is chosen for
the 100 TB / 1000-executor deployment story:

* AQE on: runtime shuffle-partition coalescing, skew-join splitting,
  and join-strategy switching replace hand-tuned ``n_reduce`` (the
  reference hard-codes static reduce parallelism per job,
  ``proto/coordinator.proto:30``).
* ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE
  coalesces. At cluster scale set it to ~2-3x total cores.
* Arrow enabled: every Python-side exchange (Pandas UDFs,
  ``mapInPandas``, ``toPandas``) is columnar-batched.
* Session timezone pinned UTC so timestamp semantics are stable
  across driver, executors, and the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def scratch_dir(spark: SparkSession, name: str) -> str:
    """``<SparkFiles root>/mrs/<name>``: the path for package scratch
    data (replay copies, checkpoints, bucketed tables, round-trip
    outputs) named ``name``.

    The SparkFiles root is Spark's own per-application temp dir below
    ``SPARK_LOCAL_DIRS``. It is driver-local and lives as long as the
    SparkContext: ``spark.stop()`` removes it, a new context gets a
    fresh one, and the JVM's shutdown hook removes it if the Python
    driver dies. No two applications share the path, so nothing here
    is locked or swept. Like any driver-local path it serves
    local-mode scratch only; on a cluster the writers would target
    shared storage instead. The directory is not created: Spark's
    writers make their own output dirs."""
    root = spark.sparkContext._jvm.org.apache.spark.SparkFiles.getRootDirectory()
    return os.path.join(root, "mrs", name)


def get_spark(
    app_name: str = "map-reduce-showcase-spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or
    ``local[*]``); on a real cluster, leave it to spark-submit.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # In local mode every executor thread shares the driver JVM,
        # whose default heap is 1g — with local[32] that starves the
        # shuffle/agg hash maps into GC-lock retries (measured: the
        # shingle self-join crashes outright under a loaded JVM).
        # 4g measured fastest on this box: it stops the crashes and
        # halves the inverted-index join, while a huge heap (24g)
        # was 3-10x SLOWER on the same queries (G1 with a
        # many-gigabyte young gen thrashes page-zeroing instead of
        # collecting a small nursery). Only effective before the JVM
        # launches; getOrCreate against a live session ignores it.
        # On a real cluster this knob is irrelevant: spark-submit
        # sets executor/driver memory explicitly.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # Adaptive execution: coalesce post-shuffle partitions, split
        # skewed joins, switch to broadcast when runtime stats allow.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Parquet TIMESTAMP(NANOS) has no Spark type; load such
        # columns as raw longs instead of failing. sources/tables.py
        # dispatches on the loaded dtype, so any physical encoding of
        # events.ts (micros/nanos/raw int64) yields the same rows.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Arrow for every Python<->JVM columnar exchange.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Keep driver UI off in tests/CI.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
