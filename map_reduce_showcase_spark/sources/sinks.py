"""Sinks: the write-side of the engine.

The reference's only sink is ``n_reduce`` length-delimited local
files, one per reduce partition (``src/worker/mod.rs:138-144``).
Spark's writer subsumes it; the four writers here encode the layouts
that matter at 100 TB:

* :func:`write_partitioned` — hive-style directory partitioning:
  readers prune partitions from the path (the single biggest scan
  saver for time/tenant-sliced data).
* :func:`write_bucketed` — pre-shuffled, bucket-sorted table layout:
  joins/aggregations on the bucket key skip their shuffle entirely
  (this is how the orders⋈lineitem shuffle disappears in
  production).
* :func:`write_n_files` — the reference's exact contract (N output
  files for N reduce partitions), for parity.
* :func:`compact_small_files` — rewrites a small-file directory into
  target-sized files, keeping its hive layout.

All four write Parquet through the Hadoop FS API, so any supported
filesystem works; ``tests/test_sinks_jobs.py`` round-trips each one,
also on a ``viewfs://`` mount.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_partitioned(df: DataFrame, path: str, *partition_cols: str) -> None:
    """Hive-partitioned parquet: one directory per partition value.
    Choose low-cardinality columns (date, tenant, lang); high-
    cardinality partitioning creates a small-file storm."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    path: str | None = None,
) -> None:
    """Bucketed + sorted table (requires a catalog entry — i.e.
    ``saveAsTable``, not a bare path: bucketing metadata lives in the
    catalog). Subsequent equi-joins or aggregations on ``bucket_col``
    between tables bucketed the same way execute with zero shuffle.
    ``path`` makes it an external table at that location instead of
    a managed table under the warehouse dir."""
    w = (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def write_n_files(df: DataFrame, path: str, n: int, by_col: str) -> int:
    """Reference-parity sink: ``n`` reduce partitions → up to ``n``
    output files (the reference's ``mr-out-{0..n-1}``). ``by_col``
    hash-distributes rows like ``ihash(key) % n_reduce``
    (``src/lib.rs:201-208``).

    Returns the number of data files actually written: unlike the
    reference (whose reduce tasks write even empty files), Spark's
    writer skips empty partitions, so the count is ≤ n when keys
    hash unevenly or there are fewer keys than partitions. The count
    is a Hadoop FS listing, so it holds on any supported filesystem."""
    from pyspark.sql import functions as F

    df.repartition(n, F.col(by_col)).write.mode("overwrite").parquet(path)
    return len(_data_file_sizes(df.sparkSession, path))


def _data_file_sizes(spark, path: str) -> list[int]:
    """Byte sizes of the data files under ``path``, recursively, from a
    Hadoop FS listing (local, HDFS, object stores); ``_``- and
    ``.``-prefixed files (``_SUCCESS``, checksums) are not data."""
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    conf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    it = hpath.getFileSystem(conf).listFiles(hpath, True)
    sizes = []
    while it.hasNext():
        f = it.next()
        name = f.getPath().getName()
        if not name.startswith("_") and not name.startswith("."):
            sizes.append(f.getLen())
    return sizes


def compact_small_files(
    spark,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 128 << 20,
    partition_by: tuple[str, ...] = (),
) -> int:
    """Compact a small-file-storm directory into ~target-sized files;
    returns the output file count.

    Streaming sinks, hive partitioning on skewed keys, and the
    reference-parity ``write_n_files`` layout all produce many tiny
    files; at 100 TB that means footer-read amplification, NameNode/
    listing pressure, and task-per-file scheduling overhead on every
    downstream scan — so compaction is a standing maintenance job,
    not an afterthought. Sizing reads ONLY filesystem metadata (a
    listing, no data scan) via the Hadoop FS API, so it works on any
    supported filesystem (local, HDFS, object stores); the rewrite
    is one ``repartition(n)`` pass. Writes to a separate dst so the
    swap can be atomic at the catalog/manifest layer — never
    overwrite a directory a reader may be listing."""
    import math

    total = sum(_data_file_sizes(spark, src_path))
    n = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(src_path)
    if partition_by:
        # preserve the hive layout: co-locate rows by partition key so
        # each output partition writes into few directories, and keep
        # partitionBy on the writer (a flat rewrite would silently
        # drop the layout readers prune on)
        from pyspark.sql import functions as _F

        df = df.repartition(n, *[_F.col(c) for c in partition_by])
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(dst_path)
    else:
        df.repartition(n).write.mode("overwrite").parquet(dst_path)
    return n
