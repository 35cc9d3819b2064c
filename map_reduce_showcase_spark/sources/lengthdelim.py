"""Interop reader for the reference's length-delimited KV files.

The reference engine writes every ``mr-out-{i}`` file as alternating
key/value packets, each prefixed with a big-endian u32 length
(writer ``/root/reference/src/codec/mod.rs:88-93``, reader
``:134-145``; the key,value,key,value layout is the reduce sink at
``/root/reference/src/worker/mod.rs:138-144``). The engine itself
never uses this framing — Tungsten rows internally, Parquet
externally (SURVEY §1.4) — but a user MIGRATING from the reference
has directories of these files, so this module makes them a
first-class Spark source via the Spark 4 **Python Data Source API**:

    spark.dataSource.register(LengthDelimitedDataSource)
    df = spark.read.format("lengthdelim").load("/path/to/outdir")
    # → (path string, key binary, value binary)

Scale shape: one input partition per file (the reference's own
granularity — each file is one reduce partition's output, naturally
parallel); packets stream through an Arrow-friendly generator, no
whole-directory materialization. The byte-level codec lives in
:func:`read_kv_pairs` / :func:`write_kv_pairs` so tests can
round-trip the exact on-disk format without Spark.

Local paths only, on both sides: the codec reads and writes with
Python's ``open``, so a path is a local filesystem path or a
``file:`` URI (the scheme is stripped). Any other scheme
(``hdfs://``, ``s3a://``, ``viewfs://``…) raises ``ValueError``
naming it, instead of writing a local directory called ``viewfs:``
or reading zero rows.
"""

from __future__ import annotations

import glob
import os
import struct
from collections.abc import Iterator
from urllib.parse import urlsplit

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
)

SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("key", BinaryType()),
        StructField("value", BinaryType()),
    ]
)


def _local_path(path: str) -> str:
    """``path`` as a local filesystem path: a ``file:`` URI loses its
    scheme, a plain path is returned as is, and any other scheme
    raises ``ValueError`` naming it."""
    parts = urlsplit(path)
    if not parts.scheme:
        return path
    if parts.scheme == "file" and parts.netloc in ("", "localhost"):
        return parts.path
    raise ValueError(
        f"lengthdelim reads and writes local paths only, not {parts.scheme!r}: {path}"
    )


def write_kv_pairs(path: str, pairs: list[tuple[bytes, bytes]]) -> None:
    """Write (key, value) pairs in the reference's exact framing:
    u32-BE length prefix per packet, keys and values alternating."""
    with open(path, "wb") as f:
        for k, v in pairs:
            for packet in (k, v):
                f.write(struct.pack(">I", len(packet)))
                f.write(packet)


def read_kv_pairs(path: str) -> Iterator[tuple[bytes, bytes]]:
    """Decode one file of alternating length-delimited KV packets."""
    with open(path, "rb") as f:
        buf = f.read()
    off, n = 0, len(buf)
    while off < n:
        (klen,) = struct.unpack_from(">I", buf, off)
        off += 4
        key = buf[off : off + klen]
        off += klen
        (vlen,) = struct.unpack_from(">I", buf, off)
        off += 4
        value = buf[off : off + vlen]
        off += vlen
        yield key, value


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class _Reader(DataSourceReader):
    def __init__(self, options: dict):
        if not options.get("path"):
            raise ValueError("lengthdelim source requires a path")
        self.path = _local_path(options["path"])

    def partitions(self):
        p = self.path
        files = sorted(glob.glob(f"{p}/*")) if os.path.isdir(p) else [p]
        return [_FilePartition(f) for f in files if os.path.isfile(f)]

    def read(self, partition: _FilePartition):
        for key, value in read_kv_pairs(partition.path):
            yield (partition.path, key, value)


class LengthDelimitedDataSource(DataSource):
    """``spark.read.format("lengthdelim")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "lengthdelim"

    def schema(self):
        return SCHEMA

    def reader(self, schema) -> _Reader:
        return _Reader(self.options)


def write_n_files_reference_format(df, out_dir: str, n_reduce: int) -> int:
    """Write a (key binary, value binary) frame as ``n_reduce``
    reference-framed ``mr-out-{i}`` files — the write-side twin of
    :class:`LengthDelimitedDataSource`, completing bidirectional
    interop: output produced here is byte-compatible with what the
    reference's ``mr-client process`` re-reads
    (``/root/reference/src/client.rs:66-93``).

    Rows hash-partition on the key (the reference's
    ``ihash(key) % n_reduce`` role — exact FNV layout is a non-goal,
    SURVEY §1.4) and each partition writes its own file from its own
    task via the shared codec. ``out_dir`` is a local path or a
    ``file:`` URI (see the module docstring); at cluster scale it
    must be storage every executor mounts. Returns the file count."""
    from pyspark.sql import functions as F

    out_dir = _local_path(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    part = df.select("key", "value").repartition(n_reduce, F.col("key"))

    def _write(idx: int, rows):
        pairs = [(bytes(r["key"]), bytes(r["value"])) for r in rows]
        write_kv_pairs(f"{out_dir}/mr-out-{idx}", pairs)
        return iter([idx])

    written = sorted(part.rdd.mapPartitionsWithIndex(_write).collect())
    # empty partitions still owe an (empty) file — the reference
    # writes one per reduce task unconditionally
    for i in range(n_reduce):
        if i not in written:
            write_kv_pairs(f"{out_dir}/mr-out-{i}", [])
    return n_reduce
