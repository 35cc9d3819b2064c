"""True binary-file source for multimodal payloads.

``spark.read.format("binaryFile")`` is Spark's native whole-file
binary reader: one row per file with (path, modificationTime,
length, content). It is the production entry point for media
corpora — the same F1 whole-file input model as the reference
(``src/worker/mod.rs:166-180``) but for opaque bytes, and it
supports predicate pushdown on file metadata (e.g.
``pathGlobFilter``, length filters) so a 100 TB media lake can be
pruned before a single payload is read.

Scale notes: binaryFile is non-splittable by nature (a file IS the
unit); parallelism = file count, which is the right granularity for
media decode. For multi-TB single files (rare for media), shard at
ingest. ``spark.sql.files.maxPartitionBytes`` packs many small
files per task automatically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: extension → coarse media type, mirroring the typed-metadata model
#: in ``multimodal/binary_cols.py``.
_IMAGE_EXT = ("png", "jpg", "jpeg", "gif", "bmp", "webp")
_AUDIO_EXT = ("wav", "mp3", "flac", "ogg")
_VIDEO_EXT = ("mp4", "avi", "mkv", "webm")


def read_binary_media(spark: SparkSession, path: str) -> DataFrame:
    """Read a directory of media files as the standard media frame
    ``(media_id, media_type, payload)`` consumed by every operator
    in ``multimodal/``.

    ``media_id`` is the crc32 of the file's basename — stable across
    runs, clusters, and engines (the oracle recomputes it with
    ``zlib.crc32``); ``media_type`` is derived from the extension.
    """
    df = spark.read.format("binaryFile").load(path)
    name = F.element_at(F.split(F.col("path"), "/"), -1)
    ext = F.lower(F.element_at(F.split(name, r"\."), -1))
    media_type = (
        F.when(ext.isin(*_IMAGE_EXT), "image")
        .when(ext.isin(*_AUDIO_EXT), "audio")
        .when(ext.isin(*_VIDEO_EXT), "video")
        .otherwise("binary")
    )
    return df.select(
        F.crc32(F.encode(name, "UTF-8")).cast("long").alias("media_id"),
        media_type.alias("media_type"),
        F.col("content").alias("payload"),
    )
