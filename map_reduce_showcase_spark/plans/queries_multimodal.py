"""Multimodal-column queries: binary payload plumbing through
Arrow-batched ``mapInPandas`` (decode stage stubbed deterministically
— see ``multimodal/binary_cols.py``), oracle-checked because the
fake decode is a pure function of payload length/content that the
SQL replays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..multimodal import decode_media_meta, extract_frames, to_media_frame
from .registry import register, t


@register(
    "multimodal_decode_meta",
    oracle="""
    SELECT doc_id AS media_id,
           'image' AS media_type,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(64 + strlen(text) % 577 AS INT) AS width,
           CAST(64 + strlen(text) % 419 AS INT) AS height,
           1 AS n_frames,
           md5(text) AS content_md5
    FROM documents
    """,
    tags=("multimodal",),
)
def multimodal_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload → typed media metadata via mapInPandas (the
    real 1:1 decode shape; pixel decode stubbed). Oracle replays the
    deterministic fake from byte length + md5. Docs are ASCII so
    strlen == octet_length."""
    media = to_media_frame(t(spark, sf_dir, "documents"), media_type="image")
    return decode_media_meta(media)


@register(
    "multimodal_frame_stats",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(greatest(ceil(strlen(text) / 64.0), 1) AS BIGINT) AS n_frames,
           CAST(strlen(text) - (greatest(ceil(strlen(text) / 64.0), 1) - 1) * 64 AS BIGINT)
             AS min_frame_bytes
    FROM documents
    """,
    tags=("multimodal",),
)
def multimodal_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling stage (1:N explode inside mapInPandas, 64-byte
    pseudo-frames) then per-media frame accounting — the video/audio
    windowing shape with bounded Arrow batches."""
    media = to_media_frame(t(spark, sf_dir, "documents"), media_type="video")
    frames = extract_frames(media, every_n_bytes=64)
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        # every frame is 64 bytes except the trailing remainder, so
        # min == the last frame's size (== 64 on exact multiples)
        F.min(F.length(F.col("frame_bytes"))).cast("long").alias("min_frame_bytes"),
    )


def _binary_fixture_oracle() -> str:
    """Expected decode metadata for the checked-in REAL binary
    fixtures (a valid 4×4 PNG and a valid 8-sample WAV, generated
    with pure struct/zlib — no media libs), computed independently
    with hashlib/zlib at oracle-build time. If a fixture changes,
    the oracle changes with it; if the Spark binaryFile read or the
    decode stage corrupts a byte, the md5 mismatches."""
    import hashlib
    import zlib
    from pathlib import Path

    media_dir = Path(__file__).resolve().parent.parent / "fixtures" / "media"
    rows = []
    for p in sorted(media_dir.iterdir()):
        data = p.read_bytes()
        mid = zlib.crc32(p.name.encode())
        mtype = "image" if p.suffix == ".png" else "audio"
        n = len(data)
        n_frames = 1 if mtype == "image" else 1 + (n % 32)
        rows.append(
            f"({mid}, '{mtype}', {n}, {64 + n % 577}, {64 + n % 419},"
            f" {n_frames}, '{hashlib.md5(data).hexdigest()}')"
        )
    return f"""
    SELECT media_id, media_type, CAST(n_bytes AS BIGINT) AS n_bytes,
           CAST(width AS INT) AS width, CAST(height AS INT) AS height,
           CAST(n_frames AS INT) AS n_frames, content_md5
    FROM (VALUES {", ".join(rows)})
         t(media_id, media_type, n_bytes, width, height, n_frames, content_md5)
    """


@register(
    "multimodal_binary_files",
    oracle=_binary_fixture_oracle(),
    tags=("multimodal", "binary-source"),
)
def multimodal_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True-binary variant of ``multimodal_decode_meta``: real PNG /
    WAV payloads read through ``spark.read.format("binaryFile")``
    (``sources/binary.py``), then the same Arrow-batched mapInPandas
    decode stage. Unlike the text-backed media queries, this one
    exercises the actual production entry point for a media lake —
    whole-file binary rows — end to end (pixel decode itself stays
    the deterministic stub; PIL/soundfile is a drop-in)."""
    from pathlib import Path

    from ..sources.binary import read_binary_media

    media_dir = Path(__file__).resolve().parent.parent / "fixtures" / "media"
    return decode_media_meta(read_binary_media(spark, str(media_dir)))


@register(
    "multimodal_resize_accounting",
    oracle="""
    SELECT COUNT(*) AS n_media,
           CAST(SUM(n_chars) AS BIGINT) AS in_bytes_total,
           CAST(COUNT(*) * 3072 AS BIGINT) AS out_bytes_total,
           CAST(SUM(CASE WHEN n_chars > 3072 THEN n_chars - 3072
                         ELSE 0 END) AS BIGINT) AS bytes_dropped
    FROM documents
    """,
    tags=("multimodal", "resize", "mapInPandas"),
)
def multimodal_resize_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stage end-to-end (the remaining verb of the
    decode/feature-extract/resize/frame-sample quartet): every
    payload normalized to a fixed 32×32×3-byte target through
    Arrow-batched mapInPandas, then byte accounting aggregated —
    input volume, (deterministic) output volume, and bytes dropped
    by truncation. The oracle replays the accounting from n_chars
    because the stub resize is pure byte arithmetic (documents'
    text is ASCII by construction, so n_chars = payload bytes);
    a real PIL resize keeps the schema and the accounting shape,
    just not SQL-replayability of the pixel content."""
    from ..multimodal.binary_cols import resize_media, to_media_frame

    docs = t(spark, sf_dir, "documents")
    resized = resize_media(to_media_frame(docs))
    over = F.when(
        F.col("in_bytes") > F.col("out_bytes"),
        F.col("in_bytes") - F.col("out_bytes"),
    ).otherwise(F.lit(0))
    return resized.agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("in_bytes").alias("in_bytes_total"),
        F.sum("out_bytes").alias("out_bytes_total"),
        F.sum(over).alias("bytes_dropped"),
    )
