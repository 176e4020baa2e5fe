"""Media file sources: directories of image/audio/video files -> the
multimodal MEDIA_SCHEMA table.

Built on Spark's native sources, so listing, partitioned reads, and
column pruning are all JVM-side:

 * :func:`load_media` — ``spark.read.format("binaryFile")``: one row per
   file with payload bytes; kind/mime inferred from the extension,
   media_id = xxhash64(path) (stable across runs and cluster sizes).
   The payload column is only materialized for rows that reach an
   operator that reads it (binaryFile supports predicate pushdown on
   path/length/modificationTime).
 * :func:`load_images_decoded` — ``spark.read.format("image")``: Spark's
   built-in Java ImageIO decode at scan time (JPEG/PNG/GIF/BMP),
   yielding (height, width, nChannels, mode, data).  It is the only
   pixel decode in the package, and it runs in the JVM; no Python
   worker touches the bytes.

Reference parity note: the reference reads documents from archive files
(TrecCarFile/Kba/Warc readers); media directories are the multimodal
analog under the LLM-data-pipeline brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_EXT_TO_KIND_MIME = {
    "jpg": ("image", "image/jpeg"),
    "jpeg": ("image", "image/jpeg"),
    "png": ("image", "image/png"),
    "bmp": ("image", "image/bmp"),
    "gif": ("image", "image/gif"),
    "wav": ("audio", "audio/wav"),
    "avi": ("video", "video/x-msvideo"),
    "mp4": ("video", "video/mp4"),
}


def load_media(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Directory of media files -> MEDIA_SCHEMA-shaped DataFrame
    (media_id, kind, mime, payload, meta) plus a ``path`` column for
    lineage.  Unknown extensions get kind='binary',
    mime='application/octet-stream' rather than being dropped."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    raw = reader.load(path)
    ext = F.lower(F.element_at(F.split(F.col("path"), r"\."), -1))
    kind_expr = F.lit("binary")
    mime_expr = F.lit("application/octet-stream")
    # build the CASE chain from the literal table (bounded, tiny)
    for e, (kind, mime) in _EXT_TO_KIND_MIME.items():
        kind_expr = F.when(ext == e, kind).otherwise(kind_expr)
        mime_expr = F.when(ext == e, mime).otherwise(mime_expr)
    return raw.select(
        F.xxhash64("path").alias("media_id"),
        kind_expr.alias("kind"),
        mime_expr.alias("mime"),
        F.col("content").alias("payload"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
        F.col("path"),
    )


def load_images_decoded(spark: SparkSession, path: str) -> DataFrame:
    """Directory of images -> JVM-decoded pixel rows via Spark's built-in
    ``image`` source (Java ImageIO): (path, height, width, nChannels,
    mode, data) with data in BGR(A) row-major order.  Decode happens at
    scan time inside the JVM — no Python workers touch the bytes."""
    return spark.read.format("image").load(path).select("image.*")
