"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video are carried as ``binary`` columns with a metadata
struct (``MEDIA_SCHEMA``).  simplir is a text IR system and decodes no
media: the one
operator here, ``extract_features``, derives a deterministic feature
vector from the payload bytes with Catalyst expressions only (md5/sha2),
so the plan is a single codegen ``Project`` with no Python worker and
the driver's DuckDB oracle reproduces every value.

Scale notes: binary columns live in their own parquet column chunk
(columnar format), so metadata-only queries never read the payload
bytes (column pruning).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("mime", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes long, sha256 string, feature array<double>"
)


def _feature(payload: Column, j: int) -> Column:
    """Component ``j``: the first 60 bits of md5(payload || ':j'), mod
    1000, over 1000.  The suffix is a binary literal, so the payload
    bytes are hashed as they are, never decoded as text."""
    hex60 = F.substring(F.md5(F.concat(payload, F.lit(f":{j}".encode()))), 1, 15)
    return (F.conv(hex60, 16, 10).cast("long") % 1000) / F.lit(1000.0)


def extract_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """MEDIA_SCHEMA rows -> (media_id, kind, n_bytes, sha256, feature):
    the payload's byte length, its SHA-256 hex digest and a ``dim``-long
    md5-derived feature vector (``_feature``), as one projection with
    ``FEATURE_SCHEMA``'s columns."""
    payload = F.col("payload")
    return media.select(
        "media_id",
        "kind",
        F.length(payload).cast("long").alias("n_bytes"),
        F.sha2(payload, 256).alias("sha256"),
        F.array(*[_feature(payload, j) for j in range(dim)]).alias("feature"),
    )
