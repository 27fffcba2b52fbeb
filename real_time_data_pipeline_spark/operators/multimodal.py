"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Pattern for image/audio/video at 100 TB: store the raw bytes as a
`binary` column next to typed metadata (mime, dims, duration), keep
all filtering/joining on the metadata (JVM-side, pushdown-friendly),
and run decode/feature-extraction as Arrow-batched `mapInPandas` so
Python touches only the rows that survive metadata pruning.

The decode step itself is STUBBED here (codec libraries are not in
this container): `decode_stub` raises NotImplementedError unless
`deterministic_fake=True`, in which case it produces a stable
md5-seeded feature vector — making the Spark-side plumbing (schema,
batching, partitioning) fully testable.

The module registers itself for pickle-by-value: the `mapInPandas`
batch functions call `decode_stub` / `resize_stub`, and pickled by
reference those would make every Python worker import this package,
which fails wherever the package is not on the worker's path (a
driver that put the checkout on `sys.path` itself, a cluster without
the package shipped).
"""

from __future__ import annotations

import sys
from collections.abc import Iterator

from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("mime", StringType(), True),
        StructField("payload", BinaryType(), True),
        StructField("n_bytes", LongType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("mime", StringType(), True),
        StructField("n_bytes", LongType(), True),
        StructField("feature", ArrayType(FloatType()), True),
    ]
)

FEATURE_DIM = 8

cloudpickle.register_pickle_by_value(sys.modules[__name__])


def attach_payload_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Derive cheap metadata columns from a binary payload —
    everything downstream should filter on these, not the bytes."""
    p = F.col(payload_col)
    return df.withColumn("n_bytes", F.length(p).cast("long")).withColumn(
        "content_md5", F.md5(p)
    )


def decode_stub(payload: bytes, deterministic_fake: bool = False) -> list[float]:
    """Placeholder for a real image/audio decoder.

    Raises NotImplementedError in production mode (codec libs absent);
    with ``deterministic_fake`` it emits a stable FEATURE_DIM-vector
    derived from the payload's md5 — enough to test batching, schema,
    and downstream similarity ops.
    """
    if not deterministic_fake:
        raise NotImplementedError(
            "media decoding requires codec libraries not present in this environment"
        )
    import hashlib

    digest = hashlib.md5(payload or b"").digest()
    return [float(digest[i]) / 255.0 for i in range(FEATURE_DIM)]


def extract_features(df: DataFrame, deterministic_fake: bool = True) -> DataFrame:
    """Arrow-batched decode → feature vectors via ``mapInPandas``.

    Batches arrive as pandas DataFrames (Arrow transfer); each batch
    is decoded in one Python call — never row-at-a-time pickling. The
    output schema is declared, so Catalyst plans downstream ops
    without executing the Python stage first.
    """
    import pandas as pd

    def decode_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "n_bytes": pdf["n_bytes"],
                    "feature": [
                        decode_stub(p, deterministic_fake=deterministic_fake)
                        for p in pdf["payload"]
                    ],
                }
            )
            yield out

    return df.mapInPandas(decode_batches, FEATURE_SCHEMA)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: treat the documents table's text as an opaque payload
    (stand-in for real media bytes in tests)."""
    return attach_payload_metadata(
        docs.select(
            F.col("doc_id").alias("media_id"),
            F.lit("text/plain").alias("mime"),
            F.encode(F.col("text"), "UTF-8").alias("payload"),
        )
    )


def resize_stub(payload: bytes, width: int, height: int, deterministic_fake: bool = False) -> bytes:
    """Placeholder for image resize (e.g. PIL/opencv in production).

    The fake path emits a deterministic `width*height`-byte payload by
    cycling the source bytes — size-correct so downstream partition /
    memory accounting is realistic.
    """
    if not deterministic_fake:
        raise NotImplementedError(
            "image resize requires imaging libraries not present in this environment"
        )
    n = max(width * height, 0)
    src = payload or b"\x00"
    return (src * (n // len(src) + 1))[:n]


def resize_images(
    df: DataFrame, width: int, height: int, deterministic_fake: bool = True
) -> DataFrame:
    """Arrow-batched resize via ``mapInPandas`` (same plumbing contract
    as `extract_features`: declared schema, per-batch Python, no
    row-at-a-time pickling). Output replaces `payload` and updates
    `n_bytes`; metadata columns pass through untouched."""
    import pandas as pd

    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("mime", StringType(), True),
            StructField("payload", BinaryType(), True),
            StructField("n_bytes", LongType(), True),
        ]
    )

    def resize_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            resized = [
                resize_stub(p, width, height, deterministic_fake=deterministic_fake)
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "payload": resized,
                    "n_bytes": [len(b) for b in resized],
                }
            )

    return df.mapInPandas(resize_batches, schema)


def frame_sample_plan(
    df: DataFrame,
    duration_col: str = "duration_s",
    fps_col: str = "fps",
    every_s: float = 1.0,
) -> DataFrame:
    """Video frame-sampling PLAN: one output row per frame to decode.

    Deliberately pure column arithmetic (sequence + explode on typed
    METADATA — never touches payload bytes): at 100 TB the plan rows
    are computed JVM-side and only then does an Arrow-batched decode
    (`extract_features`-style) fetch the selected frames. Sampling
    every `every_s` seconds; frame index = floor(t * fps).

    Output: input columns + (sample_t_s: double, frame_idx: long).
    """
    n_samples = (F.floor(F.col(duration_col) / every_s) + 1).cast("int")
    ts = F.explode(F.transform(F.sequence(F.lit(0), n_samples - 1), lambda i: i * every_s))
    out = df.withColumn("sample_t_s", ts)
    return out.withColumn(
        "frame_idx", F.floor(F.col("sample_t_s") * F.col(fps_col)).cast("long")
    )
