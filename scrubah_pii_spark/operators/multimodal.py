"""Multimodal (image/audio/video) column plumbing.

Binary payloads are opaque `binary` columns with typed metadata structs. The
Spark-side machinery — schema, partition-preserving mapInPandas, Arrow batch
shape, executor-local decoder singleton — is real and tested; the actual
codec calls are stubbed (no image/audio libs in this container) behind a
deterministic fake so batch shapes and plumbing are exercised end-to-end.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)


MEDIA_FEATURES_TYPE = StructType(
    [
        StructField("sha256", StringType()),
        StructField("byte_len", IntegerType()),
        StructField("codec", StringType()),       # wav | ppm | pgm | jpeg | png | hash
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("features", ArrayType(FloatType())),  # decode-derived
        StructField("error", StringType()),
    ]
)


def _decode_stub(payload: bytes) -> list:
    """Deterministic fallback 'decoder' for unrecognized formats: 8 floats
    derived from the content hash. Recognized formats (WAV PCM, PPM/PGM —
    see core.media_codecs) take the REAL decode branch instead; swap in
    PIL/librosa/ffmpeg for the rest in a real deployment — only the dispatch
    changes; the Spark plumbing stays identical."""
    d = hashlib.sha256(payload).digest()
    return [b / 255.0 for b in d[:8]]


def extract_media_features(df: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over the binary payload column,
    replacing it with the media struct: partition-preserving, Arrow-batched,
    per-executor decoder init (here a no-op), per-row try/except -> error
    column (never task failure; reference continueOnError semantics).
    WAV/PPM/PGM payloads are REALLY decoded (pure-Python codecs,
    core.media_codecs); anything else gets the deterministic hash stand-in
    with codec='hash'."""
    from ..core.media_codecs import detect_and_decode

    out_schema = StructType(
        [f for f in df.schema.fields if f.name != "payload"]
        + [StructField("media", MEDIA_FEATURES_TYPE)]
    )
    passthrough = [f.name for f in df.schema.fields if f.name != "payload"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            medias = []
            for payload in pdf["payload"]:
                raw = bytes(payload) if payload is not None else b""
                base = {
                    "sha256": hashlib.sha256(raw).hexdigest(),
                    "byte_len": len(raw),
                    "codec": None, "width": None, "height": None,
                    "duration_ms": None, "features": None, "error": None,
                }
                try:
                    decoded = detect_and_decode(raw)
                    if decoded is None:
                        base["codec"] = "hash"
                        base["features"] = _decode_stub(raw)
                    else:
                        base.update(decoded)
                except Exception as e:
                    base["error"] = str(e)
                medias.append(base)
            out = pdf[passthrough].copy()
            out["media"] = medias
            yield out

    return df.mapInPandas(run, out_schema)
