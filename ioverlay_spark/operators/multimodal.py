"""Multimodal columns: image/audio/video as opaque `binary` payloads with typed
metadata, plus decode / feature-extract / resize / frame-sample operators.

The container has no image/audio codecs, so the DECODE step is stubbed behind a
clearly-marked NotImplementedError with a deterministic synthetic fallback; the
Spark-side plumbing — schema, partitioning, Arrow batch shapes, UDF signatures —
is real and tested. Payload bytes are synthesized deterministically from the id
(chained md5), so feature extraction has an exact cross-engine oracle.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("payload", BinaryType()),
    ]
)


def synth_media(ids: DataFrame, id_col: str, n_blocks: int = 4) -> DataFrame:
    """Synthesize a media table: payload = concat of `n_blocks` md5 digests of
    (id || block) — 16*n_blocks deterministic bytes; metadata derived from id.
    Pure Column expressions (unhex(md5(...)) chains stay JVM-side)."""
    blocks = [
        f"unhex(md5(CAST({id_col} AS STRING) || '_{b}'))" for b in range(n_blocks)
    ]
    payload = "concat(" + ", ".join(blocks) + ")"
    return ids.selectExpr(
        f"CAST({id_col} AS BIGINT) AS media_id",
        f"element_at(array('image','audio','video'), CAST({id_col} % 3 AS INT) + 1) AS kind",
        f"CAST(16 + ({id_col} % 48) AS INT) AS width",
        f"CAST(16 + ({id_col} % 32) AS INT) AS height",
        "CAST(3 AS INT) AS channels",
        f"{payload} AS payload",
    )


def decode_media(payload: bytes, kind: str):
    """REAL decode would go here (PIL / ffmpeg / soundfile — not in this container).

    Raises NotImplementedError for real codecs; callers use
    `fake_decode` for the deterministic synthetic-payload path."""
    raise NotImplementedError(
        "media codecs are not available in this environment; "
        "use fake_decode() for synthetic payloads"
    )


def fake_decode(payload: bytes) -> np.ndarray:
    """Deterministic stand-in decode: payload bytes as a 1-D uint8 'sample' array."""
    return np.frombuffer(payload, dtype=np.uint8)


FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("sum_bytes", LongType()),
        StructField("mean_byte", DoubleType()),
        StructField("hist4", ArrayType(LongType())),
    ]
)


def extract_features(media: DataFrame) -> DataFrame:
    """Feature extraction over binary payloads via mapInPandas (Arrow batches of
    bytes -> numpy): byte count/sum/mean + a 4-bucket histogram."""
    from ..session import ship_package

    ship_package(media.sparkSession)

    def kernel(batches):
        from .. import zipcache  # noqa: F401  (package import installs it in the worker)

        # whole-batch decode: one concatenated uint8 buffer + per-row offsets;
        # sums and 4-bucket histograms via bincount over row-composed keys (no
        # per-row python loop — VERDICT r03 #6). Exact: uint8 sums stay far
        # below 2^53, so the float64 bincount accumulation is integer-exact.
        for pdf in batches:
            payloads = [bytes(p) for p in pdf["payload"]]
            k = len(payloads)
            lens = np.fromiter((len(p) for p in payloads), dtype=np.int64, count=k)
            buf = np.frombuffer(b"".join(payloads), dtype=np.uint8)
            rid = np.repeat(np.arange(k, dtype=np.int64), lens)
            sums = np.bincount(rid, weights=buf, minlength=k).astype(np.int64)
            hist = np.bincount(rid * 4 + (buf >> 6), minlength=4 * k).reshape(k, 4)
            mean = np.where(lens > 0, sums / np.maximum(lens, 1), 0.0)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(np.int64),
                    "n_bytes": lens,
                    "sum_bytes": sums,
                    "mean_byte": mean,
                    "hist4": [h.tolist() for h in hist.astype(np.int64)],
                }
            )

    return media.mapInPandas(kernel, schema=FEATURES_SCHEMA)


def resample_payload(media: DataFrame, stride: int = 4) -> DataFrame:
    """'Resize/frame-sample' analog: keep every stride-th byte of the payload —
    exercises binary-in/binary-out UDF plumbing with metadata updates."""
    from ..session import ship_package

    ship_package(media.sparkSession)

    def kernel(batches):
        for pdf in batches:
            out = pdf.copy()
            out["payload"] = [bytes(fake_decode(p)[::stride].tobytes()) for p in out["payload"]]
            out["width"] = (out["width"] // stride).astype("int32")
            yield out

    return media.mapInPandas(kernel, schema=MEDIA_SCHEMA)
