"""Multimodal columns: binary blobs + typed metadata.

``html_stats`` reads metadata from the binary html column with Spark
built-ins. ``extract_image_features`` is batch feature extraction over
opaque blobs: the Spark-side plumbing (binary schema, mapInPandas batch
shape, Arrow transport of bytes) is real, and the decode is a
deterministic sha256 stand-in because no image codec is installed.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def html_stats(pages: DataFrame) -> DataFrame:
    """Metadata over the binary html column — pure built-ins:
    (url, html_bytes, has_body, text_bytes)."""
    return pages.select(
        "url",
        F.octet_length("html").alias("html_bytes"),
        F.expr("contains(CAST(html AS STRING), '<body>')").alias("has_body"),
        F.octet_length(F.encode(F.col("text"), "UTF-8")).alias("text_bytes"),
    )


def html_stats_sql() -> str:
    return """
        SELECT url,
               octet_length(html) AS html_bytes,
               contains(CAST(html AS VARCHAR), '<body>') AS has_body,
               octet_length(encode(text)) AS text_bytes
        FROM pages
    """


def extract_image_features(
    binaries: DataFrame, binary_col: str = "content", id_col: str = "url", dim: int = 8
) -> DataFrame:
    """Batch feature extraction over opaque binary blobs.

    Real pipeline shape: mapInPandas over Arrow batches of bytes ->
    fixed-size float vector per blob. The decode itself is STUBBED with
    a deterministic fake (sha256-seeded vector) because no image codec
    ships in this container; swap ``_fake_decode`` for a real decoder
    (PIL/turbojpeg) without touching the plan.
    """

    if not 1 <= dim <= 8:
        raise ValueError(
            f"dim must be in 1..8 (sha256 stub yields 8 u32 words); got {dim}"
        )

    def _fake_decode(blob: bytes) -> np.ndarray:
        h = hashlib.sha256(blob or b"").digest()
        return np.frombuffer(h[: dim * 4], dtype="<u4").astype("float64") / 2**32

    schema = f"{id_col} string, feat array<double>, n_bytes long"

    def extract(batches):
        for pdf in batches:
            feats = [
                _fake_decode(b if isinstance(b, (bytes, bytearray)) else bytes(b or b""))
                for b in pdf[binary_col]
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "feat": [f.tolist() for f in feats],
                    "n_bytes": [len(b or b"") for b in pdf[binary_col]],
                }
            )

    return binaries.mapInPandas(extract, schema=schema)
