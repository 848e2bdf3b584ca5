"""Multimodal (binary-column) plumbing for the ``multimodal_features``
query.

Treats image payloads as opaque ``binary`` columns and extracts typed
metadata with Arrow-batched ``mapInPandas`` — the pattern a 100 TB
multimodal pipeline uses (constant memory per batch, no row-at-a-time
Python).

The actual media decode (PIL/libav/etc.) is NOT available in this
container, so ``decode_image`` is a clearly-marked stub: by default it
raises ``NotImplementedError``; with ``fake=True`` it derives
deterministic pseudo-dimensions from the byte length so the Spark-side
plumbing — schema, batching, UDF signature — is real and testable.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "attach_binary_payload",
    "decode_image",
    "extract_features",
]

FEATURE_SCHEMA = "doc_id bigint, n_bytes bigint, width int, height int"


def attach_binary_payload(df: DataFrame) -> DataFrame:
    """Stand-in ingestion: pack the ``text`` column as the binary payload
    (a real pipeline reads a parquet binary column)."""
    return df.withColumn("content", F.encode(F.col("text"), "UTF-8"))


def decode_image(payload: bytes, *, fake: bool = False) -> tuple[int, int]:
    """STUB — media decoding libraries are not installed here.

    ``fake=True`` returns deterministic pseudo-dimensions derived from
    the payload length (keeps plumbing testable and oracle-checkable).
    """
    if not fake:
        raise NotImplementedError(
            "image decoding requires PIL/turbojpeg; not available in this "
            "environment — pass fake=True for the deterministic stub"
        )
    n = len(payload)
    return n % 640, (7 * n) % 480


def extract_features(df: DataFrame, *, fake_decode: bool = True) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload.

    Output schema: (doc_id, n_bytes, width, height).  Each partition
    streams through pandas batches — memory is bounded by the Arrow
    batch size regardless of partition size.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            dims = pdf["content"].map(lambda b: decode_image(b, fake=fake_decode))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["content"].map(len).astype("int64"),
                    "width": dims.map(lambda t: t[0]).astype("int32"),
                    "height": dims.map(lambda t: t[1]).astype("int32"),
                }
            )

    return df.select("doc_id", "content").mapInPandas(batches, FEATURE_SCHEMA)

