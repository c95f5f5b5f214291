"""Media payloads as opaque ``binary`` columns (a north-star extension).

:func:`media_from_documents` wraps the documents table as media rows
whose payload is the text's UTF-8 bytes. :func:`extract_features` turns
each payload into byte-level features (length, big-endian first word,
byte-sum checksum) in Arrow-batched pandas via ``mapInPandas``, so the
payloads stay on the executors. No codec decodes anything: the
features are defined on the raw bytes, as in the ``media_features``
oracle SQL.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "asset_id long, modality string, n_bytes long, header_word long, checksum long"
)


def media_from_documents(docs: DataFrame, modality: str = "image") -> DataFrame:
    """Adapter: wrap the documents table as opaque media payloads so the
    binary plumbing is exercisable on the driver testdata (text bytes
    stand in for encoded media)."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit(modality).alias("modality"),
        F.encode("text", "UTF-8").alias("content"),
        F.lit("application/octet-stream").alias("mime_type"),
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Byte-level features of each asset via Arrow-batched mapInPandas,
    one output row per input row: ``n_bytes`` is the payload length,
    ``header_word`` its first four bytes as a big-endian word (0 when
    shorter), ``checksum`` the byte sum mod 1e9+7. A NULL payload gives
    NULL ``n_bytes`` and ``checksum`` and a 0 ``header_word``."""

    def _one(b: bytes | None):
        if b is None:
            return None, 0, None
        header = int.from_bytes(b[:4], "big") if len(b) >= 4 else 0
        return len(b), header, sum(b) % 1_000_000_007

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [_one(b) for b in pdf["content"]]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "n_bytes": pd.array([f[0] for f in feats], dtype="Int64"),
                    "header_word": [f[1] for f in feats],
                    "checksum": pd.array([f[2] for f in feats], dtype="Int64"),
                }
            )

    return media.mapInPandas(_batches, schema=FEATURE_SCHEMA)
