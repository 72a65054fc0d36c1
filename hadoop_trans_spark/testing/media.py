"""Synthetic media tables: the standalone MEDIA_SCHEMA input that the
fused decode paths (``encode_row``) are compared against."""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame

from ..operators.multimodal import MEDIA_SCHEMA, _media_map


def synth_media(df: DataFrame, encode_row, mime: str) -> DataFrame:
    """MEDIA_SCHEMA rows whose payload is ``encode_row(doc_id)`` and
    whose meta (mime, n_bytes, sha256) describes that payload."""

    def _row(doc_id: int, payload: bytes) -> tuple:
        meta = {
            "mime": mime,
            "n_bytes": len(payload),
            "checksum": hashlib.sha256(payload).hexdigest(),
        }
        return doc_id, payload, meta

    return _media_map(df, _row, MEDIA_SCHEMA, mime, encode_row)
