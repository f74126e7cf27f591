"""Chunk-level codec framework: per-column encode/decode + auto-selection."""

from .integer import INT_CODECS
from .strings import STR_CODECS

__all__ = [
    "INT_CODECS",
    "STR_CODECS",
]
