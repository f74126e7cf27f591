"""Unified column codec dispatch — Arrow-native.

The operators layer hands whole Arrow arrays (the batches Spark ships over
Arrow IPC) straight to the codecs; values never materialize as Python
objects.  Type tags carried in the encoded-chunk rows (FIXTURES.md §4):

    i64/i32/i16/i8   integer widths (encoded in the int64 domain)
    f64              float64 (float32 upcast), bit-preserved via int64 view
    ts_us            timestamp -> epoch micros int64
    date_d           date32 -> epoch days int64
    str              utf-8 string (byte-identical round trip)
    bin              binary
    bool             boolean -> int64 0/1

Null handling (engine extension; the reference has no nulls): a validity
bitmap section is prepended when nulls exist; null slots encode as 0/empty.
:func:`split_nulls` is the one reader of that section: the decoders here
and the aggregate partials that skip decoding both use it.

:func:`decode_column_arrow` decodes a whole chunk column, or only the rows
``idx`` selects (the filter-pushdown decode).  Each codec parses its own
payload in one place; nothing outside ``codecs/`` reads payload sections.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .container import pack_sections, unpack_sections
from .integer import INT_CODECS
from .strings import STR_CODECS, arrow_to_bo, bo_to_arrow

INT_TAGS = {"i64", "i32", "i16", "i8", "ts_us", "date_d", "bool", "f64"}
STR_TAGS = {"str", "bin"}


def arrow_tag(t: pa.DataType) -> str:
    if pa.types.is_timestamp(t):
        return "ts_us"
    if pa.types.is_date(t):
        return "date_d"
    if t == pa.int64():
        return "i64"
    if t == pa.int32():
        return "i32"
    if t == pa.int16():
        return "i16"
    if t == pa.int8():
        return "i8"
    if pa.types.is_floating(t):
        return "f64"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bin"
    raise TypeError(f"unsupported arrow type {t}")


def tag_to_arrow(tag: str) -> pa.DataType:
    return {
        "i64": pa.int64(),
        "i32": pa.int32(),
        "i16": pa.int16(),
        "i8": pa.int8(),
        "f64": pa.float64(),
        "ts_us": pa.timestamp("us"),
        "date_d": pa.date32(),
        "str": pa.large_string(),
        "bin": pa.large_binary(),
        "bool": pa.bool_(),
    }[tag]


def arrow_to_int64(arr: pa.Array, tag: str) -> np.ndarray:
    """Lossless map of a (null-free) typed arrow array into int64."""
    if tag == "ts_us":
        arr = arr.cast(pa.timestamp("us")) if arr.type != pa.timestamp("us") else arr
        return arr.view(pa.int64()).to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    if tag == "date_d":
        return arr.view(pa.int32()).to_numpy(zero_copy_only=False).astype(np.int64)
    if tag == "f64":
        return arr.cast(pa.float64()).to_numpy(zero_copy_only=False).view(np.int64)
    if tag == "bool":
        return arr.to_numpy(zero_copy_only=False).astype(np.int64)
    return arr.cast(pa.int64()).to_numpy(zero_copy_only=False).astype(np.int64, copy=False)


def int64_to_arrow(v: np.ndarray, tag: str) -> pa.Array:
    if tag == "ts_us":
        return pa.array(v.astype("datetime64[us]"), type=pa.timestamp("us"))
    if tag == "date_d":
        return pa.array(v.astype(np.int32), type=pa.int32()).view(pa.date32())
    if tag == "f64":
        return pa.array(v.view(np.float64), type=pa.float64())
    if tag == "bool":
        return pa.array(v.astype(np.bool_), type=pa.bool_())
    if tag in ("i32", "i16", "i8"):
        return pa.array(v.astype({"i32": np.int32, "i16": np.int16, "i8": np.int8}[tag]))
    return pa.array(v, type=pa.int64())


_FILL = {"str": "", "bin": b"", "ts_us": 0, "date_d": 0, "f64": 0.0, "bool": False}


def encode_column_arrow(arr: pa.Array, codec: str, cache: dict | None = None) -> tuple[str, bytes, dict]:
    """Encode one Arrow column chunk.  Returns (dtype_tag, payload, params).
    ``cache``: artifacts the codec chooser already computed (e.g. the
    dictionary), so string codecs don't repeat the work."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    tag = arrow_tag(arr.type)
    has_nulls = arr.null_count > 0
    if has_nulls:
        null_mask = pc.is_null(arr).to_numpy(zero_copy_only=False)
        fill = _FILL.get(tag, 0)
        if tag == "ts_us":
            arr = pc.fill_null(arr, pa.scalar(0, type=pa.int64()).cast(arr.type))
        elif tag == "date_d":
            arr = pc.fill_null(arr, pa.scalar(0, type=pa.int32()).cast(arr.type))
        else:
            arr = pc.fill_null(arr, fill)

    if tag in STR_TAGS:
        payload, params = STR_CODECS[codec].encode_bo(arrow_to_bo(arr), cache=cache)
    else:
        payload, params = INT_CODECS[codec].encode(arrow_to_int64(arr, tag))

    if has_nulls:
        bitmap = np.packbits(null_mask.astype(np.uint8))
        payload = pack_sections([bitmap.tobytes(), payload])
        params = dict(params, nulls="1")
    return tag, payload, params


def split_nulls(payload, params: dict, n: int) -> tuple[np.ndarray | None, bytes]:
    """The validity-bitmap section of a chunk payload -> (null mask (bool
    [n]) or None when the chunk has no nulls, the codec's own payload)."""
    if params.get("nulls") != "1":
        return None, payload
    bitmap_b, payload = unpack_sections(payload)
    return np.unpackbits(np.frombuffer(bitmap_b, dtype=np.uint8))[:n].astype(bool), payload


def decode_column_arrow(
    tag: str, codec: str, payload: bytes, params: dict, n: int, idx: np.ndarray | None = None
) -> pa.Array:
    """Decode one column chunk; with ``idx`` (ascending), only
    ``column[idx]``.  String codecs locate the selected values through
    their per-value length streams, so decode cost tracks the SELECTED
    bytes, which is what makes filter-pushdown decode cheap at low
    selectivity.  Integer codecs decode whole-column (their vectorized
    kernels are already cheap and delta/FOR need the prefix anyway) and
    subset the result."""
    null_mask, payload = split_nulls(payload, params, n)
    if tag in STR_TAGS:
        bo = STR_CODECS[codec].decode_bo(payload, params, n, idx)
        out = bo_to_arrow(bo, binary=(tag == "bin"), small=True)
    else:
        v = INT_CODECS[codec].decode(payload, params, n)
        out = int64_to_arrow(v if idx is None else v[idx], tag)

    if null_mask is not None:
        if idx is not None:
            null_mask = null_mask[idx]
        out = pc.if_else(pa.array(null_mask), pa.nulls(len(out), type=out.type), out)
    return out


def decode_column_arrow_selected(
    tag: str, codec: str, payload: bytes, params: dict, n: int, idx: np.ndarray
) -> pa.Array:
    """``decode_column_arrow(..., idx)`` under the row-selected decode's
    former name, which the perfbench codec layer still imports."""
    return decode_column_arrow(tag, codec, payload, params, n, idx)
