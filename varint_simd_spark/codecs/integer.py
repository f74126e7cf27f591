"""Integer-column codecs (int64/uint64/timestamp-micros/date-days domains).

Every codec maps ``np.ndarray[int64|uint64] -> (payload: bytes, params: dict)``
and back, bit-identically.  All are whole-column numpy — no per-row Python.

The varint wire format matches the reference exactly (see kernels/varint.py);
delta/FOR/bit-packing/RLE are engine extensions mandated by the north rule
(absent from the reference — marked per SURVEY.md §2.1 provenance note).
"""

from __future__ import annotations

import numpy as np

from ..kernels import varint
from ..kernels.zigzag import unzigzag, zigzag
from .container import pack_sections, unpack_sections

_U64 = np.uint64


def _to_u64(arr: np.ndarray) -> np.ndarray:
    a = np.asarray(arr)
    if a.dtype == np.uint64:
        return a
    return a.astype(np.int64, copy=False).view(np.uint64)


def _to_i64(arr: np.ndarray) -> np.ndarray:
    a = np.asarray(arr)
    if a.dtype == np.int64:
        return a
    return a.astype(np.uint64, copy=False).view(np.int64)


# --------------------------------------------------------------------------
# plain varint (unsigned domain; reference semantics)


class VarintU64:
    """Minimal-length LEB128 per value (reference encode/decode,
    src/encode/mod.rs:23-25 / src/decode/mod.rs:28-54).

    Width specialization: the reference monomorphizes per integer width
    (encode::<u8|u16|u32|u64>, README.md:57-59 — "type parameter greatly
    affects performance").  The engine's analog: the encoder records the
    narrowest width the chunk fits (8/16/32/64) in the codec descriptor and
    the decoder enforces that width's MAX_VARINT_BYTES /
    MAX_LAST_VARINT_BYTE overflow rules (src/decode/mod.rs:42-48)."""

    name = "varint"

    @staticmethod
    def _fit_width(u: np.ndarray) -> int:
        if u.size == 0:
            return 64
        hi = int(u.max())
        for w in (8, 16, 32):
            if hi < (1 << w):
                return w
        return 64

    def encode(self, arr: np.ndarray) -> tuple[bytes, dict]:
        u = _to_u64(arr)
        payload, _ = varint.encode(u)
        return payload, {"width": str(self._fit_width(u))}

    def decode(self, payload: bytes, params: dict, n: int) -> np.ndarray:
        width = int(params.get("width", 64))
        return _to_i64(varint.decode(payload, count=n, width=width))


class VarintZigZag:
    """ZigZag then varint — efficient for signed values near zero
    (reference encode_zigzag/decode_zigzag, src/encode/mod.rs:40-42,
    src/decode/mod.rs:99-101)."""

    name = "varint_zz"

    def encode(self, arr: np.ndarray) -> tuple[bytes, dict]:
        payload, _ = varint.encode(zigzag(_to_i64(arr)))
        return payload, {}

    def decode(self, payload: bytes, params: dict, n: int) -> np.ndarray:
        return unzigzag(varint.decode(payload, count=n, width=64))


def _bitpack(u: np.ndarray) -> tuple[bytes, int]:
    """uint64 values -> (the low ``bits`` bits of each, packed MSB first;
    ``bits``), ``bits`` being the narrowest width >= 1 that holds them."""
    bits = max(1, int(u.max()).bit_length()) if u.size else 1
    be = u.astype(">u8").view(np.uint8).reshape(-1, 8)
    return np.packbits(np.unpackbits(be, axis=1)[:, 64 - bits :]).tobytes(), bits


def _bitunpack(payload, bits: int, n: int) -> np.ndarray:
    """Inverse of :func:`_bitpack` -> uint64[n].  Goes through an (n, 64)
    uint8 bit matrix."""
    raw = np.unpackbits(np.frombuffer(payload, dtype=np.uint8))[: n * bits]
    full = np.zeros((n, 64), dtype=np.uint8)
    full[:, 64 - bits :] = raw.reshape(n, bits)
    return np.packbits(full, axis=1).view(">u8").ravel().astype(np.uint64)


def _undelta(first: int, deltas: np.ndarray) -> np.ndarray:
    """-> int64[len(deltas) + 1]: ``first`` then its running sums."""
    out = np.empty(deltas.size + 1, dtype=np.int64)
    out[0] = first
    # wrapping cumsum matches the encoder's wrapping diff
    np.cumsum(deltas.view(np.uint64), out=out[1:].view(np.uint64))
    out[1:] += out[0]
    return out


class DeltaZigZagVarint:
    """Delta (first-order) + ZigZag + varint: ideal for near-sorted
    timestamp/offset columns; negative back-jumps cost little via zigzag."""

    name = "delta_zz_varint"

    def encode(self, arr: np.ndarray) -> tuple[bytes, dict]:
        v = _to_i64(arr)
        if v.size == 0:
            return b"", {"first": "0"}
        deltas = np.diff(v)
        payload, _ = varint.encode(zigzag(deltas))
        return payload, {"first": str(int(v[0]))}

    def decode(self, payload: bytes, params: dict, n: int) -> np.ndarray:
        if n == 0:
            return np.zeros(0, dtype=np.int64)
        deltas = unzigzag(varint.decode(payload, count=n - 1, width=64))
        return _undelta(int(params["first"]), deltas)


class DeltaZigZagBitpack:
    """Delta + ZigZag + fixed-width bit-packing: for near-sorted columns
    with bounded jitter (timestamps with a regular cadence) the zigzag
    deltas fit a small fixed width, beating varint's per-value 7-bit
    rounding."""

    name = "delta_zz_bitpack"

    def encode(self, arr: np.ndarray) -> tuple[bytes, dict]:
        v = _to_i64(arr)
        if v.size == 0:
            return b"", {"first": "0", "bits": "0"}
        packed, bits = _bitpack(zigzag(np.diff(v)))
        return packed, {"first": str(int(v[0])), "bits": str(bits)}

    def decode(self, payload: bytes, params: dict, n: int) -> np.ndarray:
        if n == 0:
            return np.zeros(0, dtype=np.int64)
        zz = _bitunpack(payload, int(params["bits"]), n - 1)
        return _undelta(int(params["first"]), unzigzag(zz))


class ForBitpack:
    """Frame-of-reference + fixed-width bit-packing: residuals v - min(v)
    packed at ceil(log2(range+1)) bits."""

    name = "for_bitpack"

    def encode(self, arr: np.ndarray) -> tuple[bytes, dict]:
        v = _to_i64(arr)
        if v.size == 0:
            return b"", {"base": "0", "bits": "0"}
        base = int(v.min())
        packed, bits = _bitpack((v - base).view(np.uint64))  # wrapping sub; range fits u64
        return packed, {"base": str(base), "bits": str(bits)}

    def decode(self, payload: bytes, params: dict, n: int) -> np.ndarray:
        if n == 0:
            return np.zeros(0, dtype=np.int64)
        resid = _bitunpack(payload, int(params["bits"]), n)
        return (resid.view(np.int64) + int(params["base"])).astype(np.int64)


class RleVarint:
    """Run-length encoding: run values (zigzag-varint) + run lengths (varint)."""

    name = "rle_varint"

    def encode(self, arr: np.ndarray) -> tuple[bytes, dict]:
        v = _to_i64(arr)
        if v.size == 0:
            return pack_sections([b"", b""]), {"runs": "0"}
        change = np.flatnonzero(v[1:] != v[:-1])
        starts = np.concatenate([[0], change + 1])
        run_vals = v[starts]
        run_lens = np.diff(np.concatenate([starts, [v.size]]))
        vals_pay, _ = varint.encode(zigzag(run_vals))
        lens_pay, _ = varint.encode(run_lens.astype(np.uint64))
        return pack_sections([vals_pay, lens_pay]), {"runs": str(len(run_vals))}

    def runs(self, payload: bytes, params: dict) -> tuple[np.ndarray, np.ndarray]:
        """-> (run values int64, run lengths int64); every run is non-empty."""
        runs = int(params["runs"])
        vals_pay, lens_pay = unpack_sections(payload)
        run_vals = unzigzag(varint.decode(vals_pay, count=runs, width=64))
        return run_vals, varint.decode(lens_pay, count=runs, width=64).astype(np.int64)

    def decode(self, payload: bytes, params: dict, n: int) -> np.ndarray:
        return np.repeat(*self.runs(payload, params))


class Raw64:
    """8-byte little-endian fallback (no compression)."""

    name = "raw64"

    def encode(self, arr: np.ndarray) -> tuple[bytes, dict]:
        return _to_i64(arr).astype("<i8").tobytes(), {}

    def decode(self, payload: bytes, params: dict, n: int) -> np.ndarray:
        return np.frombuffer(payload, dtype="<i8").astype(np.int64)[:n]


INT_CODECS = {
    c.name: c
    for c in [
        VarintU64(),
        VarintZigZag(),
        DeltaZigZagVarint(),
        DeltaZigZagBitpack(),
        ForBitpack(),
        RleVarint(),
        Raw64(),
    ]
}
