"""Kernel and codec layers, timed in the Spark driver process on one core.

The inputs are the workload's own columns.  Each kernel call is timed
``REPS`` times and the median reported; every result is checked for
bit-identity (``np.array_equal`` on raw views) and the reference's golden
vectors are checked once per run.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow as pa

REPS = 5
KERNEL_ELEMS = 1 << 20
CODEC_ROWS = 16_384  # about one chunk column of the benchmark stores
INT_CODECS = ("varint", "varint_zz", "delta_zz_varint", "delta_zz_bitpack",
              "for_bitpack", "rle_varint")
STR_CODECS = ("raw_str", "dict_str", "fsst")
WIDTHS = {"u8": 8, "u16": 16, "u32": 32, "u64": 64}


def _median_s(fn, reps: int = REPS) -> tuple[float, object]:
    times, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


class Checks:
    """Counts attempted and failed correctness checks."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)


def _expect_raise(fn, exc) -> bool:
    try:
        fn()
    except exc:
        return True
    except Exception:
        return False
    return False


def golden_vectors(checks: Checks) -> None:
    """The reference's golden, overflow and truncation vectors."""
    from varint_simd_spark.kernels import NotEnoughBytes, Overflow, varint

    checks.check(varint.encode_single(300) == b"\xac\x02", "golden 300 -> AC 02")
    u64max = varint.encode_single(np.uint64(2**64 - 1))
    checks.check(u64max == b"\xff" * 9 + b"\x01", "golden u64::MAX -> 10 bytes")
    checks.check(varint.decode_single(u64max) == (2**64 - 1, 10), "decode u64::MAX")
    checks.check(_expect_raise(lambda: varint.decode(b"\x80" * 10 + b"\x01", count=1), Overflow),
                 "over-long varint -> Overflow")
    checks.check(_expect_raise(lambda: varint.decode(b"\xac", count=1), NotEnoughBytes),
                 "truncated varint -> NotEnoughBytes")


def _int_columns(table: pa.Table) -> list[np.ndarray]:
    from inputs import is_text, int64_view

    return [int64_view(table[c].combine_chunks()) for c in table.column_names
            if not is_text(table[c].type)]


def _text_columns(table: pa.Table) -> list[str]:
    from inputs import is_text

    return [c for c in table.column_names if is_text(table[c].type)]


def _tile(v: np.ndarray, n: int) -> np.ndarray:
    return np.resize(v, n) if v.size else np.zeros(n, v.dtype)


def kernels(table: pa.Table, key: str, checks: Checks) -> dict:
    """``kernels.*``: the varint, zigzag, length and xxh64 kernels."""
    from varint_simd_spark.codecs.strings import arrow_to_bo
    from varint_simd_spark.kernels import varint
    from varint_simd_spark.kernels.xxh64 import xxh64_bytes_bo, xxh64_int64
    from varint_simd_spark.kernels.zigzag import unzigzag, zigzag

    from inputs import int64_view

    m = {}
    base = _tile(np.concatenate(_int_columns(table)).view(np.uint64), KERNEL_ELEMS)
    # the reference's Criterion shape: one stream per value width, here the
    # workload's own integers cut to that width
    for name, bits in WIDTHS.items():
        vals = base if bits == 64 else base & np.uint64((1 << bits) - 1)
        enc_s, (payload, _) = _median_s(lambda: varint.encode(vals))
        dec_s, back = _median_s(lambda: varint.decode(payload, count=vals.size))
        checks.check(np.array_equal(back.view(np.uint8), vals.view(np.uint8)),
                     f"varint round trip {name}")
        m[f"kernels.varint.encode_melem_s.{name}"] = vals.size / enc_s / 1e6
        m[f"kernels.varint.decode_melem_s.{name}"] = vals.size / dec_s / 1e6
    signed = np.diff(base.view(np.int64))
    zz_s, zz = _median_s(lambda: zigzag(signed))
    checks.check(np.array_equal(unzigzag(zz).view(np.uint8), signed.view(np.uint8)),
                 "zigzag round trip")
    m["kernels.zigzag.melem_s"] = signed.size / zz_s / 1e6
    len_s, total = _median_s(lambda: varint.varint_len_sum(base))
    checks.check(total == len(varint.encode(base)[0]), "varint_len_sum matches encode")
    m["kernels.varint_len_sum.melem_s"] = base.size / len_s / 1e6

    # the hash kernels run on the columns the engine hashes: the chunk key,
    # or the first column of the other family when the key is not one
    text_cols = _text_columns(table)
    int_col = key if key not in text_cols else next(
        c for c in table.column_names if c not in text_cols)
    text_col = key if key in text_cols else text_cols[0]
    ints = _tile(int64_view(table[int_col].combine_chunks()), KERNEL_ELEMS)
    texts = table[text_col].combine_chunks()
    h_s, _ = _median_s(lambda: xxh64_int64(ints))
    m["kernels.xxh64_int64.melem_s"] = ints.size / h_s / 1e6
    blob, offs = arrow_to_bo(texts)
    hb_s, _ = _median_s(lambda: xxh64_bytes_bo(blob, offs))
    m["kernels.xxh64_bytes.mbps"] = (int(offs[-1]) - int(offs[0])) / hb_s / 1e6
    return m


def codecs(table: pa.Table, checks: Checks) -> tuple[dict, dict]:
    """``codecs.*``: the chooser, every codec on its column family, and the
    row-selected decode of the chooser's pick on 10% of rows."""
    from varint_simd_spark.codecs.base import (
        decode_column_arrow,
        decode_column_arrow_selected,
        encode_column_arrow,
    )
    from varint_simd_spark.codecs.choose import choose_codec_arrow

    from inputs import int64_view, is_text, raw_bytes

    sample = table.slice(0, CODEC_ROWS)
    cols = {c: sample[c].combine_chunks() for c in sample.column_names}
    raw = {c: raw_bytes(sample[c]) for c in cols}
    text = [c for c in cols if is_text(cols[c].type)]
    ints = [c for c in cols if c not in text]
    m = {}

    def same(a: pa.Array, b: pa.Array) -> bool:
        if is_text(a.type):
            return a.cast(pa.large_binary()).equals(b.cast(pa.large_binary()))
        return np.array_equal(int64_view(a).view(np.uint8), int64_view(b).view(np.uint8))

    def bench(codec: str, names: list[str]) -> None:
        enc_t = dec_t = size = total = 0
        for c in names:
            arr = cols[c]
            e_s, (tag, payload, params) = _median_s(lambda: encode_column_arrow(arr, codec), 3)
            d_s, back = _median_s(
                lambda: decode_column_arrow(tag, codec, payload, params, len(arr)), 3)
            checks.check(same(arr, back), f"codec {codec} round trip on {c}")
            enc_t, dec_t = enc_t + e_s, dec_t + d_s
            size, total = size + len(payload), total + raw[c]
        m[f"codecs.{codec}.encode_mbps"] = total / enc_t / 1e6
        m[f"codecs.{codec}.decode_mbps"] = total / dec_t / 1e6
        m[f"codecs.{codec}.ratio"] = size / total

    for codec in INT_CODECS:
        bench(codec, ints)
    for codec in STR_CODECS:
        # FSST is the text codec of the web tables; dict/raw cover every string
        bench(codec, [c for c in text if codec != "fsst" or raw[c] > 8 * len(cols[c])] or text)

    choose_s, picks = _median_s(lambda: {c: choose_codec_arrow(a)[0] for c, a in cols.items()}, 3)
    m["codecs.choose.mbps"] = sum(raw.values()) / choose_s / 1e6
    idx = np.arange(0, sample.num_rows, 10, dtype=np.int64)
    encoded = {c: encode_column_arrow(a, picks[c]) for c, a in cols.items()}

    def selected():
        return {c: decode_column_arrow_selected(t, picks[c], p, prm, len(cols[c]), idx)
                for c, (t, p, prm) in encoded.items()}

    sel_s, out = _median_s(selected, 3)
    for c, arr in out.items():
        checks.check(same(cols[c].take(pa.array(idx)), arr), f"selected decode on {c}")
    sel_bytes = sum(raw_bytes(pa.chunked_array([cols[c].take(pa.array(idx))])) for c in cols)
    m["codecs.decode_selected.mbps"] = sel_bytes / sel_s / 1e6
    return m, picks
