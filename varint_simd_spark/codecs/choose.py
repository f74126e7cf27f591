"""Codec auto-selection — the engine's per-(partition, column) "optimizer".

The reference makes the analogous choice manually at compile time (picking
the integer width type parameter, README.md:57-59); here it is automatic
and *cost-based*: for integer columns the exact encoded size of every
candidate codec is computed analytically (cheap whole-column numpy, no
trial encoding); for string columns sizes are estimated from statistics
(cardinality via Arrow's hash kernel, run count, digram compressibility on
a bounded sample) per the north rule's "sampled cardinality/run-length/
entropy statistics".

Returns (codec_name, reason, stats) so the lineage table records *why*.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ..kernels import varint
from ..kernels.zigzag import zigzag
from .base import STR_TAGS, arrow_tag, arrow_to_int64
from .strings import _dict_encode_bo, arrow_to_bo


def _int_candidate_sizes(v: np.ndarray) -> dict[str, int]:
    n = v.size
    vlen_sum = varint.varint_len_sum
    sizes: dict[str, int] = {"raw64": 8 * n}
    sizes["varint"] = vlen_sum(v.view(np.uint64))
    sizes["varint_zz"] = vlen_sum(zigzag(v))
    if n > 1:
        zz_deltas = zigzag(np.diff(v))
        sizes["delta_zz_varint"] = vlen_sum(zz_deltas) + 10
        dbits = max(1, int(zz_deltas.max()).bit_length()) if zz_deltas.size else 1
        sizes["delta_zz_bitpack"] = ((n - 1) * dbits + 7) // 8 + 24
    base = int(v.min())
    hi = int((v - base).view(np.uint64).max())
    bits = max(1, hi.bit_length())
    sizes["for_bitpack"] = (n * bits + 7) // 8 + 24
    change = np.flatnonzero(v[1:] != v[:-1]) if n > 1 else np.zeros(0, dtype=np.int64)
    starts = np.concatenate([[0], change + 1])
    run_vals = v[starts]
    run_lens = np.diff(np.concatenate([starts, [n]]))
    sizes["rle_varint"] = (
        vlen_sum(zigzag(run_vals))
        + vlen_sum(run_lens.astype(np.uint64))
        + 12
    )
    return sizes


def choose_int_codec(v: np.ndarray) -> tuple[str, str, dict]:
    if v.size == 0:
        return "varint", "empty", {}
    sizes = _int_candidate_sizes(v)
    best = min(sizes, key=sizes.get)
    stats = {f"size_{k}": s for k, s in sizes.items()}
    # the reference-encoder bound the operators record (ref_bytes) is by
    # definition the varint_zz candidate's exact size — hand it over so
    # _ref_and_raw_bytes skips its zigzag + length re-count per chunk
    stats["_cache"] = {"ref_varint_zz": sizes["varint_zz"]}
    return best, f"min-cost {sizes[best]}B", stats


def _digram_ratio(blob: np.ndarray) -> float:
    """Digram-coverage compressibility proxy on a bounded sample."""
    sample = blob[: 1 << 16]
    if sample.size <= 256:
        return 1.0
    pairs = sample[:-1].astype(np.uint32) * 256 + sample[1:]
    _, counts = np.unique(pairs, return_counts=True)
    covered = int(np.sort(counts)[::-1][:180].sum())
    return max(0.5, 1.0 - 0.5 * covered / max(1, sample.size))


def choose_str_codec_bo(blob: np.ndarray, offs: np.ndarray) -> tuple[str, str, dict]:
    n = len(offs) - 1
    if n == 0:
        return "raw_str", "empty", {}
    total = int(offs[-1])
    # bounded-prefix cardinality probe before hashing the whole column: a
    # large column whose first 4K values are mostly distinct (web text/html)
    # can never pick dict/rle, so skip the full-column Arrow hash pass
    if n > 4096 and total > (1 << 20):
        _, (_, pdoffs) = _dict_encode_bo((blob[: offs[4096]], offs[:4097]))
        if len(pdoffs) - 1 > 2048:
            est = {
                "raw_str": total + n,
                "fsst": total * max(0.20, _digram_ratio(blob) ** 2) + n + 1024,
            }
            best = min(est, key=est.get)
            stats = {f"est_{k}": int(s) for k, s in est.items()}
            stats.update({"n": n, "n_distinct": -1, "runs": -1, "total_bytes": total})
            return best, f"est {int(est[best])}B (prefix-distinct probe)", stats
    codes, (dblob, doffs) = _dict_encode_bo((blob, offs))
    n_distinct = len(doffs) - 1
    runs = 1 + int(np.count_nonzero(codes[1:] != codes[:-1])) if n > 1 else 1
    uniq_bytes = int(doffs[-1])
    digram_ratio = _digram_ratio(blob)
    avg_len = total / n
    idx_bytes = n * max(1, (max(1, n_distinct).bit_length() + 6) // 7)
    est = {
        "raw_str": total + n,
        "dict_str": uniq_bytes + n_distinct + idx_bytes,
        "rle_str": runs * (avg_len + 2) + runs,
        # true FSST (1-8 byte longest-match symbols) beats two stacked
        # digram rounds on text-like data; the digram sample statistic is
        # still the cheapest compressibility proxy (floor lowered to match
        # measured web-corpus ratios ~0.25-0.36)
        "fsst": total * max(0.20, digram_ratio**2) + n + 1024,
    }
    if n_distinct > 0.5 * n:
        est.pop("dict_str", None)
    if runs > 0.5 * n:
        est.pop("rle_str", None)
    best = min(est, key=est.get)
    stats = {f"est_{k}": int(s) for k, s in est.items()}
    stats.update({"n": n, "n_distinct": n_distinct, "runs": runs, "total_bytes": total})
    # hand the already-computed dictionary to the encoder (dict/rle reuse it)
    stats["_cache"] = {"dict": (codes, (dblob, doffs))}
    return best, f"est {int(est[best])}B", stats


def choose_codec_arrow(arr: pa.Array) -> tuple[str, str, dict]:
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    tag = arrow_tag(arr.type)
    if arr.null_count:
        arr = pc.fill_null(arr, "" if tag == "str" else b"" if tag == "bin" else 0) \
            if tag in STR_TAGS else pc.fill_null(arr, pa.scalar(0).cast(arr.type))
    if tag in STR_TAGS:
        blob, offs = arrow_to_bo(arr)
        return choose_str_codec_bo(blob, offs)
    return choose_int_codec(arrow_to_int64(arr, tag))

