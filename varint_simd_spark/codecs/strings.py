"""String/binary-column codecs — zero-copy Arrow-buffer representation.

Internal unit: ``(blob, offs)`` — the Arrow large-string layout itself
(``blob``: np.uint8 of all bytes concatenated; ``offs``: np.int64 of n+1
offsets).  Values never materialize as Python objects: codecs read the
buffers Spark already ships across the JVM boundary (Arrow IPC), so the
whole string path is per-row-Python-free (input_hint requirement).

All payload framing uses the reference varint wire format (offset/length
streams are the north rule's "offset columns").  Dict / RLE / FSST are
engine extensions absent from the reference (SURVEY.md §2.1 provenance).

A thin list[bytes] adapter (encode/decode) remains for kernel-level tests.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ..kernels import varint
from .container import pack_sections, unpack_sections

_ESCAPE = 255  # FSST escape code (code 255 = next byte is a literal)

BO = tuple[np.ndarray, np.ndarray]  # (blob uint8, offs int64[n+1])


# --------------------------------------------------------------------------
# (blob, offs) <-> pyarrow / list[bytes] conversion helpers


def arrow_to_bo(arr: pa.Array) -> BO:
    """Zero-copy view of a large_string/large_binary array's buffers."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if pa.types.is_string(arr.type) or pa.types.is_binary(arr.type):
        arr = arr.cast(pa.large_binary() if pa.types.is_binary(arr.type) else pa.large_string())
    bufs = arr.buffers()
    n = len(arr)
    offs = np.frombuffer(bufs[1], dtype=np.int64)[arr.offset : arr.offset + n + 1]
    blob = np.frombuffer(bufs[2], dtype=np.uint8)[offs[0] : offs[-1]] if bufs[2] is not None else np.zeros(0, np.uint8)
    if offs[0] != 0:
        offs = offs - offs[0]
    return blob, offs.astype(np.int64, copy=False)


def bo_to_arrow(bo: BO, binary: bool = False, small: bool = False) -> pa.Array:
    """(blob, offs) -> Arrow array.  ``small=True`` emits 32-bit-offset
    string/binary directly when the blob fits (< 2 GiB) — Spark's expected
    type, avoiding a later cast copy."""
    blob, offs = bo
    n = len(offs) - 1
    # pa.py_buffer wraps the numpy buffers zero-copy (it keeps a reference);
    # decode outputs are freshly allocated and never mutated afterwards
    if small and (offs.size == 0 or offs[-1] < (1 << 31)):
        typ = pa.binary() if binary else pa.string()
        off_buf = pa.py_buffer(np.ascontiguousarray(offs, dtype=np.int32))
    else:
        typ = pa.large_binary() if binary else pa.large_string()
        off_buf = pa.py_buffer(np.ascontiguousarray(offs))
    return pa.Array.from_buffers(
        typ,
        n,
        [None, off_buf, pa.py_buffer(np.ascontiguousarray(blob))],
    )


def list_to_bo(values: list[bytes]) -> BO:
    lens = np.fromiter((len(v) for v in values), dtype=np.int64, count=len(values))
    offs = np.concatenate([[0], np.cumsum(lens)]).astype(np.int64)
    blob = np.frombuffer(b"".join(values), dtype=np.uint8)
    return blob, offs


def bo_to_list(bo: BO) -> list[bytes]:
    blob, offs = bo
    b = blob.tobytes()
    return [b[offs[i] : offs[i + 1]] for i in range(len(offs) - 1)]


def _gather_values(blob: np.ndarray, offs: np.ndarray, idx: np.ndarray) -> BO:
    """Vectorized take: output = values[idx] as a fresh (blob, offs)."""
    lens = np.diff(offs)
    out_lens = lens[idx]
    out_offs = np.concatenate([[0], np.cumsum(out_lens)]).astype(np.int64)
    total = int(out_offs[-1])
    if total == 0:
        return np.zeros(0, np.uint8), out_offs
    src_start = np.repeat(offs[idx], out_lens)
    pos = np.arange(total, dtype=np.int64) - np.repeat(out_offs[:-1], out_lens)
    return blob[src_start + pos], out_offs


def _dict_encode_bo(bo: BO) -> tuple[np.ndarray, BO]:
    """-> (codes int64[n], dictionary as BO) via Arrow's C++ hash kernel."""
    arr = bo_to_arrow(bo, binary=True)
    d = pc.dictionary_encode(arr)
    codes = d.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    dict_bo = arrow_to_bo(d.dictionary)
    return codes, dict_bo


# --------------------------------------------------------------------------


def _lens(pay, count: int) -> np.ndarray:
    """A varint stream of ``count`` lengths/indices as int64."""
    return varint.decode(pay, count=count, width=64).astype(np.int64)


def _offsets(lens: np.ndarray) -> np.ndarray:
    return np.concatenate([[0], np.cumsum(lens)]).astype(np.int64)


# Every string codec reads its payload through one parser and answers
# three questions from it: ``decode_bo(payload, params, n)`` (all values),
# ``decode_bo(..., idx)`` (``values[idx]``, idx ascending, at a cost that
# tracks the selected bytes) and ``value_bytes`` (the decoded byte total,
# without building the values).


class RawStr:
    """varint length stream + concatenated bytes (offset-column framing)."""

    name = "raw_str"

    def encode_bo(self, bo: BO, cache: dict | None = None) -> tuple[bytes, dict]:
        blob, offs = bo
        lens_pay, _ = varint.encode(np.diff(offs).astype(np.uint64))
        return pack_sections([lens_pay, blob.tobytes()]), {}

    def decode_bo(self, payload: bytes, params: dict, n: int, idx: np.ndarray | None = None) -> BO:
        lens_pay, blob = unpack_sections(payload)
        blob, offs = np.frombuffer(blob, dtype=np.uint8), _offsets(_lens(lens_pay, n))
        return (blob, offs) if idx is None else _gather_values(blob, offs, idx)

    def value_bytes(self, payload: bytes, params: dict, n: int) -> int:
        return len(unpack_sections(payload)[1])


class DictStr:
    """Dictionary encoding: unique values + varint index stream.
    Per-chunk local dictionary (no global shuffle — SURVEY.md §2.1)."""

    name = "dict_str"

    def encode_bo(self, bo: BO, cache: dict | None = None) -> tuple[bytes, dict]:
        # the codec chooser already dictionary-encoded this chunk to count
        # distincts — reuse its result instead of re-hashing the column
        codes, (dblob, doffs) = (cache or {}).get("dict") or _dict_encode_bo(bo)
        dlens_pay, _ = varint.encode(np.diff(doffs).astype(np.uint64))
        idx_pay, _ = varint.encode(codes.astype(np.uint64))
        return (
            pack_sections([dlens_pay, dblob.tobytes(), idx_pay]),
            {"dict_n": str(len(doffs) - 1)},
        )

    def _parse(self, payload, params: dict, n: int):
        """-> (dictionary bytes, dictionary value lengths, row codes)."""
        dlens_pay, dblob, idx_pay = unpack_sections(payload)
        dlens = _lens(dlens_pay, int(params["dict_n"]))
        return np.frombuffer(dblob, dtype=np.uint8), dlens, _lens(idx_pay, n)

    def decode_bo(self, payload: bytes, params: dict, n: int, idx: np.ndarray | None = None) -> BO:
        """The index stream decodes whole; dictionary values are gathered
        for the selected rows alone."""
        dblob, dlens, codes = self._parse(payload, params, n)
        return _gather_values(dblob, _offsets(dlens), codes if idx is None else codes[idx])

    def value_bytes(self, payload: bytes, params: dict, n: int) -> int:
        _, dlens, codes = self._parse(payload, params, n)
        return int(dlens[codes].sum())


class RleStr:
    """Run-length encoding for sorted/low-churn string columns:
    run values (raw framing) + run lengths (varint)."""

    name = "rle_str"

    def encode_bo(self, bo: BO, cache: dict | None = None) -> tuple[bytes, dict]:
        blob, offs = bo
        n = len(offs) - 1
        if n == 0:
            return pack_sections([b"", b"", b""]), {"runs": "0"}
        codes, (dblob, doffs) = (cache or {}).get("dict") or _dict_encode_bo(bo)
        starts = np.concatenate([[0], np.flatnonzero(codes[1:] != codes[:-1]) + 1])
        run_lens = np.diff(np.concatenate([starts, [n]])).astype(np.uint64)
        rblob, roffs = _gather_values(blob, offs, starts)
        rlens_pay, _ = varint.encode(np.diff(roffs).astype(np.uint64))
        rl_pay, _ = varint.encode(run_lens)
        return (
            pack_sections([rlens_pay, rblob.tobytes(), rl_pay]),
            {"runs": str(len(starts))},
        )

    def _parse(self, payload, params: dict):
        """-> (run values' bytes, run value lengths, run lengths)."""
        runs = int(params["runs"])
        rlens_pay, rblob, rl_pay = unpack_sections(payload)
        return np.frombuffer(rblob, dtype=np.uint8), _lens(rlens_pay, runs), _lens(rl_pay, runs)

    def decode_bo(self, payload: bytes, params: dict, n: int, idx: np.ndarray | None = None) -> BO:
        """A selected row finds its run by a searchsorted over the
        run-length prefix sums."""
        rblob, rlens, run_lens = self._parse(payload, params)
        if idx is None:
            run_of_row = np.repeat(np.arange(run_lens.size, dtype=np.int64), run_lens)
        else:
            run_of_row = np.searchsorted(np.cumsum(run_lens), np.asarray(idx), side="right")
        return _gather_values(rblob, _offsets(rlens), run_of_row)

    def value_bytes(self, payload: bytes, params: dict, n: int) -> int:
        _, rlens, run_lens = self._parse(payload, params)
        return int(rlens @ run_lens)


_HBITS = 12  # 4096 hash slots for the len>=3 symbol map (255 symbols max)
_HMUL = np.uint64(2654435761)  # Knuth multiplicative hash (uint32 constant)
# byte-length -> low-bits mask for an LE-packed uint64 symbol value
_LEN_MASK = np.array([(1 << (8 * L)) - 1 for L in range(9)], dtype=np.uint64)


def _hash3(prefix3: np.ndarray) -> np.ndarray:
    """Hash the first-3-bytes prefix (uint64, overwritten) into a table
    slot index (an intp view of it): the top _HBITS bits of the uint32
    wrap-around product ``prefix3 * _HMUL``.  The product fits in 56 bits,
    so those are bits 20-31 of the uint64 product — no cast needed."""
    prefix3 *= _HMUL
    prefix3 >>= np.uint64(32 - _HBITS)
    prefix3 &= np.uint64((1 << _HBITS) - 1)
    return prefix3.view(np.intp)


class _SymbolTable:
    """Up to 255 symbols of 1-8 bytes (code 255 = escape), with the three
    matching structures real FSST uses: a one-slot hash map keyed on the
    first 3 bytes for len>=3 symbols (build-time collision resolution by
    gain), a 64K LUT for 2-byte symbols, a 256 LUT for 1-byte symbols.
    The last two are stored combined, as one 64K LUT keyed on the 2-byte
    prefix (``lut21``), next to the 1-byte LUT (``one``)."""

    __slots__ = ("n", "lens", "vals", "hmeta", "hshift", "hvs", "one", "lut21")

    def __init__(self, cand_vals: np.ndarray, cand_lens: np.ndarray, gains: np.ndarray):
        # greedy acceptance in descending gain over the top 4096
        # candidates: a 1-2-byte symbol is always accepted, a 3-8-byte one
        # only if no higher-gain 3-8-byte candidate took its hash slot; the
        # first 255 accepted get codes 0..254 in that order
        order = np.argsort(gains)[::-1][:4096]
        lens, vals = cand_lens[order], cand_vals[order]
        long_ = np.flatnonzero(lens >= 3)
        # uint16 slots: np.unique's stable argsort is a radix sort on them
        slot = _hash3(vals[long_] & np.uint64(0xFFFFFF)).astype(np.uint16)
        keep = lens < 3
        keep[long_[np.unique(slot, return_index=True)[1]]] = True
        acc = np.flatnonzero(keep)[:255]
        lens, vals = lens[acc], vals[acc]
        self.n = n = acc.size
        codes = np.arange(n, dtype=np.uint8)
        self.lens = np.ones(256, dtype=np.uint8)
        self.lens[:n] = lens
        self.vals = np.zeros(256, dtype=np.uint64)
        self.vals[:n] = vals
        is1, is2, isl = lens == 1, lens == 2, lens >= 3
        self.one = np.full(256, 0xFF, dtype=np.uint8)
        self.one[vals[is1]] = codes[is1]
        # the 2- and 1-byte lookups folded into one 64K LUT keyed on the
        # 2-byte prefix: (len | code<<8) of the 2-byte symbol if there is
        # one, else of the 1-byte symbol (or escape) for the first byte
        self.lut21 = np.tile(self.one.astype(np.uint16) << np.uint16(8) | np.uint16(1), 256)
        self.lut21[vals[is2]] = codes[is2].astype(np.uint16) << np.uint16(8) | np.uint16(2)
        hslot = _hash3(vals[isl] & np.uint64(0xFFFFFF))
        # packed (len | code<<8) per hash slot, one uint16 gather at match
        # time.  Empty slots hold len 255, which no avail (capped by
        # WINDOW < 255) reaches, so no separate occupancy test is needed.
        self.hmeta = np.full(1 << _HBITS, 255, dtype=np.uint16)
        self.hmeta[hslot] = lens[isl] | (codes[isl].astype(np.uint16) << np.uint16(8))
        # per-slot left shift that drops a word's bytes past the symbol,
        # and the slot's symbol pre-shifted to match: (w << hshift) == hvs
        # replaces a mask gather and an AND per position.  Empty slots
        # shift 0 and hold 0; the avail test rejects them.
        self.hshift = np.zeros(1 << _HBITS, dtype=np.uint64)
        self.hshift[hslot] = (8 - lens[isl].astype(np.uint64)) * np.uint64(8)
        self.hvs = np.zeros(1 << _HBITS, dtype=np.uint64)
        self.hvs[hslot] = vals[isl] << self.hshift[hslot]

    def match_all(self, words: np.ndarray, avail: np.ndarray) -> np.ndarray:
        """Longest match at every position of a block -> packed
        ``mlen | code << 8`` (uint16; code 0xFF = escape, mlen 1).

        ``words[i]`` is the little-endian 8-byte window starting at block
        position i (uint64, contiguous; overwritten here), ``avail[i]`` the
        bytes left in i's parse window (uint8, 1..WINDOW).  One hash probe
        on the first 3 bytes finds the only 3-8-byte symbol that can match:
        the slot's packed length/code, its per-slot shift and its
        pre-shifted value.  One take from the combined 2-/1-byte LUT gives
        the fallback, and a hash hit wins.  The LUT assumes a second byte,
        so the sparse avail == 1 positions (window ends) are redone from
        the 1-byte LUT alone.

        Every operand is a contiguous pass over the block and the tables
        (4K slots, 64K LUT) stay cache-resident, so the unconditional
        gathers are cheap; the caller sizes blocks so the per-position
        temporaries stay in L2.  The hash and the LUT key are computed in
        uint64, so they index the tables without a cast; selection is
        branchless uint16 blending ``x ^= (x ^ y) & mask`` (np.where
        measured ~10x slower); every LUT access is ``np.take(...,
        mode='clip')`` (3.6x faster than fancy indexing)."""
        key = words & np.uint64(0xFFFF)
        cm = np.take(self.lut21, key.view(np.intp), mode="clip")
        end = np.flatnonzero(avail == 1)
        if end.size:
            first = np.take(self.one, words.view(np.uint8)[::8][end])
            cm[end] = first.astype(np.uint16) << np.uint16(8) | np.uint16(1)
        hi = _hash3(np.bitwise_and(words, np.uint64(0xFFFFFF), out=key))
        meta = np.take(self.hmeta, hi, mode="clip")
        words <<= np.take(self.hshift, hi, mode="clip")
        hit = words == np.take(self.hvs, hi, mode="clip")
        hit &= avail >= meta.view(np.uint8)[::2]
        cm ^= (cm ^ meta) & np.negative(hit.view(np.uint8), dtype=np.uint16)
        return cm


class FsstStr:
    """True FSST per-chunk symbol-table compression (Boncz/Neumann/Leis,
    VLDB 2020): up to 255 symbols of 1-8 bytes trained by iterative
    gain-maximization over a sample, single-pass longest-match encoding,
    escape code 255 for uncovered bytes.  Vectorized whole-column: the
    inherently sequential longest-match parse runs as a bounded lockstep
    walk over fixed WINDOW-byte parse windows (matches never cross a window
    or value boundary, so all windows advance in parallel, <=WINDOW rounds
    over a geometrically shrinking live set).
    Decode is one table-driven scatter.  Compressed per-value lengths keep
    random access.  Replaces the round-2 digram-stacking approximation.

    Encode works at two sizes.  A tile (``TILE_BYTES``, whole values)
    bounds the memory of the walk and the emit and the number of walk
    rounds per numpy call.  Inside a tile, the match pass runs over blocks
    of ``MATCH_BLOCK`` bytes: it makes ~20 passes over 1-8-byte-per-position
    temporaries, and at 64 KB per block they stay in a 2 MB L2.  On a
    Sapphire Rapids-class Xeon core (2 MB L2) the match pass over a 512 KB
    web-html tile costs 21 ns/byte in one piece and 9.6 ns/byte in 64 KB
    blocks."""

    name = "fsst"

    TRAIN_ITERS = 5  # the paper's iteration count; symbol length ~doubles/iter
    SAMPLE_BYTES = 1 << 16
    # growing training sample (the paper's trick): iteration i parses only
    # the first TRAIN_INIT<<i sample bytes — early iterations (short, noisy
    # symbols) are cheap, only the last sees the full sample.  Halves
    # train cost at unchanged ratio; matters because hash-chunked encode
    # trains per (chunk x string column).
    TRAIN_INIT = 1 << 13
    # Parse window: longest-match parsing is sequential (the next start
    # depends on the previous match length), so cap matches at 128-byte
    # in-value boundaries — every window then parses independently and all
    # windows advance in vectorized lockstep (<= WINDOW rounds over a
    # geometrically shrinking live set).  Any valid non-overlapping parse
    # decodes identically; 128 measured best on the synthetic web corpus
    # (ratio 0.28 vs 0.36 at window 16; larger also = fewer truncated
    # matches = fewer tokens = faster; 240 measured best with the match-all
    # parse).  Must stay < 255: match_all keeps avail in uint8 and relies
    # on the empty-slot length sentinel (255) exceeding every avail.
    WINDOW = 240
    # Tile: whole values, bounds walk/emit memory and rounds.  ~L2-sized
    # tiles keep multi-core scaling off the shared memory bus (same sizing
    # rationale as round 2's digram codec); 2^19 measured best for encode
    # with the match-all parse (fewer per-tile fixed costs), within noise
    # for decode.
    TILE_BYTES = 1 << 19
    # Match block: the slice of a tile one match_all call covers.  Its
    # uint64 temporaries (8 B/position, three live at once) fit a 2 MB L2
    # at 2^16.  Single-core FSST encode of the web corpus: 2^14-2^17
    # within noise of each other, one block per tile (2^19) 1.4x slower.
    MATCH_BLOCK = 1 << 16

    # ---- vectorized longest-match compression ---------------------------

    def _window_bounds(self, offs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Parse-window [start, end) pairs: each value is tiled by WINDOW."""
        lens = np.diff(offs)
        nw = -(-lens // self.WINDOW)
        nz = nw > 0
        nwz = nw[nz]
        total = int(nwz.sum())
        if total == 0:
            return np.zeros(0, np.int64), np.zeros(0, np.int64)
        grp0 = np.concatenate([[0], np.cumsum(nwz)[:-1]])
        within = np.arange(total, dtype=np.int64) - np.repeat(grp0, nwz)
        wstart = np.repeat(offs[:-1][nz], nwz) + within * self.WINDOW
        wend = np.minimum(wstart + self.WINDOW, np.repeat(offs[1:][nz], nwz))
        return wstart, wend

    def _parse_match(self, blob, wstart, wend, table: _SymbolTable, n: int):
        """Lockstep greedy parse: the longest match is precomputed at EVERY
        byte position (match_all, one MATCH_BLOCK at a time), then every
        window walks its own chain of matches simultaneously — the walk
        itself is 4 cheap ops per round over a compacted live set,
        collecting the visited positions per round (one final sort beats a
        bool scatter + flatnonzero).  -> (pos int[*] ascending token starts,
        code uint8[n], mlen uint8[n]), the latter two read at ``pos`` only."""
        if n == 0 or wstart.size == 0:
            return np.empty(0, np.int64), np.empty(0, np.uint8), np.empty(0, np.uint8)
        # int32 cursors halve walk bandwidth (a tile is always < 2 GiB)
        it = np.int32 if n < (1 << 31) else np.int64
        cur = wstart.astype(it)
        end = wend.astype(it)
        # avail = window end - position, computed mod 256 (exact: it is
        # 1..WINDOW) from each byte's window end (windows tile the values
        # exactly) and a ramp of positions mod 256
        end8 = np.repeat(end.astype(np.uint8), end - cur)
        ramp = np.arange(min(n, self.MATCH_BLOCK) + 256).astype(np.uint8)
        # one zero-padded copy of the tile; each block's 8-byte windows are
        # a strided little-endian uint64 view of it (an in-memory detail:
        # the wire format stores symbol bytes, not words)
        pad = np.zeros(-(-(n + 8) // 8) * 8, dtype=np.uint8)
        pad[:n] = blob
        win = np.lib.stride_tricks.as_strided(pad.view(np.uint64), shape=(n,), strides=(1,))
        cm = np.empty(n, dtype=np.uint16)
        for a in range(0, n, self.MATCH_BLOCK):
            b = min(a + self.MATCH_BLOCK, n)
            avail = end8[a:b] - ramp[a & 255 : (a & 255) + b - a]
            cm[a:b] = table.match_all(win[a:b].copy(), avail)
        codearr, mlenarr = cm.view(np.uint8)[1::2], cm.view(np.uint8)[::2]
        rounds = []
        while cur.size:
            rounds.append(cur)
            cur = cur + mlenarr[cur]
            keep = cur < end
            cur = cur[keep]
            end = end[keep]
        pos = np.sort(np.concatenate(rounds)) if len(rounds) > 1 else rounds[0]
        return pos, codearr, mlenarr

    def _emit(self, blob, offs, code, pos) -> BO:
        c = code[pos]
        esc = c == _ESCAPE
        # 1 output byte per token, 2 for escapes.  int32 offsets for any
        # normal tile; a single value can exceed the tile budget (tiles
        # never split values), so guard the >=1 GiB-value case back to
        # int64 — output is at most 2 bytes per token
        ot = np.int32 if pos.size < (1 << 30) else np.int64
        ocum = np.empty(pos.size + 1, dtype=ot)
        ocum[0] = 0
        np.cumsum(esc.view(np.uint8) + np.uint8(1), dtype=ot, out=ocum[1:])
        out = np.empty(int(ocum[-1]), dtype=np.uint8)
        # every token's code (an escape's code is the escape byte itself),
        # then each escape's literal right after it
        out[ocum[:-1]] = c
        e = np.flatnonzero(esc)
        out[ocum[e] + 1] = blob[pos[e]]
        k = np.searchsorted(pos, offs)
        comp_lens = ocum[k[1:]] - ocum[k[:-1]]
        return out, comp_lens.astype(np.int64)

    def _compress(self, blob, offs, table: _SymbolTable) -> BO:
        if blob.size == 0:
            return np.zeros(0, np.uint8), np.zeros(offs.size - 1, np.int64)
        wstart, wend = self._window_bounds(offs)
        pos, codearr, _ = self._parse_match(blob, wstart, wend, table, blob.size)
        return self._emit(blob, offs, codearr, pos)

    # ---- training (iterative gain-maximization over a sample) -----------

    def train(self, blob: np.ndarray, offs: np.ndarray) -> _SymbolTable:
        """A symbol table for the values ``(blob, offs)``; ``encode_bo``
        takes one through ``cache`` to share it across fragments."""
        if blob.size <= self.SAMPLE_BYTES:
            sblob, soffs = blob, offs
        else:
            e = min(max(1, int(np.searchsorted(offs, self.SAMPLE_BYTES))), offs.size - 1)
            sblob, soffs = blob[: offs[e]], offs[: e + 1]
        empty = np.zeros(0, np.uint64), np.zeros(0, np.uint8), np.zeros(0, np.int64)
        table = _SymbolTable(*empty)
        if sblob.size == 0:
            return table
        vid = np.repeat(np.arange(soffs.size - 1), np.diff(soffs))
        for it in range(self.TRAIN_ITERS):
            # growing sample: whole values covering the first TRAIN_INIT<<it
            # bytes
            lim = min(sblob.size, self.TRAIN_INIT << it)
            e = min(max(1, int(np.searchsorted(soffs, lim))), soffs.size - 1)
            po = soffs[: e + 1]
            ni = int(po[-1])
            if table.n == 0:
                # nothing to match: every byte is an escape token
                pos = np.arange(ni)
                tlen = np.ones(ni, dtype=np.uint8)
                tval = sblob[:ni].astype(np.uint64)
            else:
                wstart, wend = self._window_bounds(po)
                pos, codearr, mlenarr = self._parse_match(sblob[:ni], wstart, wend, table, ni)
                c = codearr[pos]
                esc = c == _ESCAPE
                tlen = np.where(esc, np.uint8(1), mlenarr[pos])
                tval = np.where(esc, sblob[pos].astype(np.uint64), table.vals[c])
            # candidate pool: every emitted token + concatenations of
            # adjacent tokens within the same value, truncated to 8 bytes
            pv = vid[pos]
            pair = np.flatnonzero((pv[1:] == pv[:-1]) & (tlen[:-1] < 8))
            l1 = tlen[pair]
            nlen = np.minimum(l1 + tlen[pair + 1], np.uint8(8))
            nval = (tval[pair] | (tval[pair + 1] << (np.uint64(8) * l1))) & _LEN_MASK[nlen]
            cvals = np.concatenate([tval, nval])
            clens = np.concatenate([tlen, nlen])
            # distinct (len, val) in (len, val) order with their counts: one
            # uint64 key len<<56 | val for 1-7 bytes, 8-byte symbols after
            short = clens < 8
            keys = (clens[short].astype(np.uint64) << np.uint64(56)) | cvals[short]
            ks, kc = np.unique(keys, return_counts=True)
            vs8, vc8 = np.unique(cvals[~short], return_counts=True)
            sl = np.concatenate([(ks >> np.uint64(56)).astype(np.uint8), np.full(vs8.size, 8, np.uint8)])
            sv = np.concatenate([ks & np.uint64((1 << 56) - 1), vs8])
            gains = np.concatenate([kc, vc8]) * sl
            table = _SymbolTable(sv, sl, gains)
        return table

    # ---- wire format -----------------------------------------------------

    def encode_bo(self, bo: BO, cache: dict | None = None) -> tuple[bytes, dict]:
        blob, offs = bo
        n_vals = offs.size - 1
        # a caller encoding MANY small fragments of one distribution (e.g.
        # the bucketed per-partition encode) trains once and shares the
        # table via cache — training dominates tiny-fragment encode cost.
        # ``fsst_table_fn`` is the lazy form: a memoizing thunk trained on
        # first fsst use, so partitions whose auto-chosen codec is not fsst
        # never pay training.  The table is persisted per payload either
        # way, so decode is unaffected and fragments stay self-describing.
        cache = cache or {}
        table = cache.get("fsst_table")
        if table is None:
            fn = cache.get("fsst_table_fn")
            table = fn() if fn is not None else self.train(blob, offs)
        nsym = table.n
        sym_lens = table.lens[:nsym]
        bytes8 = (
            table.vals[:nsym, None] >> (np.uint64(8) * np.arange(8, dtype=np.uint64))[None, :]
        ).astype(np.uint8)
        sym_blob = bytes8[np.arange(8)[None, :] < sym_lens[:, None]]
        nb = int(offs[-1]) if offs.size else 0
        if nb <= self.TILE_BYTES or n_vals < 2:
            out, comp_lens = self._compress(blob, offs, table)
        else:
            cuts = [0]
            while cuts[-1] < n_vals:
                nxt = int(np.searchsorted(offs, offs[cuts[-1]] + self.TILE_BYTES))
                cuts.append(min(max(nxt, cuts[-1] + 1), n_vals))
            outs, lens_parts = [], []
            for a, b in zip(cuts[:-1], cuts[1:]):
                o, cl = self._compress(blob[offs[a] : offs[b]], offs[a : b + 1] - offs[a], table)
                outs.append(o)
                lens_parts.append(cl)
            out = np.concatenate(outs)
            comp_lens = np.concatenate(lens_parts)
        clens_pay, _ = varint.encode(comp_lens.astype(np.uint64))
        return (
            pack_sections([sym_lens.tobytes(), sym_blob.tobytes(), clens_pay, out.tobytes()]),
            {"nsym": str(nsym)},
        )

    def _parse(self, payload: bytes, params: dict, n: int):
        """Wire-format header parse -> (sym_len, sym_bytes, comp_lens,
        codes_all)."""
        if "nsym" not in params:
            # the pre-true-FSST wire format (params 'pairs'/'singles'/
            # 'rounds', big-endian digram tables) is not decodable by this
            # build — fail with a clear error instead of a numpy shape error
            raise ValueError(
                "unsupported legacy fsst payload (params "
                f"{sorted(params)}): stores written by the digram-stacking "
                "codec must be re-encoded with this build"
            )
        sym_lens_b, sym_blob_b, clens_pay, codes_b = unpack_sections(payload)[:4]
        nsym = len(sym_lens_b)
        sym_len = np.ones(256, dtype=np.uint8)
        sym_bytes = np.zeros((256, 8), dtype=np.uint8)
        if nsym:
            sl = np.frombuffer(sym_lens_b, dtype=np.uint8)
            sym_len[:nsym] = sl
            sb = np.frombuffer(sym_blob_b, dtype=np.uint8)
            so = np.concatenate([[0], np.cumsum(sl, dtype=np.int64)])
            rows = np.repeat(np.arange(nsym), sl)
            cols = np.arange(sb.size) - np.repeat(so[:-1], sl)
            sym_bytes[rows, cols] = sb
        codes_all = np.frombuffer(codes_b, dtype=np.uint8)
        return sym_len, sym_bytes, _lens(clens_pay, n), codes_all

    def decode_bo(self, payload: bytes, params: dict, n: int, idx: np.ndarray | None = None) -> BO:
        """With ``idx``, the per-value compressed lengths locate each
        selected value's code stream, so decode cost is proportional to
        the SELECTED bytes, not the chunk — the engine's filter-pushdown
        decode reads 10x less at 10% selectivity."""
        sym_len, sym_bytes, comp_lens, codes_all = self._parse(payload, params, n)
        if idx is not None:
            sub_codes, sub_offs = _gather_values(codes_all, _offsets(comp_lens), idx)
            return self._decode_block(sub_codes, np.diff(sub_offs), sym_len, sym_bytes)
        if codes_all.size > self.TILE_BYTES and n >= 2:
            # cache-blocked decode: tile at value boundaries (escape pairs
            # never cross values — a value's code stream is self-contained)
            comp_offs_all = _offsets(comp_lens)
            cuts = [0]
            while cuts[-1] < n:
                nxt = int(np.searchsorted(comp_offs_all, comp_offs_all[cuts[-1]] + self.TILE_BYTES))
                cuts.append(min(max(nxt, cuts[-1] + 1), n))
            blobs, offs_parts, base = [], [], 0
            for a, b in zip(cuts[:-1], cuts[1:]):
                t_blob, t_offs = self._decode_block(
                    codes_all[comp_offs_all[a] : comp_offs_all[b]],
                    comp_lens[a:b], sym_len, sym_bytes,
                )
                blobs.append(t_blob)
                offs_parts.append(t_offs[1:] + base)
                base += int(t_offs[-1])
            return np.concatenate(blobs), np.concatenate([[0], *offs_parts]).astype(np.int64)
        return self._decode_block(codes_all, comp_lens, sym_len, sym_bytes)

    def value_bytes(self, payload: bytes, params: dict, n: int) -> int:
        """Per-token output lengths summed; no output gather."""
        sym_len, _, _, codes_all = self._parse(payload, params, n)
        return int(_token_lens(codes_all, sym_len)[0].sum())

    def _decode_block(self, codes, comp_lens, sym_len, sym_bytes) -> BO:
        """One repeat+gather pass: out[k] = sym_flat[code_of_token(k)*8 +
        offset_within_token(k)].  Replaces the per-length scatter loop
        (was >50% of decode wall — per-round fancy-index gathers); the
        single np.take over the flattened symbol table runs ~5x faster."""
        nb = codes.size
        off_t = np.int32 if nb * 8 < (1 << 31) else np.int64
        lens8, esc = _token_lens(codes, sym_len)
        out_offs = np.empty(nb + 1, dtype=off_t)
        out_offs[0] = 0
        np.cumsum(lens8, dtype=off_t, out=out_offs[1:])
        total = int(out_offs[-1])
        base = out_offs[:-1]
        # flat gather index: token's symbol row (code*8) + offset inside it.
        # ONE repeat of the combined per-token delta (code*8 - base) plus
        # the global arange — folding the second repeat (of `base`) into
        # the first measured ~1.45x faster on the web corpus (the repeat
        # machinery, not the take, dominates this expansion)
        d = np.left_shift(codes.astype(off_t), 3)
        d -= base
        rows = np.repeat(d, lens8)
        rows += np.arange(total, dtype=off_t)
        out = np.take(sym_bytes.reshape(-1), rows, mode="clip")
        if esc.size:
            # escape tokens gathered row 255 (zeros); overwrite with literals
            tev = esc[esc + 1 < nb]
            out[base[tev]] = codes[tev + 1]
        return out, out_offs[_offsets(comp_lens)].astype(np.int64)


def _token_lens(codes: np.ndarray, sym_len: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """FSST's escape-parity rule: -> (decoded bytes per code byte (uint8),
    positions of the true escape codes).  Codes are 0..254, so a 0xFF byte
    is an escape unless it is the literal consumed by the escape right
    before it: a run of 0xFF bytes alternates escape/literal (parity within
    the run, computed over escape positions only).  An escape emits exactly
    its literal byte; the literal's own slot emits nothing."""
    lens8 = np.take(sym_len, codes, mode="clip")
    ep = np.flatnonzero(codes == _ESCAPE)
    if ep.size == 0:
        return lens8, ep
    run_start = np.empty(ep.size, dtype=bool)
    run_start[0] = True
    np.greater(np.diff(ep), 1, out=run_start[1:])
    first_of = ep[np.flatnonzero(run_start)][np.cumsum(run_start) - 1]
    esc = ep[((ep - first_of) & 1) == 0]
    lit = esc + 1
    lens8[esc] = 1
    lens8[lit[lit < codes.size]] = 0
    return lens8, esc


# list[bytes] adapter so kernel-level tests and small callers stay simple
for _cls in (RawStr, DictStr, RleStr, FsstStr):
    _cls.encode = lambda self, values: self.encode_bo(list_to_bo(values))
    _cls.decode = lambda self, payload, params, n: bo_to_list(self.decode_bo(payload, params, n))


STR_CODECS = {c.name: c for c in [RawStr(), DictStr(), RleStr(), FsstStr()]}
