"""Codec-layer round-trip tests: every codec, every dtype tag, nulls,
empties, adversarial strings — all bit-identical (north-rule invariant)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from varint_simd_spark.codecs import INT_CODECS, STR_CODECS
from varint_simd_spark.codecs.base import decode_column_arrow, encode_column_arrow
from varint_simd_spark.codecs.choose import choose_codec_arrow
from varint_simd_spark.codecs.container import pack_sections, unpack_sections

rng = np.random.default_rng(42)

INT_FIXTURES = {
    "small": np.arange(1000, dtype=np.int64),
    "negatives": rng.integers(-(10**6), 10**6, 500).astype(np.int64),
    "sorted_ts": np.cumsum(rng.integers(0, 120_000_000, 2000)).astype(np.int64),
    "back_jumps": np.cumsum(rng.integers(-5_000_000, 120_000_000, 2000)).astype(np.int64),
    "runs": np.repeat(rng.integers(0, 5, 50), rng.integers(1, 40, 50)).astype(np.int64),
    "extremes": np.array([0, -1, 1, 2**63 - 1, -(2**63), 300, -300], dtype=np.int64),
    "single": np.array([42], dtype=np.int64),
    "empty": np.zeros(0, dtype=np.int64),
    "constant": np.full(777, 123456789, dtype=np.int64),
}


@pytest.mark.parametrize("codec", list(INT_CODECS))
@pytest.mark.parametrize("fixture", list(INT_FIXTURES))
def test_int_codec_roundtrip(codec, fixture):
    v = INT_FIXTURES[fixture]
    impl = INT_CODECS[codec]
    payload, params = impl.encode(v)
    out = impl.decode(payload, params, len(v))
    np.testing.assert_array_equal(out, v)
    if codec == "rle_varint":
        # the runs the analytic aggregate reads: non-empty, repeating to
        # the column, so their sum, min and max are the column's
        run_vals, run_lens = impl.runs(payload, params)
        assert (run_lens > 0).all()
        np.testing.assert_array_equal(np.repeat(run_vals, run_lens), v)
        assert sum(int(a) * int(b) for a, b in zip(run_vals, run_lens)) == sum(map(int, v))
        if v.size:
            assert (run_vals.min(), run_vals.max()) == (v.min(), v.max())


STR_FIXTURES = {
    "plain": [b"hello", b"world", b"hello", b"spark"],
    "empty_vals": [b"", b"a", b"", b"", b"bb"],
    "unicode": ["héllo wörld".encode(), "中文测试".encode(), "🎉emoji".encode()],
    "runs": [b"en"] * 50 + [b"de"] * 30 + [b"en"] * 20,
    "binary_soup": [bytes(rng.integers(0, 256, rng.integers(0, 100))) for _ in range(50)],
    "escape_heavy": [b"\xff\xff\xff", b"a\xffb", b"\xff"],
    "long_text": [(("the quick brown fox jumps over the lazy dog " * 20).encode()) for _ in range(10)],
    "single": [b"only"],
    "empty": [],
}


@pytest.mark.parametrize("codec", list(STR_CODECS))
@pytest.mark.parametrize("fixture", list(STR_FIXTURES))
def test_str_codec_roundtrip(codec, fixture):
    vals = STR_FIXTURES[fixture]
    impl = STR_CODECS[codec]
    payload, params = impl.encode(vals)
    out = impl.decode(payload, params, len(vals))
    assert out == vals


def test_fsst_compresses_english():
    text = [("the quick brown fox jumps over the lazy dog " * 50).encode()] * 20
    payload, params = STR_CODECS["fsst"].encode(text)
    raw = sum(len(t) for t in text)
    assert len(payload) < 0.8 * raw, f"fsst ratio {len(payload)/raw:.2f}"


def test_fsst_learns_long_symbols():
    """True FSST trains multi-byte symbols (up to 8 bytes): on repetitive
    html the table must contain symbols longer than 2 bytes (the round-2
    digram codec could only reach that via layer stacking) and the ratio
    must beat what 2-byte digrams alone can achieve (>0.5 is impossible to
    beat by much with pure digrams on high-entropy fillers)."""
    from varint_simd_spark.codecs.strings import FsstStr

    text = [
        (f"<html><head><title>host{i % 7}.example.com</title></head><body>"
         f"<p>the quick brown fox jumps over the lazy dog {i}</p></body></html>").encode()
        for i in range(800)
    ]
    impl = FsstStr()
    payload, params = impl.encode(text)
    assert impl.decode(payload, params, len(text)) == text
    raw = sum(len(t) for t in text)
    assert len(payload) < 0.35 * raw, f"ratio {len(payload)/raw:.3f}"
    # inspect the persisted symbol table: section 0 = per-symbol lengths
    from varint_simd_spark.codecs.container import unpack_sections

    sym_lens = np.frombuffer(unpack_sections(payload)[0], dtype=np.uint8)
    assert int(sym_lens.max()) >= 5, f"longest symbol {sym_lens.max()}B"


def test_fsst_window_boundary_and_escape_edges():
    """Values straddling the parse window and escape-heavy bytes roundtrip:
    lengths exactly at/around WINDOW, runs of 0xFF, and high-entropy
    binary that trains an empty-ish table."""
    from varint_simd_spark.codecs.strings import FsstStr

    impl = FsstStr()
    w = impl.WINDOW
    rng = np.random.default_rng(3)
    vals = [
        b"a" * (w - 1), b"b" * w, b"c" * (w + 1), b"d" * (3 * w + 5),
        b"\xff" * (w + 3), b"x\xff" * (w // 2 + 1),
        rng.integers(0, 256, 2 * w, dtype=np.uint8).tobytes(),
        b"", b"\xff",
    ]
    payload, params = impl.encode(vals)
    assert impl.decode(payload, params, len(vals)) == vals


def test_container_roundtrip():
    secs = [b"", b"abc", bytes(range(256)), b"x" * 100000]
    assert unpack_sections(pack_sections(secs)) == secs


SERIES_FIXTURES = {
    "i64": pd.Series([1, -5, 2**40, 0], dtype=np.int64),
    "i32": pd.Series([1, -5, 1000, 0], dtype=np.int32),
    "f64": pd.Series([1.5, -0.0, float("inf"), 3.14159, float("nan")]),
    "ts": pd.Series(pd.to_datetime(["2024-10-08", "2024-10-09 12:34:56.789123", "1999-01-01"], format="mixed")),
    "str": pd.Series(["a", "bb", None, "ddd"], dtype=object),
    "bool": pd.Series([True, False, True]),
    "date": pd.Series(pd.to_datetime(["2024-10-08", "1992-01-01"]).date, dtype=object),
}


@pytest.mark.parametrize("name", list(SERIES_FIXTURES))
def test_encode_decode_column_auto(name):
    s = SERIES_FIXTURES[name]
    arr = pa.Array.from_pandas(s)
    codec, reason, _ = choose_codec_arrow(arr)
    tag, payload, params = encode_column_arrow(arr, codec)
    out = decode_column_arrow(tag, codec, payload, params, len(s))
    if name == "f64":
        # bit-identical incl. NaN / -0.0
        a = s.to_numpy(dtype=np.float64).view(np.int64)
        b = out.to_numpy(zero_copy_only=False).astype(np.float64).view(np.int64)
        np.testing.assert_array_equal(a, b)
    elif name == "str":
        assert out.to_pylist() == list(s)
    else:
        assert out.to_pylist() == list(s), f"codec={codec} reason={reason}"


def test_nulls_roundtrip_int():
    s = pd.Series([1, None, 3, None, 5], dtype="float64").astype(object)
    s = pd.Series([1, None, 3, None, 5], dtype=object).astype("object")
    s = pd.Series([1.0, None, 3.0], dtype=np.float64)
    tag, payload, params = encode_column_arrow(pa.Array.from_pandas(s), "raw64")
    out = decode_column_arrow(tag, "raw64", payload, params, len(s))
    assert out.is_null().to_pylist() == s.isna().tolist()


def test_choose_picks_sensible():
    ts = pd.Series(np.cumsum(rng.integers(0, 120, 5000)).astype("datetime64[us]"))
    codec, _, _ = choose_codec_arrow(pa.Array.from_pandas(ts))
    assert codec in ("delta_zz_varint", "delta_zz_bitpack", "for_bitpack")
    lang = pd.Series(["en"] * 900 + ["de"] * 100, dtype=object)
    codec, _, _ = choose_codec_arrow(pa.Array.from_pandas(lang))
    assert codec in ("rle_str", "dict_str")
    ids = pd.Series(rng.integers(0, 100, 5000).astype(np.int64))
    codec, _, _ = choose_codec_arrow(pa.Array.from_pandas(ids))
    assert codec in ("for_bitpack", "varint")


@settings(max_examples=60, deadline=None)
@given(st.lists(st.binary(min_size=0, max_size=60), min_size=0, max_size=60))
def test_property_fsst_roundtrip(vals):
    impl = STR_CODECS["fsst"]
    payload, params = impl.encode(vals)
    assert impl.decode(payload, params, len(vals)) == vals


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=0, max_size=80),
    st.sampled_from(list(INT_CODECS)),
)
def test_property_int_codecs(vals, codec):
    v = np.array(vals, dtype=np.int64)
    impl = INT_CODECS[codec]
    payload, params = impl.encode(v)
    np.testing.assert_array_equal(impl.decode(payload, params, len(v)), v)


def test_varint_codec_width_specialization():
    """The codec records the narrowest fitting width and the decoder
    enforces that width's overflow rules (reference monomorphization,
    src/num.rs:48-299)."""
    from varint_simd_spark.kernels.errors import Overflow

    impl = INT_CODECS["varint"]
    small = np.array([0, 100, 255], dtype=np.int64)
    payload, params = impl.encode(small)
    assert params["width"] == "8"
    np.testing.assert_array_equal(impl.decode(payload, params, 3), small)
    # a payload carrying a too-wide value under a narrow descriptor errors
    big_payload, _ = impl.encode(np.array([300], dtype=np.int64))
    with pytest.raises(Overflow):
        impl.decode(big_payload, {"width": "8"}, 1)
    for vals, w in [([65535], "16"), ([2**20], "32"), ([2**40], "64"), ([-1], "64")]:
        _, p = impl.encode(np.array(vals, dtype=np.int64))
        assert p["width"] == w, (vals, p)


# --------------------------------------------------------------------------
# row-selected decode (filter-pushdown random access)


def _mk_bo(values):
    from varint_simd_spark.codecs.strings import list_to_bo

    return list_to_bo(values)


def _selected_fixtures(codec):
    """Value lists for the unified string readers: a 300-value column
    shaped for ``codec``, n=0, all-empty and mixed-empty values, and the
    column plus a few 0xFF runs.  0xFF stays rare, so FSST's table leaves
    it out and encodes it as escape+literal pairs: runs of 2, 4 and 6
    0xFF codes, whose escape/literal alternation decode must follow."""
    rng = np.random.default_rng(5)
    vals = []
    for i in range(300):
        if codec == "rle_str":
            vals.append(b"run%d" % (i // 17))  # long runs
        elif codec == "dict_str":
            vals.append(b"dict%d" % (i % 7))
        else:
            vals.append(bytes(rng.integers(97, 123, rng.integers(0, 40), dtype=np.uint8)))
    ff = vals + [b"\xff", b"a\xff\xffb", b"\xff\xff\xff", b"xy\xff"]
    return [vals, [], [b""] * 5, [b"", b"a", b"", b"bb", b""], ff]


@pytest.mark.parametrize("codec", ["raw_str", "dict_str", "rle_str", "fsst"])
def test_str_decode_selected_matches_full(codec):
    """decode_bo(idx) must equal decode_bo()[idx], and value_bytes the
    decoded byte total, for every string codec — the contracts behind the
    filter-pushdown decode's tier 2b and the analytic aggregate."""
    from varint_simd_spark.codecs.strings import STR_CODECS, bo_to_list

    impl = STR_CODECS[codec]
    for vals in _selected_fixtures(codec):
        n = len(vals)
        payload, params = impl.encode_bo(_mk_bo(vals))
        full = bo_to_list(impl.decode_bo(payload, params, n))
        assert full == vals, codec
        assert impl.value_bytes(payload, params, n) == sum(map(len, vals)), codec
        for idx in ([], [0], [n - 1], [0, 1, 2], list(range(0, n, 7)), list(range(n))) if n else ([],):
            got = bo_to_list(impl.decode_bo(payload, params, n, np.array(idx, dtype=np.int64)))
            assert got == [full[i] for i in idx], (codec, n, idx[:5])


@pytest.mark.parametrize("codec", ["raw_str", "dict_str", "rle_str", "fsst", "rle_varint"])
def test_column_idx_decode_and_analytic_partials_with_nulls(codec):
    """Through the null bitmap: decode_column_arrow(idx) equals the full
    decode taken at idx, and the analytic aggregate partial equals the
    decoded column's null count and byte total (strings) or exact
    sum/min/max (rle_varint without nulls)."""
    from varint_simd_spark.codecs.base import decode_column_arrow, encode_column_arrow
    from varint_simd_spark.operators.encode import _agg_row_analytic

    if codec == "rle_varint":
        arrs = [
            pa.array(INT_FIXTURES["runs"]),
            pa.array(INT_FIXTURES["extremes"]),
            pa.array([3, 3, None, 4, 4], type=pa.int64()),
            pa.array([], type=pa.int64()),
        ]
    else:
        ff = _selected_fixtures("fsst")[-1]
        ff = [None if i % 5 == 0 else v for i, v in enumerate(ff)]
        arrs = [pa.array(ff, type=pa.binary()), pa.array([None, "", "x", None], type=pa.string())]
    for arr in arrs:
        n = len(arr)
        tag, payload, params = encode_column_arrow(arr, codec)
        full = decode_column_arrow(tag, codec, payload, params, n)
        assert full.to_pylist() == arr.to_pylist()
        for idx in ([], [0], list(range(0, n, 3)), list(range(n))) if n else ([],):
            idx = np.array(idx, dtype=np.int64)
            got = decode_column_arrow(tag, codec, payload, params, n, idx)
            assert got.to_pylist() == full.take(pa.array(idx)).to_pylist(), (codec, idx[:5])
        got = _agg_row_analytic(tag, codec, payload, params, n)
        if codec != "rle_varint":
            nbytes = sum(len(v) for v in arr.to_pylist() if v is not None)
            assert got == (arr.null_count, None, None, None, nbytes)
        elif arr.null_count:
            assert got is None  # null slots sit inside runs: decode instead
        else:
            vals = arr.to_pylist()
            exp = (str(sum(vals)), *((str(min(vals)), str(max(vals))) if vals else (None, None)))
            assert got == (0, *exp, None)


def test_decode_column_arrow_selected_nulls_and_ints():
    import pyarrow as pa

    from varint_simd_spark.codecs.base import (
        decode_column_arrow,
        decode_column_arrow_selected,
        encode_column_arrow,
    )

    arr = pa.array([1, None, 3, None, 5, 6, 7, None], type=pa.int64())
    tag, payload, params = encode_column_arrow(arr, "varint")
    idx = np.array([1, 2, 4, 7])
    got = decode_column_arrow_selected(tag, "varint", payload, params, len(arr), idx)
    assert got.to_pylist() == [None, 3, 5, None]
    sarr = pa.array(["a", None, "ccc", "dd", None], type=pa.string())
    tag, payload, params = encode_column_arrow(sarr, "raw_str")
    got = decode_column_arrow_selected(tag, "raw_str", payload, params, 5, np.array([0, 1, 4]))
    assert got.to_pylist() == ["a", None, None]
    full = decode_column_arrow(tag, "raw_str", payload, params, 5)
    assert full.to_pylist() == sarr.to_pylist()


def test_fsst_legacy_payload_clear_error():
    """A store written by the retired digram codec must fail with a
    descriptive error, not a numpy shape error."""
    from varint_simd_spark.codecs.strings import STR_CODECS

    with pytest.raises(ValueError, match="legacy fsst payload"):
        STR_CODECS["fsst"].decode_bo(b"\x02\x01\x01ab", {"pairs": "3", "rounds": "2"}, 1)


def test_stats_exclude_and_where_helpers():
    from varint_simd_spark.operators.encode import _apply_where, _normalize_where, _stats_exclude

    conds = _normalize_where([("x", ">=", 10), ("s", "==", "en")])
    assert _stats_exclude(conds, {"x": {"min": 0, "max": 9}})  # provably empty
    assert not _stats_exclude(conds, {"x": {"min": 0, "max": 10}})
    assert not _stats_exclude(conds, {})  # no stats -> never prune
    import pyarrow as pa

    decoded = {"x": pa.array([5, 10, 20]), "s": pa.array(["en", "en", "de"])}
    mask = _apply_where(decoded, conds)
    assert mask.to_pylist() == [False, True, False]
    # in / between
    conds2 = _normalize_where([("x", "in", [5, 20]), ("x", "between", (5, 25))])
    assert _apply_where(decoded, conds2).to_pylist() == [True, False, True]
    assert _stats_exclude(_normalize_where([("x", "in", [100, 200])]), {"x": {"min": 0, "max": 50}})
    assert not _stats_exclude(_normalize_where([("x", "in", [100, 20])]), {"x": {"min": 0, "max": 50}})
    assert _stats_exclude(_normalize_where([("x", "between", (60, 70))]), {"x": {"min": 0, "max": 50}})
    with pytest.raises(ValueError, match="unsupported predicate op"):
        _normalize_where([("x", "like", "a%")])


def test_ensure_shared_parquet_self_heals_crashed_destination(tmp_path):
    """A half-written destination (exists, no _SUCCESS — a crashed prior
    writer) must be replaced, not left to poison every future read; a
    committed destination must never be rewritten."""
    import os

    from varint_simd_spark.driver_tmp import ensure_shared_parquet

    dest = str(tmp_path / "corpus")
    os.makedirs(dest)
    open(f"{dest}/garbage.parquet", "w").write("junk")

    def writer(staging):
        os.makedirs(staging)
        open(f"{staging}/part-0.parquet", "w").write("good")
        open(f"{staging}/_SUCCESS", "w").write("")

    ensure_shared_parquet(dest, writer)
    assert os.path.exists(f"{dest}/_SUCCESS")
    assert not os.path.exists(f"{dest}/garbage.parquet")

    calls = []
    ensure_shared_parquet(dest, lambda s: calls.append(s))
    assert calls == []  # committed copy: writer not invoked


def test_fsst_emit_offset_dtype_guard():
    """_emit picks int64 offsets when a tile's token count could overflow
    int32 output offsets (a single >=1 GiB value can exceed the tile
    budget because tiles never split values)."""
    import numpy as np

    from varint_simd_spark.codecs.strings import FsstStr

    codec = FsstStr()
    small = np.arange(10, dtype=np.int64)
    # behavioral pin at small scale plus the dtype selection rule itself
    code = np.full(10, 0xFF, dtype=np.uint8)
    blob = np.arange(10, dtype=np.uint8)
    offs = np.array([0, 10], dtype=np.int64)
    out, lens = codec._emit(blob, offs, code, small)
    assert lens.dtype == np.int64 and int(lens[0]) == 20  # all escapes: 2B each


# --------------------------------------------------------------------------
# FSST encode: pinned output bytes

_WORDS = (
    b"the of and to in is for on that with as by this from at be are was "
    b"or an it not have which can will more all about new home page search "
    b"news privacy contact terms data results information services products"
).split()


def _fsst_corpus():
    """Seeded FSST inputs as a list of columns (lists of bytes).

    Column 0: web-like html/text pages, larger than ``FsstStr.TILE_BYTES``
    (so the encode walks several tiles).  Column 1: edge values — empties,
    0xFF runs, lengths ``WINDOW`` +-1, random bytes and one value longer
    than the default match block (``1 << 16`` bytes).  Column 2: 3000
    short values of 0-300 bytes."""
    from varint_simd_spark.codecs.strings import FsstStr

    w = FsstStr.WINDOW
    r = np.random.default_rng(20240611)
    words = np.array(_WORDS, dtype=object)

    def text(n_words):
        return b" ".join(words[r.integers(0, len(words), n_words)])

    pages = []
    total = 0
    while total <= FsstStr.TILE_BYTES + (1 << 16):
        host = b"host%d.example.%s" % (r.integers(0, 40), [b"com", b"org", b"net"][r.integers(0, 3)])
        body = b"".join(
            b"<p class=\"c%d\">%s</p>\n" % (r.integers(0, 5), text(int(r.integers(3, 40))))
            for _ in range(int(r.integers(1, 6)))
        )
        page = (
            b"<!DOCTYPE html><html><head><title>" + text(4) + b"</title>"
            b"<link href=\"https://" + host + b"/style.css\"></head><body>\n"
            + body + b"<a href=\"https://" + host + b"/p/%d\">more</a></body></html>" % r.integers(0, 10**6)
        )
        pages.append(page)
        total += len(page)
    edges = [
        b"", b"", b"\xff", b"\xff" * (w - 1), b"\xff" * w, b"\xff" * (w + 1),
        text(60)[: w - 1], text(60)[:w], text(60)[: w + 1],
        r.integers(0, 256, 3 * w + 7, dtype=np.uint8).tobytes(), b"",
        b"".join(b"%s <b>%d</b> " % (text(5), i) for i in range(6000))[: (1 << 16) + 4099],
        b"x\xff" * (w // 2 + 3), text(200), b"",
    ]
    tokens = [text(int(r.integers(0, 12)))[: int(r.integers(0, 300))] for _ in range(3000)]
    return [pages, edges, tokens]


def test_fsst_payload_digest_pinned():
    """The FSST encoder's output bytes are pinned: any kernel rewrite must
    keep payloads and params byte-identical on this seeded corpus."""
    import hashlib

    from varint_simd_spark.codecs.strings import FsstStr, bo_to_list, list_to_bo

    cols = _fsst_corpus()
    assert sum(map(len, cols[0])) > FsstStr.TILE_BYTES
    impl = FsstStr()
    h = hashlib.sha256()
    for vals in cols:
        payload, params = impl.encode_bo(list_to_bo(vals))
        assert bo_to_list(impl.decode_bo(payload, params, len(vals))) == vals
        h.update(payload)
        h.update(repr(sorted(params.items())).encode())
    assert h.hexdigest() == "5a40493207b7969e910010b7ab333e67eda67ee462d51e6323c122ad4071ea9c"


def test_fsst_payload_independent_of_block_and_tile_size(monkeypatch):
    """Match blocks and tiles are a memory layout only: payloads are the
    same for any MATCH_BLOCK/TILE_BYTES, including blocks small enough that
    many values (and 8-byte windows) straddle a block edge."""
    from varint_simd_spark.codecs.strings import FsstStr, list_to_bo

    cols = _fsst_corpus()
    # values of 1000-1100 bytes straddle 1 KiB block edges at every offset
    r = np.random.default_rng(7)
    cols.append([b"".join(cols[0][i : i + 3])[: int(r.integers(1000, 1100))] for i in range(200)])
    assert sum(map(len, cols[-1])) > 2 * (1 << 12)
    ref = [FsstStr().encode_bo(list_to_bo(v)) for v in cols]
    # 1000: block starts that are not multiples of 256
    for block in (1000, 1 << 10, FsstStr.MATCH_BLOCK, 1 << 24):
        for tile in (1 << 12, FsstStr.TILE_BYTES):
            monkeypatch.setattr(FsstStr, "MATCH_BLOCK", block)
            monkeypatch.setattr(FsstStr, "TILE_BYTES", tile)
            got = [FsstStr().encode_bo(list_to_bo(v)) for v in cols]
            assert got == ref, (block, tile)


def _symbol_table_loop(cand_vals, cand_lens, gains):
    """Reference build: the sequential greedy loop over candidates in
    descending gain order -> (n, vals, lens, hmeta, two, one)."""
    hbits = 12
    hlen = np.full(1 << hbits, 255, dtype=np.uint8)
    hcode = np.zeros(1 << hbits, dtype=np.uint8)
    two = np.full(65536, 0xFF, dtype=np.uint8)
    one = np.full(256, 0xFF, dtype=np.uint8)
    lens = np.ones(256, dtype=np.uint8)
    vals = np.zeros(256, dtype=np.uint64)
    ncodes = 0
    for i in np.argsort(gains)[::-1][:4096]:
        L, v = int(cand_lens[i]), int(cand_vals[i])
        if L >= 3:
            h = ((v & 0xFFFFFF) * 2654435761 & 0xFFFFFFFF) >> (32 - hbits)
            if hlen[h] != 255:
                continue
            hlen[h] = L
            hcode[h] = ncodes
        elif L == 2:
            two[v] = ncodes
        else:
            one[v] = ncodes
        vals[ncodes] = v
        lens[ncodes] = L
        ncodes += 1
        if ncodes == 255:
            break
    hmeta = hlen.astype(np.uint16) | (hcode.astype(np.uint16) << 8)
    return ncodes, vals, lens, hmeta, two, one


def _candidates(r, lens, vals=None):
    """Distinct (len, val) candidates in (len, val) order with random
    gains, the shape training hands to _SymbolTable."""
    from varint_simd_spark.codecs.strings import _LEN_MASK

    lens = np.asarray(lens, dtype=np.uint8)
    if vals is None:
        vals = r.integers(0, 2**64, lens.size, dtype=np.uint64)
    vals = np.asarray(vals, dtype=np.uint64) & _LEN_MASK[lens]
    key = np.unique(np.stack([lens.astype(np.uint64), vals], axis=1), axis=0)
    cl, cv = key[:, 0].astype(np.uint8), key[:, 1]
    return cv, cl, r.integers(1, 50, cl.size) * cl


@pytest.mark.parametrize("case", ["many", "one_slot", "over_255", "ties", "empty"])
def test_symbol_table_matches_reference_loop(case):
    """The vectorized _SymbolTable build accepts exactly the symbols, in
    exactly the code order, of the sequential greedy loop.  The table
    keeps the 2-byte LUT only inside the combined 2-/1-byte LUT, so the
    loop's ``two`` and ``one`` are compared through it."""
    from varint_simd_spark.codecs.strings import _SymbolTable

    r = np.random.default_rng(11)
    if case == "many":  # more than 4096 candidates of every length
        cv, cl, g = _candidates(r, r.integers(1, 9, 20000))
    elif case == "one_slot":
        # >4096 3-8-byte candidates in 4 hash slots outrank every 1-byte
        # one, so only 4 symbols come from the top 4096
        k = 6000
        prefix = r.integers(0, 4, k, dtype=np.uint64) * np.uint64(0x010203)
        suffix = r.integers(0, 2**40, k, dtype=np.uint64) << np.uint64(24)
        cv, cl, g = _candidates(
            r,
            np.concatenate([r.integers(3, 9, k), np.ones(200, np.uint8)]),
            np.concatenate([prefix | suffix, r.integers(0, 256, 200, dtype=np.uint64)]),
        )
        g = np.where(cl >= 3, g + 1000, g)
    elif case == "over_255":  # more than 255 acceptable symbols
        cv, cl, g = _candidates(r, r.integers(1, 3, 2000))
    elif case == "ties":  # few distinct gains: argsort's tie order decides
        cv, cl, _ = _candidates(r, r.integers(1, 9, 6000))
        g = 7 + (cl >= 5).astype(np.int64)
    else:
        cv, cl, g = np.zeros(0, np.uint64), np.zeros(0, np.uint8), np.zeros(0, np.int64)
    n, vals, lens, hmeta, two, one = _symbol_table_loop(cv, cl, g)
    assert n == {"one_slot": 4, "over_255": 255, "empty": 0}.get(case, n)
    t = _SymbolTable(cv, cl, g)
    assert t.n == n
    np.testing.assert_array_equal(t.vals, vals)
    np.testing.assert_array_equal(t.lens, lens)
    np.testing.assert_array_equal(t.hmeta, hmeta)
    np.testing.assert_array_equal(t.one, one)
    key = np.arange(65536)
    lut21 = np.where(
        two != 0xFF,
        (two.astype(np.uint16) << 8) | 2,
        (one[key & 0xFF].astype(np.uint16) << 8) | 1,
    )
    np.testing.assert_array_equal(t.lut21, lut21)


# --------------------------------------------------------------------------
# integer codecs: pinned output bytes


def _int_pin_columns():
    """Seeded int64 Arrow columns for the integer wire-format pin: nulls,
    sorted timestamps with jitter, small negatives, runs, the int64
    extremes, a single value and an empty column."""
    r = np.random.default_rng(20240612)
    n = 3000
    vals = r.integers(-(10**9), 10**9, n)
    nulls = r.random(n) < 0.1
    return [
        pa.array([None if z else int(v) for v, z in zip(vals, nulls)], type=pa.int64()),
        pa.array(np.cumsum(r.integers(900_000, 1_100_000, n)) + 1_700_000_000_000_000, type=pa.int64()),
        pa.array(r.integers(-300, 300, n), type=pa.int64()),
        pa.array(np.repeat(r.integers(-5, 50, 200), r.integers(1, 30, 200)), type=pa.int64()),
        pa.array([0, -1, 1, 2**63 - 1, -(2**63), None, 300, -300], type=pa.int64()),
        pa.array([42], type=pa.int64()),
        pa.array([], type=pa.int64()),
    ]


def test_int_payload_digest_pinned():
    """Every integer codec's output bytes are pinned, null bitmap section
    included: a rewrite of the bit-pack, RLE or varint paths must keep
    payloads and params byte-identical on these seeded columns."""
    import hashlib

    h = hashlib.sha256()
    for arr in _int_pin_columns():
        for codec in INT_CODECS:
            tag, payload, params = encode_column_arrow(arr, codec)
            assert decode_column_arrow(tag, codec, payload, params, len(arr)).equals(arr)
            h.update(codec.encode())
            h.update(payload)
            h.update(repr(sorted(params.items())).encode())
    assert h.hexdigest() == "705185ddd04f1a3b633cbac2e654416d808a94d23892ba0da737cf91ad732c96"


# --------------------------------------------------------------------------
# per-chunk statistics: pinned JSON and the exact-statistics kernel


def _stats_pin_chunks():
    """Seeded chunks of every stored tag for the statistics pin: a mixed
    chunk with nulls (f64 NaN and -0.0 among them, one group whose int64
    values are all null, a null group and a NUL-prefixed group key), one
    with int64 values near both ends and f64 +-inf, one whose value
    columns are all null (dates stay null-free: the codec chooser cannot
    fill a null date), and one whose f64 values are only NaN and -0.0."""
    r = np.random.default_rng(20261020)
    n = 240

    def mask(vals, p):
        return [None if z else v for v, z in zip(vals, r.random(len(vals)) < p)]

    g = mask(list(r.choice(["a", "b", "\x00x", "d"], n)), 0.1)
    i64 = [None if k == "d" else int(v) for k, v in zip(g, r.integers(-(10**12), 10**12, n))]
    f64 = [float(v) for v in np.round(r.normal(0, 1e3, n), 3)]
    f64[:4] = [float("nan"), -0.0, 0.0, float("nan")]
    t = pa.table({
        "g": pa.array(g, pa.string()),
        "i64": pa.array(mask(i64, 0.1), pa.int64()),
        "i32": pa.array(mask([int(v) for v in r.integers(-2**31, 2**31, n)], 0.1), pa.int32()),
        "i16": pa.array([int(v) for v in r.integers(-2**15, 2**15, n)], pa.int16()),
        "i8": pa.array(mask([int(v) for v in r.integers(-128, 128, n)], 0.2), pa.int8()),
        "f64": pa.array(mask(f64, 0.1), pa.float64()),
        "ts": pa.array(
            mask([int(v) for v in 1_700_000_000_000_000 + np.cumsum(r.integers(0, 10**9, n))], 0.1),
            pa.timestamp("us", tz="UTC"),
        ),
        "day": pa.array([int(v) for v in r.integers(-3000, 20000, n)], pa.date32()),
        "flag": pa.array(mask([bool(v) for v in r.integers(0, 2, n)], 0.1), pa.bool_()),
        "s": pa.array(mask([f"v{int(v)}" * int(v % 5) for v in r.integers(0, 1000, n)], 0.1), pa.string()),
        "b": pa.array(
            mask([bytes(r.integers(0, 256, int(k)).astype(np.uint8)) for k in r.integers(0, 9, n)], 0.1),
            pa.binary(),
        ),
    })
    ext = t.slice(0, 40).to_pydict()
    ext["i64"] = [
        None if i % 7 == 0 else (2**63 - 1 - i if i % 2 else -(2**63) + i) for i in range(40)
    ]
    ext["f64"] = [float("inf"), float("-inf")] + ext["f64"][2:]
    all_null = pa.table(
        {
            c: t[c].slice(0, 30) if c in ("g", "day") else pa.nulls(30, t.schema.field(c).type)
            for c in t.column_names
        },
        schema=t.schema,
    )
    nan_only = t.slice(40, 20).set_column(5, "f64", pa.array([float("nan"), -0.0] * 10))
    return [t, pa.table(ext, schema=t.schema), all_null, nan_only]


def test_chunk_stats_json_pinned():
    """The stats JSON every encoded row carries, with and without grouped
    partials, is pinned on chunks that reach each convention: int64 sums
    past the int64 range, all-null chunks (sum "0") and all-null groups
    (no sum), f64 min/max only when finite (NaN skipped, -0.0 kept) and
    strings with only n_nulls, or per-group byte totals."""
    import hashlib

    from varint_simd_spark.operators.encode import _encode_columns_to_rows

    h = hashlib.sha256()
    for cid, t in enumerate(_stats_pin_chunks()):
        for by in (None, "g"):
            rows = _encode_columns_to_rows(t, t.column_names, {}, cid, stats_group_by=by)
            for c, s in zip(rows["column"].to_pylist(), rows["stats"].to_pylist()):
                h.update(f"{cid}|{by}|{c}|{s}\n".encode())
    assert h.hexdigest() == "fc50a9c6b9c4ae3f277b8ce08083029f0b488026cbe0e644e14f0f31f9e5685e"


_STATS_TAGS = {
    "i64": (pa.int64(), st.integers(-(2**63), 2**63 - 1)),
    "i32": (pa.int32(), st.integers(-(2**31), 2**31 - 1)),
    "i16": (pa.int16(), st.integers(-(2**15), 2**15 - 1)),
    "i8": (pa.int8(), st.integers(-128, 127)),
    "ts_us": (pa.timestamp("us"), st.integers(-(2**62), 2**62)),
    "date_d": (pa.date32(), st.integers(-(2**31), 2**31 - 1)),
    "bool": (pa.bool_(), st.booleans()),
    "f64": (pa.float64(), st.floats()),
    "str": (pa.string(), st.text(max_size=6)),
    "bin": (pa.binary(), st.binary(max_size=6)),
}


@st.composite
def _stats_cases(draw):
    tag = draw(st.sampled_from(sorted(_STATS_TAGS)))
    typ, vals = _STATS_TAGS[tag]
    values = draw(st.lists(st.none() | vals, max_size=40))
    n = len(values)
    n_groups = draw(st.integers(1, 8))
    codes = draw(st.none() | st.lists(st.integers(0, n_groups - 1), min_size=n, max_size=n))
    weights = draw(st.none() | st.lists(st.integers(1, 2**20), min_size=n, max_size=n))
    return tag, pa.array(values, typ), values, n_groups, codes, weights


@settings(max_examples=400, derandomize=True, database=None, deadline=None)
@given(_stats_cases())
def test_property_exact_stats_matches_bigint_oracle(case):
    """The exact-statistics kernel against Python big ints, per group:
    weighted row and null counts, and over the non-null rows the integer
    sum/min/max (int64 extremes and run-length weights push sums past
    int64) or the byte total of strings."""
    from varint_simd_spark.operators.encode import _exact_stats

    tag, arr, values, n_groups, codes, weights = case
    if codes is None:
        got = _exact_stats(arr, tag, weights=weights)
        codes, n_groups = [0] * len(values), 1
    else:
        got = _exact_stats(arr, tag, np.array(codes, np.int64), n_groups, weights)
    weights = weights or [1] * len(values)
    for g in range(n_groups):
        rows = [(v, w) for v, c, w in zip(values, codes, weights) if c == g]
        full = [(v, w) for v, w in rows if v is not None]
        n, nz = sum(w for _, w in rows), sum(w for _, w in full)
        s = lo = hi = nb = None
        if tag in ("str", "bin"):
            nb = sum(len(v.encode() if tag == "str" else v) * w for v, w in full)
        elif tag != "f64" and full:
            s = sum(int(v) * w for v, w in full)
            lo, hi = min(int(v) for v, _ in full), max(int(v) for v, _ in full)
        assert got.row(g) == (n, n - nz, s, lo, hi, nb), (tag, g)
