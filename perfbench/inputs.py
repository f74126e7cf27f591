"""Seeded benchmark inputs and the byte counts measured from them.

Both tables are made from the run's seed alone and written as many parquet
files, so a scan has several splits on every core count.  Raw and reference
byte counts are computed here from the input columns with pyarrow/numpy;
the engine's own counters are never read.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

N_FILES = 16

# TPC-H lineitem at scale factor 0.1 has 20000 parts and 1000 suppliers
_PARTS = 20_000
_SUPPLIERS = 1_000
_ORDER_EPOCH = dt.date(1992, 1, 1)
_ORDER_SPAN_DAYS = (dt.date(1998, 8, 2) - _ORDER_EPOCH).days
_CURRENT_DATE = (dt.date(1995, 6, 17) - dt.date(1970, 1, 1)).days


def write_web_pages(spark, n_pages: int, seed: int, path: str) -> None:
    """``generate_web_pages(seed)`` written as ``N_FILES`` parquet files."""
    from varint_simd_spark.sources.web_pages import generate_web_pages

    (
        generate_web_pages(spark, n_pages, seed=seed)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", -(-n_pages // N_FILES))
        .parquet(path)
    )


def lineitem_table(n_orders: int, seed: int) -> pa.Table:
    """A TPC-H ``lineitem``-shaped table drawn from ``seed``.

    Same columns and types as the testdata ``lineitem.parquet`` except that
    ``l_shipdate`` is a DATE (TPC-H's type): sparse order keys, 1-7 lines
    per order, prices derived from the part key, dbgen's flag/status rules.
    Rows are shuffled, as in the testdata file."""
    rng = np.random.default_rng(seed)
    i = np.arange(n_orders, dtype=np.int64)
    order_keys = (i // 8) * 32 + (i % 8) + 1  # dbgen's sparse key space
    lines = rng.integers(1, 8, n_orders)
    n = int(lines.sum())
    orderkey = np.repeat(order_keys, lines)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n) - first + 1).astype(np.int32)
    orderdate = np.repeat(rng.integers(0, _ORDER_SPAN_DAYS - 151, n_orders), lines)
    partkey = rng.integers(1, _PARTS + 1, n)
    suppkey = rng.integers(1, _SUPPLIERS + 1, n)
    quantity = rng.integers(1, 51, n).astype(np.float64)
    retail = (90000 + (partkey // 10) % 20001 + 100 * (partkey % 1000)) / 100.0
    extendedprice = np.round(quantity * retail, 2)
    discount = rng.integers(0, 11, n) / 100.0
    tax = rng.integers(0, 9, n) / 100.0
    epoch_days = (_ORDER_EPOCH - dt.date(1970, 1, 1)).days
    shipdate = epoch_days + orderdate + rng.integers(1, 122, n)
    receiptdate = shipdate + rng.integers(1, 31, n)
    returned = np.where(rng.random(n) < 0.5, "R", "A")
    returnflag = np.where(receiptdate <= _CURRENT_DATE, returned, "N")
    linestatus = np.where(shipdate > _CURRENT_DATE, "O", "F")
    perm = rng.permutation(n)
    return pa.table(
        {
            "l_orderkey": pa.array(orderkey[perm]),
            "l_partkey": pa.array(partkey[perm]),
            "l_suppkey": pa.array(suppkey[perm]),
            "l_linenumber": pa.array(linenumber[perm]),
            "l_quantity": pa.array(quantity[perm]),
            "l_extendedprice": pa.array(extendedprice[perm]),
            "l_discount": pa.array(discount[perm]),
            "l_tax": pa.array(tax[perm]),
            "l_returnflag": pa.array(returnflag[perm]),
            "l_linestatus": pa.array(linestatus[perm]),
            "l_shipdate": pa.array(shipdate[perm].astype(np.int32)).view(pa.date32()),
        }
    )


def write_lineitem(n_orders: int, seed: int, path: str) -> None:
    table = lineitem_table(n_orders, seed)
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // N_FILES)
    for k in range(N_FILES):
        pq.write_table(table.slice(k * step, step), f"{path}/part-{k:05d}.parquet")


def read_input(path: str) -> pa.Table:
    """The input files as one Arrow table, partition directories ignored."""
    files = sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    return pa.concat_tables(pq.ParquetFile(f).read() for f in files)


def is_text(t: pa.DataType) -> bool:
    return pa.types.is_string(t) or pa.types.is_large_string(t) or \
        pa.types.is_binary(t) or pa.types.is_large_binary(t)


def int64_view(arr: pa.Array) -> np.ndarray:
    """Integer-family column as int64: timestamps in micros, dates in days,
    doubles as their IEEE bit pattern, booleans as 0/1."""
    t = arr.type
    if pa.types.is_timestamp(t):
        return arr.cast(pa.timestamp("us", tz=t.tz)).view(pa.int64()).to_numpy(zero_copy_only=False)
    if pa.types.is_date32(t):
        return arr.view(pa.int32()).to_numpy(zero_copy_only=False).astype(np.int64)
    if pa.types.is_floating(t):
        return arr.cast(pa.float64()).to_numpy(zero_copy_only=False).view(np.int64)
    return arr.cast(pa.int64()).to_numpy(zero_copy_only=False)


def raw_bytes(col: pa.ChunkedArray) -> int:
    """Uncompressed size: value bytes for strings, fixed width otherwise."""
    if is_text(col.type):
        return int(pc.sum(pc.binary_length(col)).as_py() or 0)
    return col.type.bit_width // 8 * len(col)


def _leb128_len(u: np.ndarray) -> np.ndarray:
    """Minimal LEB128 length of each uint64: one byte per started 7 bits."""
    n = np.ones(u.shape, np.int64)
    for k in range(1, 10):
        n += u >= np.uint64(1 << (7 * k))
    return n


def reference_bytes(col: pa.ChunkedArray) -> int:
    """The reference encoder's size for one column: LEB128 of zigzag(v) per
    integer value; the bytes plus a LEB128 length prefix per string."""
    if is_text(col.type):
        lens = pc.binary_length(col).to_numpy(zero_copy_only=False).astype(np.uint64)
        return int(lens.sum() + _leb128_len(lens).sum())
    v = int64_view(col.combine_chunks())
    zz = ((v << 1) ^ (v >> 63)).view(np.uint64)
    return int(_leb128_len(zz).sum())


def table_bytes(table: pa.Table, columns: list[str] | None = None) -> tuple[int, int]:
    """(raw bytes, reference bytes) over ``columns`` (default: all)."""
    raw = ref = 0
    for name in columns or table.column_names:
        raw += raw_bytes(table[name])
        ref += reference_bytes(table[name])
    return raw, ref
