"""The timed operations and the correctness gate that checks them.

Every operation is two calls into the package's public API: one that builds
the DataFrame and one action.  Each answer is reduced to an
order-insensitive checksum (row count plus the sums of the low and high
halves of a per-row ``xxhash64``) and compared with the same query run by
plain Spark on the raw input.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import functions as F
from pyspark.sql import types as T

WRITE_OPS = ("encode_hash", "encode_split", "encode_bucketed")
READ_OPS = ("decode", "scan_pruned", "scan_filtered", "agg_decode", "agg_stats", "lookup")
ALL_OPS = WRITE_OPS + READ_OPS


def checksum(df, cols: list[str]) -> tuple[int, int, int]:
    h = F.xxhash64(*[F.col(c) for c in cols])
    r = df.agg(
        F.count(F.lit(1)),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))),
        F.sum(F.shiftright(h, 32)),
    ).collect()[0]
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)


def _as_int(v):
    return None if v is None else int(v)


def expected_aggregate(df) -> list[tuple]:
    """``decode_aggregate``'s answer computed by plain Spark: per column the
    row and null counts, the exact sum, min and max in the int64 domain
    (integer family only) and the byte total (strings only)."""
    exprs = []
    for f in df.schema.fields:
        c, t = F.col(f.name), f.dataType
        v = None
        if isinstance(t, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
            v = c.cast("long")
        elif isinstance(t, T.TimestampType):
            v = F.unix_micros(c)
        elif isinstance(t, T.DateType):
            v = F.unix_date(c).cast("long")
        elif isinstance(t, T.BooleanType):
            v = c.cast("long")
        text = isinstance(t, (T.StringType, T.BinaryType))
        exprs += [
            F.count(F.lit(1)),
            F.count(F.lit(1)) - F.count(c),
            F.sum(v.cast("decimal(38,0)")).cast("string") if v is not None else F.lit(None),
            F.min(v) if v is not None else F.lit(None),
            F.max(v) if v is not None else F.lit(None),
            F.sum(F.octet_length(c)) if text else F.lit(None),
        ]
    r = df.agg(*exprs).collect()[0]
    out = []
    for i, f in enumerate(df.schema.fields):
        vals = r[6 * i: 6 * i + 6]
        out.append((f.name, *(_as_int(x) for x in vals)))
    return sorted(out)


def aggregate_answer(rows) -> list[tuple]:
    return sorted(
        (r["column"], _as_int(r["n_rows"]), _as_int(r["n_nulls"]), _as_int(r["sum_exact"]),
         _as_int(r["min_exact"]), _as_int(r["max_exact"]), _as_int(r["sum_bytes"]))
        for r in rows
    )


@dataclass
class Dataset:
    """One workload's input and the query parameters its operations use."""

    input_dir: str
    key: str
    columns: list[str]
    pruned: list[str]
    where: list[tuple]
    filtered_out: list[str]
    lookup_value: object
    raw: dict = field(default_factory=dict)  # op -> raw bytes it processes


class Operations:
    """Builds and runs each named operation against one dataset."""

    def __init__(self, spark, ds: Dataset, work: str, n_chunks: int):
        self.spark = spark
        self.ds = ds
        self.work = work
        self.n_chunks = n_chunks
        self._meta = None
        self.stores: dict[str, str] = {}  # write op -> store root it wrote

    # -- stores ---------------------------------------------------------

    def store_dir(self, op: str) -> str:
        return f"{self.work}/stores/{op}"

    def hash_store(self):
        return self.spark.read.parquet(self.store_dir("encode_hash"))

    def meta(self):
        from varint_simd_spark.operators import column_meta

        if self._meta is None:
            self._meta = column_meta(self.hash_store())
        return self._meta

    def input(self):
        return self.spark.read.parquet(self.ds.input_dir)

    # -- operations -----------------------------------------------------

    def prepare(self, op: str) -> None:
        """Untimed: clear the directory a write operation is about to fill."""
        if op in WRITE_OPS:
            shutil.rmtree(self.store_dir(op), ignore_errors=True)
            os.makedirs(os.path.dirname(self.store_dir(op)), exist_ok=True)

    def build(self, op: str):
        """The call that builds the operation's DataFrame (or store)."""
        from varint_simd_spark.operators import (
            decode_table_colocated,
            encode_table,
            encode_table_bucketed,
            lookup_by_key,
        )
        from varint_simd_spark.operators.encode import decode_aggregate
        from varint_simd_spark.sources.checkpoint import EncodedStore

        ds = self.ds
        if op == "encode_hash":
            return encode_table(self.input(), key=ds.key, n_chunks=self.n_chunks)
        if op == "encode_split":
            return EncodedStore(self.spark, self.store_dir(op))
        if op == "encode_bucketed":
            return encode_table_bucketed(self.input(), key=ds.key, n_buckets=self.n_chunks)
        enc = self.hash_store()
        if op == "decode":
            return decode_table_colocated(enc, meta=self.meta(), check_layout=False)
        if op == "scan_pruned":
            return decode_table_colocated(enc, meta=self.meta(), columns=ds.pruned,
                                          check_layout=False)
        if op == "scan_filtered":
            return decode_table_colocated(enc, meta=self.meta(), columns=ds.filtered_out,
                                          where=ds.where, check_layout=False)
        if op == "agg_decode":
            return decode_aggregate(enc, use_stats=False)
        if op == "agg_stats":
            return decode_aggregate(enc)
        if op == "lookup":
            return lookup_by_key(enc, ds.key, ds.lookup_value)
        raise ValueError(op)

    def action(self, op: str, built):
        """The action that runs the operation; returns its answer."""
        from varint_simd_spark.sources.checkpoint import ingest_to_store

        ds = self.ds
        if op == "encode_hash":
            built.write.partitionBy("chunk_id").parquet(self.store_dir(op))
            self.stores[op] = self.store_dir(op)
            return None
        if op == "encode_split":
            ingest_to_store(built, self.input(), key=ds.key)
            self.stores[op] = built.root
            return None
        if op == "encode_bucketed":
            built.repartition("bucket").write.partitionBy("bucket").parquet(self.store_dir(op))
            self.stores[op] = self.store_dir(op)
            return None
        if op == "decode":
            return checksum(built, ds.columns)
        if op == "scan_pruned":
            return checksum(built, ds.pruned)
        if op == "scan_filtered":
            return checksum(built, ds.filtered_out)
        if op in ("agg_decode", "agg_stats"):
            return aggregate_answer(built.collect())
        if op == "lookup":
            return checksum(built, ds.columns)
        raise ValueError(op)

    # -- gate -----------------------------------------------------------

    def expected(self, ops=None) -> dict:
        """The answers of ``ops`` (default: every read operation) and the
        full-table checksum, computed by plain Spark on the raw input."""
        raw = self.input()
        ds = self.ds
        ops = READ_OPS if ops is None else ops
        cond = None
        for c, o, v in ds.where:
            e = {"==": F.col(c) == v, "!=": F.col(c) != v, "<": F.col(c) < v,
                 "<=": F.col(c) <= v, ">": F.col(c) > v, ">=": F.col(c) >= v}[o]
            cond = e if cond is None else cond & e
        out = {"all": checksum(raw, ds.columns)}
        agg = None
        for op in ops:
            if op == "decode":
                out[op] = out["all"]
            elif op == "scan_pruned":
                out[op] = checksum(raw, ds.pruned)
            elif op == "scan_filtered":
                out[op] = checksum(raw.filter(cond), ds.filtered_out)
            elif op in ("agg_decode", "agg_stats"):
                agg = agg or expected_aggregate(raw.select(*ds.columns))
                out[op] = agg
            elif op == "lookup":
                out[op] = checksum(raw.filter(F.col(ds.key) == ds.lookup_value), ds.columns)
        return out

    def store_df(self, op: str):
        from varint_simd_spark.sources.checkpoint import EncodedStore

        if op == "encode_split":
            return EncodedStore(self.spark, self.stores[op]).read_encoded()
        return self.spark.read.parquet(self.stores[op])

    def store_answer(self, op: str) -> tuple[int, int, int]:
        """Checksum of a written store, fully decoded (the colocated decode
        probes the layout and falls back to the shuffled one)."""
        from varint_simd_spark.operators import decode_table_colocated

        return checksum(decode_table_colocated(self.store_df(op)), self.ds.columns)

    def store_data_root(self, op: str) -> str:
        root = self.stores[op]
        return f"{root}/encoded" if op == "encode_split" else root
