"""encode_table / decode_table — the engine's main Spark operators.

Every encode writes one encoded row per (chunk, column), built by the one
row-contract implementation :func:`_encode_columns_to_rows`.  Three encode
topologies feed it:

* hash-chunk (:func:`encode_table`): chunk id ``pmod(xxhash64(key),
  n_chunks)``, so chunk membership is deterministic in data only and
  resume/verify work identically at any parallelism.  One shuffle, which
  places chunk ``c`` in reduce partition ``c mod n``
  (:func:`_chunk_exchange`): raw rows for string-heavy inputs, compressed
  fragments re-encoded per chunk for integer-dominated bare parquet scans
  (:func:`_encode_table_fragment_merge`).  The order of equal-key rows
  inside a chunk, and so the payload bytes, follows the topology: on the
  seed-1 benchmark lineitem input (``n_chunks=8``) the sorted encoded
  rows hash to sha256 715351b5… through the fragment merge and 52faacc9…
  through the row shuffle, each stable from run to run, both decoding to
  the same rows;
* per-split (:func:`encode_table_per_split`): each scan partition packs
  and encodes its own chunks — zero exchanges, layout-deterministic ids;
* bucketed (:func:`encode_table_bucketed`): per-split fragments tagged
  with a ``pmod(xxhash64(key), n_buckets)`` bucket, so the caller's
  ``repartition("bucket")`` moves compressed bytes only.

Decode has one core: :func:`_iter_enc_rows` reads encoded rows (CRC check,
params and stats parse) and :class:`_ChunkDecoder` turns one chunk's rows
into a RecordBatch (projection plus the three-tier ``where``).
:func:`decode_table` feeds it one ``groupBy("chunk_id")`` group per chunk;
:func:`decode_table_colocated` feeds it chunk-colocated scan partitions
through ``mapInArrow`` with no exchange.  The fragment merge and the
decode-path aggregates read through the same reader.

Aggregates have one exact fold, :func:`_fold_agg_rows`: the decode tier
and both stats tiers of :func:`decode_aggregate` turn each chunk row into
one partial row, fold them per task and fold the task rows on the driver.

Arrow end to end: Spark ships record batches over Arrow IPC, the codec
layer reads the Arrow buffers directly, and every kernel is whole-column
numpy — no per-row Python.  Size ``n_chunks`` so a chunk's Arrow
materialization fits an executor core's memory (~32-64 MB raw per chunk).
"""

from __future__ import annotations

import json
import operator
import zlib
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..codecs import INT_CODECS, STR_CODECS
from ..codecs.base import (
    STR_TAGS,
    arrow_tag,
    arrow_to_int64,
    decode_column_arrow,
    encode_column_arrow,
    split_nulls,
    tag_to_arrow,
)
from ..codecs.choose import choose_codec_arrow
from ..codecs.strings import arrow_to_bo
from ..kernels import varint
from ..kernels.zigzag import zigzag
from .pyscan import parquet_scan_info, pyscan_map_in_arrow

ENCODED_SCHEMA = T.StructType(
    [
        T.StructField("chunk_id", T.LongType()),
        T.StructField("col_idx", T.IntegerType()),
        T.StructField("column", T.StringType()),
        T.StructField("dtype", T.StringType()),
        T.StructField("codec", T.StringType()),
        T.StructField("params", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("n_values", T.LongType()),
        T.StructField("raw_bytes", T.LongType()),
        T.StructField("ref_bytes", T.LongType()),
        T.StructField("enc_bytes", T.LongType()),
        T.StructField("crc32", T.LongType()),
        T.StructField("reason", T.StringType()),
        # zone map: JSON {"min": x, "max": y} in the int64 domain for
        # integer-family columns (ints/ts/date/bool/f64-as-ordered-double);
        # null for string/binary and all-null chunks
        T.StructField("stats", T.StringType()),
    ]
)

_ENC_ARROW = pa.schema(
    [
        ("chunk_id", pa.int64()),
        ("col_idx", pa.int32()),
        ("column", pa.string()),
        ("dtype", pa.string()),
        ("codec", pa.string()),
        ("params", pa.string()),
        ("payload", pa.binary()),
        ("n_values", pa.int64()),
        ("raw_bytes", pa.int64()),
        ("ref_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("crc32", pa.int64()),
        ("reason", pa.string()),
        ("stats", pa.string()),
    ]
)

_TAG_TO_SPARK = {
    "i64": T.LongType(),
    "i32": T.IntegerType(),
    "i16": T.ShortType(),
    "i8": T.ByteType(),
    "f64": T.DoubleType(),
    "ts_us": T.TimestampType(),
    "date_d": T.DateType(),
    "str": T.StringType(),
    "bin": T.BinaryType(),
    "bool": T.BooleanType(),
}


def _ref_and_raw_bytes(arr: pa.Array, tag: str, ref_hint: int | None = None) -> tuple[int, int]:
    """(reference encoder size, raw size).  Reference = minimal LEB128 of
    zigzag(v) for integer domains (reference encode_zigzag,
    src/encode/mod.rs:40-42); raw utf-8 + varint length stream for strings
    (the reference has no string codec; framing is ours).

    ``ref_hint``: the codec chooser's exact varint_zz candidate size — the
    same quantity by definition — so auto-chosen integer columns skip the
    zigzag + length-count repeat."""
    if tag in STR_TAGS:
        if arr.null_count:
            arr = pc.fill_null(arr, "" if tag == "str" else b"")
        blob, offs = arrow_to_bo(arr)
        lens = np.diff(offs).astype(np.uint64)
        ref = int(offs[-1]) + varint.varint_len_sum(lens)
        return ref, int(offs[-1])
    if ref_hint is not None:
        return ref_hint, 8 * len(arr)
    if arr.null_count:
        arr = pc.fill_null(arr, pa.scalar(0).cast(arr.type))
    v = arrow_to_int64(arr, tag)
    return varint.varint_len_sum(zigzag(v)), 8 * len(arr)


def _to_int64_keep_nulls(arr: pa.Array, tag: str) -> pa.Array:
    """int64-domain view of an integer-family column with validity kept
    (unlike arrow_to_int64, which requires a null-free array)."""
    if tag == "ts_us":
        a = arr if arr.type == pa.timestamp("us") else arr.cast(pa.timestamp("us"))
        return a.view(pa.int64())
    if tag == "date_d":
        return arr.view(pa.int32()).cast(pa.int64())
    return arr.cast(pa.int64())


def _exact_int_sum(v: pa.Array, lo: int, hi: int) -> int:
    """Exact sum of an int64 arrow array (nulls skipped).  Arrow sums in an
    int64 accumulator, which WRAPS for realistic inputs (e.g. epoch-micros
    chunks); fast path shifts by the chunk min so the vectorized sum runs
    over the small in-chunk range, Python-int arithmetic restores it."""
    n_nonnull = len(v) - v.null_count
    if n_nonnull == 0:
        return 0
    if (hi - lo) * max(n_nonnull, 1) < (1 << 62):
        shifted = pc.subtract(v, pa.scalar(lo, pa.int64()))
        return int(pc.sum(shifted, min_count=0).as_py() or 0) + lo * n_nonnull
    vv = v.drop_null().to_numpy(zero_copy_only=False)
    return int(vv.astype(object).sum()) if vv.size else 0


def _zone_map_dict(arr: pa.Array, tag: str) -> dict:
    """Per-chunk statistics.  min/max (the zone map, int64/double
    domain — exact Spark-side comparisons) for integer-family columns;
    plus an exact integer ``sum`` (string — arbitrary precision) and
    ``n_nulls`` so aggregates can be answered from metadata alone
    (:func:`decode_aggregate`).  Strings/binary carry only n_nulls (their
    byte totals ride the raw_bytes column); f64 carries no sum (float
    addition is order-dependent).  Absent keys are always sound: pruning
    skips nothing, aggregation falls back to payload decode."""
    st: dict = {"n_nulls": int(arr.null_count)}
    if tag in STR_TAGS:
        return st
    if arr.null_count == len(arr):
        if tag != "f64":
            st["sum"] = "0"  # SQL SUM over only-nulls is NULL, but the
            # decode path reports "0" for empty domains — keep them equal
        return st
    mm = pc.min_max(arr)
    lo, hi = mm["min"], mm["max"]
    if tag == "ts_us":
        lo = lo.cast(pa.timestamp("us")).value
        hi = hi.cast(pa.timestamp("us")).value
    elif tag == "date_d":
        lo = lo.cast(pa.int32()).as_py()
        hi = hi.cast(pa.int32()).as_py()
    elif tag == "bool":
        lo, hi = int(lo.as_py()), int(hi.as_py())
    else:
        lo, hi = lo.as_py(), hi.as_py()
        if tag == "f64":
            import math

            # NaN/inf are not valid strict JSON and poison ordering
            if not (math.isfinite(lo) and math.isfinite(hi)):
                return st
    st["min"], st["max"] = lo, hi
    if tag != "f64":
        v = _to_int64_keep_nulls(arr, tag)
        st["sum"] = str(_exact_int_sum(v, lo, hi))
    return st


# per-chunk grouped statistics are written only for group columns with at
# most this many distinct values in the chunk — beyond it the stats JSON
# would stop being "metadata" (grouped aggregation falls back to the
# decode path, which handles any cardinality)
MAX_STAT_GROUPS = 64

# JSON map keys cannot be null, so null group values get this sentinel key
# (converted back to a real SQL NULL group by decode_aggregate)
NULL_GROUP_KEY = "\u0000"

# bound on the grouped stats tier: when the answer has more (group,
# column) rows than this, the grouped aggregate falls back to the
# distributed decode tier.  The driver decides on the folded answer, not
# on the task rows it collects: with groups spread over every task, each
# task emits the whole answer's keys.  A task whose own fold has more
# rows than this proves the answer does too; it emits only this many + 1
# of them.  So the driver collects at most tasks x (this + 1) rows, and
# never more than the stats.by entries the stage reads (at most
# MAX_STAT_GROUPS per chunk column).  A collected row is ~70 bytes of
# Arrow (web_pages, 8 columns), so a task sends at most ~4.5 MB; the
# driver folds the rows one Arrow batch at a time.  A Spark limit()
# would bound the collect to this + 1 rows, but it would count task
# rows, and it adds a stage.
MAX_COLLECTED_GROUP_ROWS = 65536


def _group_codes(garr: pa.Array, max_groups: int | None = MAX_STAT_GROUPS):
    """Factorize a group column into (codes int64 ndarray, keys list[str]).
    Nulls map to the NULL_GROUP_KEY sentinel; a REAL group value starting
    with NUL is escaped with one extra NUL so it can never collide with
    the sentinel (``_unescape_group_key`` reverses both).  Timestamps are
    canonicalized to epoch-micros keys first: the encode side sees
    Spark's tz-aware arrow timestamps while the decode fallback sees the
    codec layer's tz-naive ones, and their str() forms differ.  Returns
    None when the chunk exceeds ``max_groups`` distinct groups (caller
    omits grouped stats)."""
    if pa.types.is_timestamp(garr.type):
        garr = garr.cast(pa.timestamp("us")).view(pa.int64())
    d = garr.dictionary_encode()
    if isinstance(d, pa.ChunkedArray):
        d = d.combine_chunks()
    keys = [
        (NULL_GROUP_KEY + k if isinstance(k, str) and k.startswith(NULL_GROUP_KEY) else k)
        if isinstance(k, str)
        else str(k)
        for k in d.dictionary.to_pylist()
    ]
    idx = d.indices
    if idx.null_count:
        codes = idx.fill_null(len(keys)).to_numpy(zero_copy_only=False).astype(np.int64)
        keys = keys + [NULL_GROUP_KEY]
    else:
        codes = idx.to_numpy(zero_copy_only=False).astype(np.int64)
    if max_groups is not None and len(keys) > max_groups:
        return None
    return codes, keys


def _unescape_group_key(k: str | None) -> str | None:
    """Inverse of the _group_codes key mapping: the bare sentinel is the
    SQL NULL group; a NUL-prefixed key drops its escape character."""
    if k == NULL_GROUP_KEY:
        return None
    if k is not None and k.startswith(NULL_GROUP_KEY):
        return k[1:]
    return k


def _group_partials(arr: pa.Array, tag: str, codes: np.ndarray, n_groups: int) -> list[dict | None]:
    """Per-group exact partials of one column: entry g is
    ``{"n", "nn"[, "sum", "min", "max"][, "bytes"]}`` (None for groups
    absent from the chunk).  ``sum`` is the exact integer sum (arbitrary precision, same
    shift-by-min guard as :func:`_exact_int_sum`); ``bytes`` is total
    utf8/binary bytes for string columns; f64 carries n/nn only (float
    addition is order-dependent)."""
    n_g = np.bincount(codes, minlength=n_groups)
    if arr.null_count:
        nulls = pc.is_null(arr).to_numpy(zero_copy_only=False)
        nn_g = np.bincount(codes[nulls], minlength=n_groups)
    else:
        nn_g = np.zeros(n_groups, np.int64)

    def base(g):
        return {"n": int(n_g[g]), "nn": int(nn_g[g])}

    if tag in STR_TAGS:
        a = pc.fill_null(arr, "" if tag == "str" else b"")
        lens = pc.binary_length(a).to_numpy(zero_copy_only=False).astype(np.int64)
        acc = np.zeros(n_groups, np.int64)
        np.add.at(acc, codes, lens)
        return [
            {**base(g), "bytes": int(acc[g])} if n_g[g] else None
            for g in range(n_groups)
        ]
    if tag == "f64":
        return [base(g) if n_g[g] else None for g in range(n_groups)]
    v = _to_int64_keep_nulls(arr, tag)
    if arr.null_count == len(arr):
        # SQL SUM over only-nulls is NULL (unlike the ungrouped chunk
        # stats, whose "0" convention predates grouping and is pinned by
        # the ungrouped oracle) — omit the key so the decimal SUM of the
        # final combine stays NULL for fully-null groups
        return [base(g) if n_g[g] else None for g in range(n_groups)]
    mm = pc.min_max(v)
    lo, hi = mm["min"].as_py(), mm["max"].as_py()
    filled = pc.fill_null(v, pa.scalar(lo, pa.int64())).to_numpy(zero_copy_only=False)
    nz = n_g - nn_g
    if (hi - lo) * max(len(filled), 1) < (1 << 62):
        # nulls were filled with lo, so their shifted contribution is 0 and
        # sum_g = acc_g + lo * n_nonnull_g restores the unshifted domain
        # with Python-int arithmetic (no int64 wrap for epoch-micros etc.)
        acc = np.zeros(n_groups, np.int64)
        np.add.at(acc, codes, filled - lo)
        sums = [int(acc[g]) + lo * int(nz[g]) for g in range(n_groups)]
    else:
        acc = np.zeros(n_groups, object)
        np.add.at(acc, codes, filled.astype(object))
        sums = [int(acc[g]) - lo * int(nn_g[g]) for g in range(n_groups)]
    # per-group exact min/max over NON-NULL rows only (filling nulls with
    # lo would corrupt group minima, so the scatter runs on the compacted
    # non-null subset); sentinel-initialized slots of all-null groups are
    # never emitted (nz[g] == 0 -> no min/max/sum keys, SQL NULL)
    if arr.null_count:
        nn_mask = ~pc.is_null(arr).to_numpy(zero_copy_only=False)
        codes_nn, v_nn = codes[nn_mask], filled[nn_mask]
    else:
        codes_nn, v_nn = codes, filled
    mn = np.full(n_groups, hi, np.int64)
    mx = np.full(n_groups, lo, np.int64)
    np.minimum.at(mn, codes_nn, v_nn)
    np.maximum.at(mx, codes_nn, v_nn)
    return [
        # a group whose values are all NULL sums to SQL NULL, not 0
        (
            {**base(g), "sum": str(sums[g]), "min": int(mn[g]), "max": int(mx[g])}
            if nz[g]
            else base(g)
        )
        if n_g[g]
        else None
        for g in range(n_groups)
    ]


def _encode_columns_to_rows(
    table: pa.Table,
    columns: list[str],
    codecs: dict[str, str],
    chunk_id: int,
    shared_cache: dict | None = None,
    stats_group_by: str | None = None,
) -> pa.Table:
    """Encode ``columns`` of one (already chunk-assigned, already sorted)
    Arrow table into encoded-chunk rows — the single implementation of the
    encoded-row contract, shared by every encode topology.

    ``shared_cache``: per-column codec artifacts reused across MANY calls
    (e.g. one FSST table per (scan partition, column) in the bucketed
    topology — per-fragment training would otherwise dominate).

    ``stats_group_by``: declared low-cardinality group column — every
    encoded row additionally carries exact per-group partials
    (``stats.by = {col, groups: {g: {n, nn, sum|bytes}}}``) so
    :func:`decode_aggregate` can answer GROUP BY queries from metadata
    alone.  Omitted when a chunk exceeds MAX_STAT_GROUPS distinct groups
    (the grouped decode path remains the sound fallback)."""
    cols: dict[str, list] = {k.name: [] for k in _ENC_ARROW}
    grp = None
    if stats_group_by is not None:
        grp = _group_codes(table[stats_group_by].combine_chunks())
    for idx, col in enumerate(columns):
        arr = table[col].combine_chunks()
        want = codecs.get(col, "auto")
        cache = dict((shared_cache or {}).get(col) or {})
        if want == "auto":
            codec, reason, _stats = choose_codec_arrow(arr)
            cache.update(_stats.get("_cache") or {})
        else:
            codec, reason = want, "forced"
        tag, payload, params = encode_column_arrow(arr, codec, cache=cache or None)
        ref_b, raw_b = _ref_and_raw_bytes(
            arr, tag, ref_hint=cache.get("ref_varint_zz")
        )
        st = _zone_map_dict(arr, tag)
        if grp is not None:
            codes, keys = grp
            parts = _group_partials(arr, tag, codes, len(keys))
            st["by"] = {
                "col": stats_group_by,
                "groups": {k: p for k, p in zip(keys, parts) if p is not None},
            }
        cols["chunk_id"].append(chunk_id)
        cols["col_idx"].append(idx)
        cols["column"].append(col)
        cols["dtype"].append(tag)
        cols["codec"].append(codec)
        cols["params"].append(json.dumps(params))
        cols["payload"].append(payload)
        cols["n_values"].append(len(arr))
        cols["raw_bytes"].append(raw_b)
        cols["ref_bytes"].append(ref_b)
        cols["enc_bytes"].append(len(payload))
        cols["crc32"].append(zlib.crc32(payload))
        cols["reason"].append(reason)
        cols["stats"].append(json.dumps(st))
    return pa.table(cols, schema=_ENC_ARROW)


def make_encode_chunk_fn(
    columns: list[str],
    codecs: dict[str, str],
    sort_key: str | None,
    stats_group_by: str | None = None,
):
    """Build the applyInArrow chunk encoder (closure shipped to executors).
    A group's ``__chunk`` value is its logical chunk id, emitted as
    ``chunk_id``."""

    def encode_chunk(table: pa.Table) -> pa.Table:
        chunk_id = int(table["__chunk"][0].as_py())
        if sort_key is not None:
            table = table.take(pc.sort_indices(table[sort_key]))
        return _encode_columns_to_rows(
            table, columns, codecs, chunk_id, stats_group_by=stats_group_by
        )

    return encode_chunk


def _check_n_chunks(n_chunks) -> None:
    """Chunk ids are IntegerType partition ids, so ``n_chunks`` must be an
    int in [1, 2**31 - 1]; checked on the driver, before any job."""
    if (
        isinstance(n_chunks, bool)
        or not isinstance(n_chunks, int)
        or not 1 <= n_chunks < 2**31
    ):
        raise ValueError(
            f"n_chunks must be an int in [1, 2**31 - 1], got {n_chunks!r}"
        )


def _chunk_exchange(
    frame: DataFrame, n_chunks: int, fn, key: str = "__chunk", only: list[int] | None = None
) -> DataFrame:
    """The one exchange of every batch hash-chunk encode: the rows of
    chunk ``c`` (the IntegerType ``key`` column, the logical chunk id) go
    to reduce partition ``c mod n``, ``n = min(n_chunks,
    defaultParallelism)``, and ``fn`` encodes each chunk's group there.
    ``only``: keep just these chunks (a store's pending ones), through a
    broadcast semi-join on a LocalRelation of them.

    Placement is computed, not hashed: every partition holds floor or
    ceil(n_chunks / n) chunks, so the stage runs one wave on all cores
    (raw ids hashed into n partitions would leave about 1/e of them empty
    and pile chunks on the straggler).  ``n`` is pinned: AQE sizes
    partitions by bytes, but this stage is CPU-bound with a fixed per-task
    cost, and it never coalesces a REPARTITION_BY_NUM exchange.  ``key``
    must be the IntegerType grouping column itself; a cast or any other
    expression makes Spark plan a second hash exchange for the
    ``groupBy``."""
    if only is not None:
        ids = T.StructType([T.StructField(key, T.IntegerType())])
        keep = _local_frame(frame.sparkSession, [(c,) for c in only], ids)
        frame = frame.join(F.broadcast(keep), key, "left_semi")
    n = max(1, min(n_chunks, frame.sparkSession.sparkContext.defaultParallelism))
    return (
        frame.repartitionById(n, key)
        .groupBy(key)
        .applyInArrow(fn, schema=ENCODED_SCHEMA)
    )


def _encode_args(
    names: list[str],
    columns: list[str] | None,
    codecs: dict[str, str] | None,
    stats_group_by: str | None,
) -> tuple[list[str], dict[str, str]]:
    """Argument check shared by the encode entry points, before any job:
    defaults ``columns`` to every input column (``names``), rejects codecs
    for columns that are not encoded and a ``stats_group_by`` outside
    ``columns``."""
    columns = columns or names
    codecs = codecs or {}
    unknown = set(codecs) - set(columns)
    if unknown:
        raise ValueError(f"codecs for unknown columns: {sorted(unknown)}")
    if stats_group_by is not None and stats_group_by not in columns:
        raise ValueError(
            f"stats_group_by column {stats_group_by!r} must be one of the "
            f"encoded columns (grouped aggregation needs it decodable for "
            f"the fallback path)"
        )
    return columns, codecs


def _spark_xxhash64(karr: pa.Array) -> np.ndarray:
    """Spark's ``xxhash64`` of a key column, from the bit-exact numpy XXH64
    kernels (kernels/xxh64.py): integers hash as 8-byte longs,
    string/binary as their bytes, NULL as the seed."""
    from ..kernels.xxh64 import xxh64_bytes_bo, xxh64_int64

    nulls = None
    if karr.null_count:
        nulls = pc.is_null(karr).to_numpy(zero_copy_only=False)
        karr = pc.fill_null(
            karr,
            "" if pa.types.is_string(karr.type)
            or pa.types.is_large_string(karr.type)
            else b"" if pa.types.is_binary(karr.type)
            or pa.types.is_large_binary(karr.type)
            else 0,
        )
    if pa.types.is_integer(karr.type):
        h = xxh64_int64(karr.cast(pa.int64()).to_numpy(zero_copy_only=False))
    else:
        blob, offs = arrow_to_bo(karr)
        h = xxh64_bytes_bo(blob, offs)
    if nulls is not None:
        h[nulls] = 42  # xxhash64(NULL) = the seed, per Spark
    return h


FRAG_SCHEMA = T.StructType(
    ENCODED_SCHEMA.fields
    + [T.StructField("__gkey", T.IntegerType()), T.StructField("__frag", T.LongType())]
)


def _encode_fragment_rows(
    table: pa.Table, columns: list[str], chunk_id: int
) -> pa.Table:
    """Lean encoder for INTERMEDIATE fragment rows (fragment-merge
    topology): fixed cheap codec policy — for_bitpack for integer
    domains (min/max only, packs clustered keys hard), raw64 for f64,
    raw_str for strings — and no ref/zone/grouped stats (the merge
    re-encodes the whole chunk with the full machinery, so only payload
    + params + crc matter here).  ~5x cheaper than the auto-choice
    encoder, which is pure overhead for rows that live one shuffle."""
    cols: dict[str, list] = {k.name: [] for k in _ENC_ARROW}
    for idx, col in enumerate(columns):
        arr = table[col].combine_chunks()
        tag = arrow_tag(arr.type)
        codec = "raw_str" if tag in STR_TAGS else (
            "raw64" if tag == "f64" else "for_bitpack"
        )
        tag, payload, params = encode_column_arrow(arr, codec)
        cols["chunk_id"].append(chunk_id)
        cols["col_idx"].append(idx)
        cols["column"].append(col)
        cols["dtype"].append(tag)
        cols["codec"].append(codec)
        cols["params"].append(json.dumps(params))
        cols["payload"].append(payload)
        cols["n_values"].append(len(arr))
        cols["raw_bytes"].append(0)
        cols["ref_bytes"].append(0)
        cols["enc_bytes"].append(len(payload))
        cols["crc32"].append(zlib.crc32(payload))
        cols["reason"].append("fragment")
        cols["stats"].append(None)
    return pa.table(cols, schema=_ENC_ARROW)


def _frag_id(pid, ordinal, n_chunks: int):
    """A fragment's ``__frag`` tag: unique across the scan's tasks and
    ordered by (task, ordinal), which the merge's sort relies on.  A task
    emits at most one fragment per chunk, so ``ordinal < n_chunks``."""
    return pid * n_chunks + ordinal


def _encode_table_fragment_merge(
    df: DataFrame,
    scan,
    key: str,
    columns: list[str],
    codecs: dict[str, str],
    n_chunks: int,
    sort_within_chunk: bool,
    stats_group_by: str | None,
) -> DataFrame:
    """Hash-chunk encode that never shuffles raw rows (guide §8: decide
    with small rows, move big rows once — here the heavy bytes move only
    as compressed fragments).

    The one-shuffle :func:`encode_table` pays twice per value on tables
    like lineitem: the JVM row->Arrow transpose into Python (measured
    2.9 s of a 5.5 s encode at sf1.0) and the raw-row shuffle (~1.6 s).
    This topology re-orders the pipeline:

    1. python-side scan (pyscan.py): each task reads its parquet split
       directly, computes chunk membership with the bit-exact numpy XXH64
       (``pmod(xxh64(key), n_chunks)`` == Spark's expression), and encodes
       each chunk's rows as a FRAGMENT — lean fixed codecs
       (:func:`_encode_fragment_rows`), so fragments ship compressed
       (clustered integer keys pack hard under for_bitpack);
    2. ONE shuffle of the fragments (a few KB-MB rows, no transpose),
       grouped on ``__gkey``, the int logical chunk id: chunk ``c`` goes
       to reduce partition ``c mod n`` (:func:`_chunk_exchange`);
    3. per chunk: decode fragments, concatenate, key-sort, and re-encode
       the whole chunk with the standard machinery — the emitted rows
       satisfy the identical contract (chunk ids, codec auto-choice,
       stats, grouped partials).

    Worth it only when decode+re-encode is cheap relative to the raw-row
    transpose+shuffle — i.e. integer-dominated tables; the caller gates
    on the parquet footers' BYTE_ARRAY byte fraction."""
    spark = df.sparkSession
    frag_columns = list(columns) + ([key] if key not in columns else [])

    from ..kernels.xxh64 import pmod as _pmod

    def frag_fn(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        batches = list(batches)
        if not batches:
            return
        table = pa.Table.from_batches(batches)
        code = _pmod(_spark_xxhash64(table[key].combine_chunks()), n_chunks)
        order = np.argsort(code, kind="stable")
        table = table.take(pa.array(order))
        cv = code[order]
        starts = np.concatenate(
            [[0], np.flatnonzero(cv[1:] != cv[:-1]) + 1, [len(cv)]]
        )
        for ordinal, (a, b) in enumerate(zip(starts[:-1], starts[1:])):
            frag = table.slice(a, b - a)
            logical = int(cv[a])
            enc = _encode_fragment_rows(frag, frag_columns, logical)
            k = enc.num_rows
            enc = enc.append_column(
                "__gkey", pa.array(np.full(k, logical, np.int32))
            )
            enc = enc.append_column(
                "__frag",
                pa.array(np.full(k, _frag_id(pid, ordinal, n_chunks), np.int64)),
            )
            yield from enc.to_batches()

    frags = pyscan_map_in_arrow(
        spark, scan, frag_fn, FRAG_SCHEMA,
        columns=frag_columns, group="split", canonical_ts=True,
    )

    def merge_fn(table: pa.Table) -> pa.Table:
        logical = int(table["chunk_id"][0].as_py())
        table = table.take(
            pc.sort_indices(
                table, [("__frag", "ascending"), ("col_idx", "ascending")]
            )
        )
        parts: dict[str, list] = {}
        for r in _iter_enc_rows(table):
            arr = decode_column_arrow(r.dtype, r.codec, r.payload, r.params, r.n_values)
            parts.setdefault(r.column, []).append(arr.cast(tag_to_arrow(r.dtype)))
        tbl = pa.table({c: pa.concat_arrays(parts[c]) for c in frag_columns})
        if sort_within_chunk:
            tbl = tbl.take(pc.sort_indices(tbl[key]))
        return _encode_columns_to_rows(
            tbl, columns, codecs, logical, stats_group_by=stats_group_by
        )

    return _chunk_exchange(frags, n_chunks, merge_fn, "__gkey")


def encode_table(
    df: DataFrame,
    key: str,
    columns: list[str] | None = None,
    codecs: dict[str, str] | None = None,
    n_chunks: int = 32,
    sort_within_chunk: bool = True,
    stats_group_by: str | None = None,
) -> DataFrame:
    """Encode ``df`` into the encoded-chunk DataFrame (FIXTURES.md §4).

    ``key``: chunk-assignment column (url at production scale) — chunk id is
    ``pmod(xxhash64(key), n_chunks)``, so chunk membership is deterministic
    in data only.  The order of equal-key rows within a chunk, and so the
    payload bytes, follows the topology (fragment merge or row shuffle;
    see the module docstring); either decodes to the same rows.
    ``n_chunks``: an int in [1, 2**31 - 1]; chunk ``c`` is encoded in
    reduce partition ``c mod min(n_chunks, defaultParallelism)``.
    ``codecs``: per-column codec name or "auto" (default: auto for all).
    ``sort_within_chunk``: sort chunk rows by ``key`` before encoding —
    deterministic value order (resume/verify) and better run/delta locality.
    ``stats_group_by``: declared low-cardinality group column whose exact
    per-chunk per-group partials ride the stats JSON — enables
    ``decode_aggregate(group_by=...)`` to run O(chunks) from metadata.
    """
    _check_n_chunks(n_chunks)
    columns, codecs = _encode_args(df.columns, columns, codecs, stats_group_by)
    # fragment-merge fast path: integer-dominated bare parquet scans skip
    # the raw-row shuffle AND the JVM row->Arrow transpose (see
    # _encode_table_fragment_merge).  String-heavy tables stay on the
    # row-shuffle path — their decode+re-encode (FSST) would cost more
    # than the transpose saves.
    scan = parquet_scan_info(df)
    if scan is not None:
        from .pyscan import _group_by_size, byte_array_fraction

        key_type = dict(df.dtypes).get(key)
        try:
            mpb = int(df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes"))
        except Exception:
            mpb = 128 << 20
        n_groups = len(_group_by_size(
            scan[0], mpb, df.sparkSession.sparkContext.defaultParallelism
        ))
        # measured gate: the two-stage topology wins only when stage 1 can
        # actually parallelize (sf1.0 lineitem, 6 row groups: 3.3s vs 5.5s;
        # sf0.1, ONE row group: 3.6s vs 1.8s — a serial stage 1 loses)
        if (
            key_type in ("string", "binary", "bigint")
            and n_groups >= 4
            and byte_array_fraction(scan[0]) < 0.25
        ):
            return _encode_table_fragment_merge(
                df, scan, key, columns, codecs, n_chunks,
                sort_within_chunk, stats_group_by,
            )
    chunk = F.pmod(F.xxhash64(F.col(key)), F.lit(n_chunks)).cast("int").alias("__chunk")
    fn = make_encode_chunk_fn(
        columns, codecs, key if sort_within_chunk else None, stats_group_by
    )
    # the sort key must ride along even when not an encoded column, else the
    # chunk sort would KeyError at executor time; it is never encoded (the
    # encode loop iterates `columns` only)
    select_cols = list(columns) + ([key] if sort_within_chunk and key not in columns else [])
    return _chunk_exchange(df.select(*select_cols, chunk), n_chunks, fn)


def encode_table_per_split(
    df: DataFrame,
    key: str,
    columns: list[str] | None = None,
    codecs: dict[str, str] | None = None,
    target_chunk_bytes: int = 32 << 20,
    stats_group_by: str | None = None,
) -> DataFrame:
    """SHUFFLE-FREE ingest encode: each scan partition's Arrow batches are
    packed into ~``target_chunk_bytes`` chunks and encoded in place — zero
    exchanges, so encode throughput scales with scan parallelism only.

    This is the 100 TB ingest path: re-encoding a crawl table should not
    shuffle the whole table; it encodes per input split, exactly like a
    columnar writer.  The trade-offs vs :func:`encode_table`:

    * chunk membership follows the INPUT FILE LAYOUT (stable for immutable
      files, e.g. closed crawl segments), not a pure function of row
      values — use the hash-chunk path (or :func:`compact_store`) when you
      need layout-independent resume/verify identities;
    * no global clustering by key — rows are key-sorted *within* each
      chunk, so run/delta locality still holds locally.

    chunk_id = low 63 bits of blake2b(partition id || ordinal-in-partition
    || first key || n_rows) — deterministic for a fixed layout; the
    partition id makes ids unique ACROSS scan partitions (ordinal alone
    resets per task, and (first_key, n_rows) recur for duplicate-keyed
    data with uniform Arrow batch sizes)."""
    import hashlib

    from pyspark import TaskContext

    columns, codecs = _encode_args(df.columns, columns, codecs, stats_group_by)
    select_cols = list(columns) + ([key] if key not in columns else [])

    def fn(batches):
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        buf: list[pa.RecordBatch] = []
        buf_bytes = 0
        ordinal = 0

        def flush():
            nonlocal buf, buf_bytes, ordinal
            table = pa.Table.from_batches(buf)
            buf, buf_bytes = [], 0
            table = table.take(pc.sort_indices(table[key]))
            first_key = table[key][0].as_py()
            h = hashlib.blake2b(
                repr((pid, ordinal, first_key, table.num_rows)).encode(),
                digest_size=8,
            )
            ordinal += 1
            chunk_id = int.from_bytes(h.digest(), "big") >> 1  # 63-bit, non-negative
            return _encode_columns_to_rows(
                table, columns, codecs, chunk_id, stats_group_by=stats_group_by
            ).to_batches()

        for batch in batches:
            buf.append(batch)
            buf_bytes += batch.nbytes
            if buf_bytes >= target_chunk_bytes:
                yield from flush()
        if buf:
            yield from flush()

    # python-side scan fast path (pyscan.py): when the input is a bare
    # parquet scan, read the files with pyarrow inside the task instead of
    # paying the JVM row->Arrow transpose (measured ~4.7 s per 4.9 GB scan)
    scan = parquet_scan_info(df)
    if scan is not None:
        return pyscan_map_in_arrow(
            df.sparkSession, scan, fn, ENCODED_SCHEMA,
            columns=select_cols, group="split", canonical_ts=True,
        )
    return df.select(*select_cols).mapInArrow(fn, schema=ENCODED_SCHEMA)


BUCKETED_SCHEMA = T.StructType(ENCODED_SCHEMA.fields + [T.StructField("bucket", T.LongType())])


def encode_table_bucketed(
    df: DataFrame,
    key: str,
    columns: list[str] | None = None,
    codecs: dict[str, str] | None = None,
    n_buckets: int = 32,
    stats_group_by: str | None = None,
) -> DataFrame:
    """Hash-clustered encode that shuffles COMPRESSED bytes, not raw rows.

    The one-shuffle :func:`encode_table` moves the whole raw table through
    the exchange (scan + shuffle write + shuffle read + Arrow IPC ≈ 4x the
    input over one memory bus — the measured scaling bottleneck, see
    BASELINE.md).  This staged variant keeps the url-hash clustering but
    re-orders the pipeline:

    1. per scan partition (ZERO exchanges): sort rows by (bucket, key)
       where ``bucket = pmod(xxhash64(key), n_buckets)``, slice at bucket
       boundaries, and encode each slice as its own chunk (unique
       blake2b chunk_id, ``bucket`` column carried through);
    2. the caller clusters with ``.repartition("bucket")`` +
       ``write.partitionBy("bucket", ...)`` — the only exchange ships
       encoded fragments at the compressed ratio (~0.3x), entirely
       JVM-side (no second Python hop).

    All rows of a bucket land in one partition directory, so key-equality
    lookups prune to one bucket via PartitionFilters and zone maps prune
    fragments within it.  Like :func:`encode_table_per_split`, chunk ids
    are layout-deterministic (not value-pure): lock the layout for resume
    (see ``sources.checkpoint._lock_layout``) or re-cluster via
    ``compact_store``.

    Sizing: fragment count is (scan partitions x n_buckets) — size
    ``n_buckets`` so a bucket holds at least tens of MB (e.g.
    ``total_bytes / (64 << 20)``), and write ``partitionBy("bucket")``
    ONLY (fragments ride as rows; a two-level
    ``partitionBy("bucket", "chunk_id")`` creates P x B directories,
    measured 10x slower at small scale from filesystem metadata alone)."""
    columns, codecs = _encode_args(df.columns, columns, codecs, stats_group_by)
    select_cols = list(columns) + ([key] if key not in columns else [])
    bucket_col = F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).alias("__bucket")

    def fn(batches):
        import hashlib

        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        batches = list(batches)
        if not batches:
            return
        table = pa.Table.from_batches(batches)
        # one multi-key sort gives bucket grouping AND key order per bucket
        table = table.take(pc.sort_indices(table, [("__bucket", "ascending"), (key, "ascending")]))
        bv = table["__bucket"].to_numpy(zero_copy_only=False)
        starts = np.concatenate([[0], np.flatnonzero(bv[1:] != bv[:-1]) + 1, [len(bv)]])
        # train string symbol tables ONCE per (partition, column): with
        # P x n_buckets small fragments, per-fragment FSST training would
        # dominate encode cost (measured 7x slowdown without sharing).
        # Training is LAZY (memoizing thunk, fired on the first fragment
        # whose auto-chosen codec is fsst) so columns that end up
        # dict/rle/raw never pay it.
        def _lazy_fsst_table(blob, offs):
            memo = {}

            def get():
                if "t" not in memo:
                    memo["t"] = STR_CODECS["fsst"].train(blob, offs)
                return memo["t"]

            return get

        shared: dict[str, dict] = {}
        for col in columns:
            arr = table[col].combine_chunks()
            tag = arrow_tag(arr.type)
            if tag in STR_TAGS:
                if arr.null_count:
                    arr = pc.fill_null(arr, "" if tag == "str" else b"")
                blob, offs = arrow_to_bo(arr)
                shared[col] = {"fsst_table_fn": _lazy_fsst_table(blob, offs)}
        for a, b in zip(starts[:-1], starts[1:]):
            frag = table.slice(a, b - a).drop_columns("__bucket")
            bucket = int(bv[a])
            h = hashlib.blake2b(
                repr((pid, bucket, frag[key][0].as_py(), frag.num_rows)).encode(),
                digest_size=8,
            )
            chunk_id = int.from_bytes(h.digest(), "big") >> 1
            enc = _encode_columns_to_rows(
                frag, columns, codecs, chunk_id,
                shared_cache=shared, stats_group_by=stats_group_by,
            )
            enc = enc.append_column("bucket", pa.array(np.full(enc.num_rows, bucket, np.int64)))
            yield from enc.to_batches()

    # python-side scan fast path (pyscan.py): read the input files with
    # pyarrow inside the task and compute the bucket with the numpy XXH64
    # kernel (bit-identical to Spark's xxhash64 — kernels/xxh64.py, pinned
    # by tests), skipping the JVM row->Arrow transpose of the whole raw
    # table.  Only for key types whose Spark hashing the kernel replicates
    # (string/binary utf8 bytes, LongType 8-byte LE).
    scan = parquet_scan_info(df)
    key_type = dict(df.dtypes).get(key)
    if scan is not None and key_type in ("string", "binary", "bigint"):
        from ..kernels.xxh64 import pmod as _pmod

        def fn_with_bucket(batches):
            def gen():
                for b in batches:
                    t = pa.Table.from_batches([b])
                    bucket = _pmod(_spark_xxhash64(t[key].combine_chunks()), n_buckets)
                    t = t.append_column("__bucket", pa.array(bucket, pa.int64()))
                    yield from t.to_batches()

            yield from fn(gen())

        return pyscan_map_in_arrow(
            df.sparkSession, scan, fn_with_bucket, BUCKETED_SCHEMA,
            columns=select_cols, group="split", canonical_ts=True,
        )
    return df.select(*select_cols, bucket_col).mapInArrow(fn, schema=BUCKETED_SCHEMA)


def column_meta(enc: DataFrame) -> list:
    """(col_idx, column, dtype) rows describing an encoded table, sorted by
    (col_idx, column, dtype) — one tiny planning query; pass to decode_table
    to avoid re-running it.  The rows are sorted on the driver: a Spark
    orderBy would add a range-sampling job and a second exchange."""
    rows = enc.select("col_idx", "column", "dtype").distinct().collect()
    return sorted(rows, key=lambda r: (r["col_idx"], r["column"], r["dtype"]))


class _EncRow(NamedTuple):
    """One encoded-chunk row as the decode paths see it."""

    column: str
    dtype: str | None  # None when the batch does not carry the field
    codec: str
    payload: memoryview
    params: dict
    chunk_id: int
    n_values: int
    stats: dict | None  # parsed only on request


def _iter_enc_rows(batch, with_stats: bool = False):
    """The one reader of encoded-chunk rows (an Arrow batch or table):
    yields :class:`_EncRow` with every payload checked against its stored
    CRC (rows of stores that predate the crc32 field skip the check).
    Payloads come out as zero-copy memoryviews over the Arrow buffer —
    every decode kernel reads them via ``np.frombuffer``; ``params`` is
    parsed, ``stats`` only when ``with_stats``."""
    names = set(batch.schema.names)

    def pylist(name: str, want: bool = True) -> list:
        if want and name in names:
            return batch.column(name).to_pylist()
        return [None] * batch.num_rows

    payloads = batch.column("payload")
    fields = zip(
        *map(pylist, ("column", "dtype", "codec", "params", "chunk_id", "n_values", "crc32")),
        pylist("stats", with_stats),
    )
    for i, (name, dtype, codec, params, cid, nv, crc, st) in enumerate(fields):
        payload = memoryview(payloads[i].as_buffer())
        if crc is not None and zlib.crc32(payload) != crc:
            raise IOError(
                f"payload corruption: chunk {cid} column {name!r} "
                f"crc mismatch (stored {crc})"
            )
        yield _EncRow(
            name, dtype, codec, payload, json.loads(params), cid, nv,
            json.loads(st) if st else None,
        )


_PRED_OPS = {
    ">=": pc.greater_equal,
    ">": pc.greater,
    "<=": pc.less_equal,
    "<": pc.less,
    "==": pc.equal,
    "!=": pc.not_equal,
}


def _normalize_where(where) -> list[tuple]:
    """``where`` is a conjunction of (column, op, literal) conditions —
    the pushdown-able predicate language.  Ops: ``>= > <= < == !=``, plus
    ``in`` (literal = list of values) and ``between`` (literal =
    (lo, hi) inclusive — zone-map-prunable on both bounds)."""
    conds = []
    for cond in where or []:
        col, op, val = cond
        if op == "between":
            lo, hi = val
            conds.append((col, ">=", lo))
            conds.append((col, "<=", hi))
            continue
        if op not in _PRED_OPS and op != "in":
            raise ValueError(
                f"unsupported predicate op {op!r} (have {sorted(_PRED_OPS)} + ['in', 'between'])"
            )
        conds.append((col, op, val))
    return conds


def _stats_exclude(conds: list[tuple], stats_by_col: dict) -> bool:
    """True when any condition provably matches NO row of the chunk, per
    the per-chunk min/max zone maps (int64 domain; ts/date/bool columns
    compare against their int64 representation)."""
    def is_num(v):
        return isinstance(v, (int, float)) and not isinstance(v, bool)

    for col, op, val in conds:
        s = stats_by_col.get(col)
        if not s:
            continue
        lo, hi = s.get("min"), s.get("max")
        if lo is None or hi is None:
            continue
        if op == "in":
            if all(is_num(v) for v in val) and all(not (lo <= v <= hi) for v in val):
                return True
            continue
        if not is_num(val):
            continue
        if (
            (op in (">=", ">") and hi < val)
            or (op == ">" and hi <= val)
            or (op in ("<=", "<") and lo > val)
            or (op == "<" and lo >= val)
            or (op == "==" and not (lo <= val <= hi))
        ):
            return True
    return False


def _apply_where(decoded: dict, conds: list[tuple]):
    """AND of the conditions over decoded Arrow arrays -> bool mask (or
    None when no condition applies)."""
    mask = None
    for col, op, val in conds:
        arr = decoded[col]
        if op == "in":
            m = pc.is_in(arr, value_set=pa.array(list(val)).cast(arr.type))
        else:
            m = _PRED_OPS[op](arr, pa.scalar(val, arr.type))
        mask = m if mask is None else pc.and_(mask, m)
    return mask


def _spark_arrow_type(tag: str) -> pa.DataType:
    """Spark-facing arrow type of a dtype tag: 32-bit-offset string/binary,
    UTC timestamps."""
    if tag == "str":
        return pa.string()
    if tag == "bin":
        return pa.binary()
    if tag == "ts_us":
        return pa.timestamp("us", tz="UTC")
    return tag_to_arrow(tag)


class _ChunkDecoder:
    """The one chunk-decode core behind :func:`decode_table` and
    :func:`decode_table_colocated`, built once per call and shipped to the
    executors.

    ``read`` is the column subset to fetch (None = all): the requested
    ``columns`` plus predicate-only columns, which are decoded for the mask
    and dropped from the output.  :meth:`decode` evaluates ``where`` three
    tiers deep:

    1. zone-map chunk skip: a chunk whose min/max stats provably exclude
       the predicate decodes NOTHING (no payload bytes touched);
    2. predicate-first decode: only the predicate columns decode first,
       and the chunk bails before the rest when no row matches; the
       remaining columns then decode the SELECTED rows only;
    3. row filter: only matching rows cross Arrow IPC — at 100 TB the
       IPC-out volume is the selectivity, not the table."""

    def __init__(self, meta: list, columns: list[str] | None, where):
        self.conds = _normalize_where(where)
        self.read = columns
        if columns is not None and self.conds:
            pred_only = {c for c, _, _ in self.conds} - set(columns)
            self.read = list(columns) + sorted(pred_only)
        if self.read is not None:
            missing = set(self.read) - {r["column"] for r in meta}
            if missing:
                raise ValueError(f"unknown columns: {sorted(missing)}")
            meta = [r for r in meta if r["column"] in set(self.read)]
        self.columns = [r["column"] for r in meta]
        self.tags = {r["column"]: r["dtype"] for r in meta}
        self.out_cols = [c for c in self.columns if columns is None or c in set(columns)]
        self.pred_cols = list(dict.fromkeys(c for c, _, _ in self.conds))
        unknown_pred = set(self.pred_cols) - set(self.columns)
        if unknown_pred:
            raise ValueError(f"where references unknown columns: {sorted(unknown_pred)}")
        self.spark_schema = T.StructType(
            [T.StructField("__chunk", T.LongType())]
            + [T.StructField(c, _TAG_TO_SPARK[self.tags[c]]) for c in self.out_cols]
        )
        self.arrow_schema = pa.schema(
            [("__chunk", pa.int64())]
            + [(c, _spark_arrow_type(self.tags[c])) for c in self.out_cols]
        )

    def prune(self, enc: DataFrame) -> DataFrame:
        """Column pruning through the codec layer: the encoded table is one
        row per (chunk, column), so selecting a column subset is a plain
        filter on ``column`` — which Catalyst pushes down to the
        encoded-store parquet scan (PushedFilters: In(column, ...)),
        skipping the pruned columns' payload bytes entirely."""
        if self.read is None:
            return enc
        return enc.filter(F.col("column").isin(list(self.read)))

    def rows(self, batch):
        """:func:`_iter_enc_rows` with the stats this decoder needs."""
        return _iter_enc_rows(batch, with_stats=bool(self.conds))

    def decode(self, rows: dict[str, _EncRow]) -> pa.RecordBatch | None:
        """One chunk's rows (column -> row, every ``self.columns`` entry)
        -> its output batch, or None when no row survives ``where``."""
        first = next(iter(rows.values()))
        n, chunk_id = first.n_values, first.chunk_id
        conds = self.conds
        if conds and _stats_exclude(
            conds, {c: r.stats for c, r in rows.items() if r.stats}
        ):
            return None
        out_set = set(self.out_cols)
        decoded: dict[str, pa.Array] = {}

        def get(c):
            if c not in decoded:
                r = rows[c]
                arr = decode_column_arrow(self.tags[c], r.codec, r.payload, r.params, n)
                if c in out_set:
                    arr = arr.cast(self.arrow_schema.field(c).type)
                decoded[c] = arr
            return decoded[c]

        mask = sel = None
        if conds:
            for c in self.pred_cols:
                get(c)
            mask = pc.fill_null(_apply_where(decoded, conds), False)
            sel = np.flatnonzero(mask.to_numpy(zero_copy_only=False))
            if sel.size == 0:
                return None
        out = []
        for c in self.out_cols:
            if sel is not None and c not in decoded:
                r = rows[c]
                out.append(
                    decode_column_arrow(
                        self.tags[c], r.codec, r.payload, r.params, n, sel
                    ).cast(self.arrow_schema.field(c).type)
                )
            else:
                arr = get(c)
                out.append(pc.filter(arr, mask) if mask is not None else arr)
        m = n if sel is None else sel.size
        return pa.RecordBatch.from_arrays(
            [pa.array(np.full(m, chunk_id, dtype=np.int64))] + out,
            schema=self.arrow_schema,
        )


def decode_table(
    enc: DataFrame,
    meta: list | None = None,
    columns: list[str] | None = None,
    where: list[tuple] | None = None,
) -> DataFrame:
    """Inverse of :func:`encode_table`: encoded chunks -> original rows.

    Self-describing (schema from the dtype tags); one groupBy on chunk_id.
    ``meta``: precomputed :func:`column_meta` (skips the planning job).
    ``columns``: decode only this subset (projection pushdown — pruned
    columns' payloads are never read, decoded, or shipped over Arrow).
    ``where``: filter pushdown — a conjunction of ``(column, op,
    literal)`` conditions (see :func:`_normalize_where`) evaluated inside
    the decode UDF, three tiers deep (:class:`_ChunkDecoder`): zone-map
    chunk skip, predicate-first decode, row filter.  Predicate columns need
    not be in ``columns``; they are decoded for the mask and dropped."""
    if meta is None:
        meta = column_meta(enc)
    dec = _ChunkDecoder(meta, columns, where)

    def decode_chunk(table: pa.Table) -> pa.Table:
        got = dec.decode({r.column: r for r in dec.rows(table)})
        if got is None:
            return dec.arrow_schema.empty_table()
        return pa.Table.from_batches([got])

    return dec.prune(enc).groupBy("chunk_id").applyInArrow(
        decode_chunk, schema=dec.spark_schema
    )


def decode_table_colocated(
    enc: DataFrame,
    meta: list | None = None,
    columns: list[str] | None = None,
    check_layout: bool = True,
    where: list[tuple] | None = None,
) -> DataFrame:
    """Shuffle-FREE decode for chunk-partitioned encoded tables.

    :func:`decode_table` groups by chunk_id (one shuffle).  When the input
    is an :class:`EncodedStore` read (written ``partitionBy(chunk_id)``, one
    parquet file of ~12 rows per chunk, never split across scan partitions),
    all rows of a chunk already arrive in the same task — so decode is a
    pure ``mapInArrow`` over the scan: zero exchanges.  This is the 100 TB
    read path: decode throughput scales with scan parallelism only.

    ``check_layout``: probe colocation first (a cheap job reading only the
    chunk_id column — payloads are column-pruned away) and fall back to the
    shuffled :func:`decode_table` when any chunk is split across scan
    partitions (e.g. tiny ``maxPartitionBytes``), instead of erroring
    mid-job.  The executor-side hard error remains as the last-resort
    guard against silent data loss when the check is skipped.

    ``columns`` / ``where``: projection and filter pushdown, exactly as in
    :func:`decode_table` (same :class:`_ChunkDecoder`)."""
    # python-side scan fast path (pyscan.py): a bare parquet store scan is
    # executed inside the Python task (pyarrow reader, one task per
    # partition directory), skipping both the JVM row->Arrow transpose and
    # — because a directory can never split across tasks — the colocation
    # probe.  Measured gates (bench_logs A/B, 10M + sf0.1):
    # * column-subset reads stay on the JVM scan — Spark's parquet reader
    #   skips non-matching payload PAGES via the column index, which a
    #   whole-file pyarrow read cannot (pruned decode 1.3x slower there);
    # * small stores stay on the JVM scan — per-Python-task overhead beat
    #   the transpose saving below ~4 MB per directory group (measured
    #   while every Python task re-read its zip directories, about 0.2 s;
    #   the local-master worker daemon, _worker_daemon.py, removed that
    #   cost, and the threshold has not been re-measured since);
    # * a store whose files all share one directory would serialize into a
    #   single task — JVM scan.
    scan = parquet_scan_info(enc) if columns is None else None
    if scan is not None:
        from .pyscan import _group_by_dir, _total_bytes

        groups = _group_by_dir(scan[0])
        if len(groups) < min(4, len(scan[0])) or _total_bytes(scan[0]) < (
            4 << 20
        ) * len(groups):
            scan = None
    if check_layout and scan is None:
        split = (
            enc.select(F.spark_partition_id().alias("__p"), "chunk_id")
            .groupBy("chunk_id")
            .agg(F.countDistinct("__p").alias("__np"))
            .filter(F.col("__np") > 1)
            .limit(1)
            .count()
        )
        if split:
            import warnings

            warnings.warn(
                "encoded table is not chunk-colocated (a chunk spans scan "
                "partitions); falling back to the one-shuffle decode_table()"
            )
            return decode_table(enc, meta, columns, where=where)
    if meta is None:
        meta = column_meta(enc)
    dec = _ChunkDecoder(meta, columns, where)

    def fn(batches):
        pending: dict[int, dict] = {}
        for batch in batches:
            for r in dec.rows(batch):
                rows = pending.setdefault(r.chunk_id, {})
                rows[r.column] = r
                if len(rows) == len(dec.columns):
                    got = dec.decode(pending.pop(r.chunk_id))
                    if got is not None:
                        yield got
        # chunks missing columns at end-of-partition indicate a layout that
        # split a chunk across partitions — decode_table (shuffled) handles
        # those; here it is a hard error to avoid silent data loss
        if pending:
            raise RuntimeError(
                f"chunks {sorted(pending)} not fully co-located in one scan "
                "partition; use decode_table() instead"
            )

    if scan is not None:
        need = ["chunk_id", "column", "codec", "payload", "params",
                "n_values", "crc32"] + (["stats"] if dec.conds else [])
        return pyscan_map_in_arrow(
            enc.sparkSession, scan, fn, dec.spark_schema,
            columns=need, column_filter=list(dec.columns), group="dir",
        )
    return dec.prune(enc).mapInArrow(fn, schema=dec.spark_schema)


_AGG_SCHEMA = T.StructType(
    [
        T.StructField("column", T.StringType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_nulls", T.LongType()),
        T.StructField("sum_exact", T.StringType()),
        T.StructField("min_exact", T.StringType()),
        T.StructField("max_exact", T.StringType()),
        T.StructField("sum_bytes", T.LongType()),
    ]
)

_GAGG_SCHEMA = T.StructType(
    [
        T.StructField("group", T.StringType()),
        T.StructField("column", T.StringType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_nulls", T.LongType()),
        T.StructField("sum_exact", T.StringType()),
        T.StructField("min_exact", T.StringType()),
        T.StructField("max_exact", T.StringType()),
        T.StructField("sum_bytes", T.LongType()),
    ]
)

# one partial row of every aggregate tier: the answer row keyed by
# (group, column), group null when ungrouped, plus ``ok``, 0 when a
# chunk's stats lack what the answer needs
_PART_SCHEMA = T.StructType(_GAGG_SCHEMA.fields + [T.StructField("ok", T.LongType())])


def _rows_to_arrow(rows, schema: T.StructType) -> pa.Table:
    return pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )


def _local_frame(spark, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """Driver-side result rows as a DataFrame over a LocalRelation.  Built
    from Arrow, its ``collect()`` runs no Spark job; built from a list of
    rows, it would be a Python RDD that runs a Python task per action."""
    return spark.createDataFrame(_rows_to_arrow(rows, schema), schema=schema)


def _agg_row_analytic(tag: str, codec: str, payload, params: dict, nv: int):
    """Exact per-chunk aggregate partials computed from the PAYLOAD
    STRUCTURE without materializing decoded values (guide §1.2: don't
    compute things you throw away).  Returns the partial-row tuple
    (n_nulls, sum_exact, min_exact, max_exact, sum_bytes) or None when
    this (tag, codec) combination needs the full decode.

    Soundness per case (all against the decode-path semantics):
    * n_nulls: the set bits of the validity bitmap (:func:`split_nulls`),
      which the decode turns into exactly that many nulls.
    * strings, every codec: sum_bytes is the codec's ``value_bytes``, the
      byte total its ``decode_bo`` would return.  Null slots encode as
      empty values, so they add 0 on both paths.
    * f64: only n_nulls is reported (float sums are order-dependent).
    * rle_varint (null-free only): sum = Σ value·run_len in exact Python
      ints, min/max over the run values (every run is non-empty).  With
      nulls the excluded slots sit inside runs — fall back to decode.
    * other integer codecs: decoding IS the aggregate cost — fall back."""
    null_mask, payload = split_nulls(payload, params, nv)
    n_nulls = 0 if null_mask is None else int(null_mask.sum())
    if tag in STR_TAGS:
        return n_nulls, None, None, None, STR_CODECS[codec].value_bytes(payload, params, nv)
    if tag == "f64":
        return n_nulls, None, None, None, None
    if codec == "rle_varint" and n_nulls == 0:
        run_vals, run_lens = INT_CODECS[codec].runs(payload, params)
        if run_vals.size == 0:
            return n_nulls, "0", None, None, None
        total = int((run_vals.astype(object) * run_lens.astype(object)).sum())
        return n_nulls, str(total), str(int(run_vals.min())), str(int(run_vals.max())), None
    return None


def _combine_partials(partials: DataFrame, *keys: str) -> DataFrame:
    """One native groupBy combining the grouped decode tier's partials
    exactly (decimal sums, long min/max); its group count is unbounded."""
    return partials.groupBy(*keys).agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("n_nulls").alias("n_nulls"),
        F.sum(F.col("sum_exact").cast("decimal(38,0)")).cast("string").alias("sum_exact"),
        F.min(F.col("min_exact").cast("long")).cast("string").alias("min_exact"),
        F.max(F.col("max_exact").cast("long")).cast("string").alias("max_exact"),
        F.sum("sum_bytes").alias("sum_bytes"),
    )


# how _fold_agg_rows merges n_rows, n_nulls, sum, min, max, sum_bytes and ok
_AGG_FOLD = (operator.add, operator.add, operator.add, min, max, operator.add, min)


def _fold_agg_rows(rows) -> list[tuple]:
    """The one exact fold of every aggregate tier: ``_PART_SCHEMA`` rows
    per (group, column) with SQL semantics: nulls are skipped and an
    all-null aggregate stays null.  Numbers come as ints or decimal
    strings; sums are Python ints, so no width limit.  Returns one row
    per key, sorted by key, with sum/min/max as strings.  Each task of
    the decode tier and of both stats tiers folds its chunk partials
    with it, and the driver folds the task rows with it."""
    acc: dict[tuple, list] = {}
    for group, column, *vals in rows:
        cur = acc.setdefault((group, column), [None] * len(_AGG_FOLD))
        for i, (op, a, b) in enumerate(zip(_AGG_FOLD, cur, vals)):
            if b is not None:
                cur[i] = int(b) if a is None else op(a, int(b))
    return [
        (g, c, n, nn, *(None if v is None else str(v) for v in (s, lo, hi)), nb, ok)
        for (g, c), (n, nn, s, lo, hi, nb, ok) in sorted(acc.items())
    ]


def _fold_stage(enc: DataFrame, columns: list[str], chunk_partials, cap=None) -> DataFrame:
    """One Python stage over ``columns`` of ``enc`` (lazy): each task
    folds the partial rows ``chunk_partials`` makes of the batches it
    reads and emits the folded rows (at most ``cap + 1`` of them), so no
    per-chunk rows cross the Python->JVM boundary.  Partials need no
    chunk colocation, so the python-side scan packs files by size (one
    wave of tasks), not by chunk directory.  Columns the store lacks are
    not requested."""
    columns = [c for c in columns if c in enc.columns]

    def fn(batches):
        rows = _fold_agg_rows(chunk_partials(batches))
        if cap is not None:
            rows = rows[: cap + 1]
        yield from _rows_to_arrow(rows, _PART_SCHEMA).to_batches()

    scan = parquet_scan_info(enc)
    if scan is not None:
        return pyscan_map_in_arrow(
            enc.sparkSession, scan, fn, _PART_SCHEMA, columns=columns, group="split"
        )
    return enc.select(*columns).mapInArrow(fn, schema=_PART_SCHEMA)


def _collect_partials(stage: DataFrame):
    """Run a :func:`_fold_stage` (one job) and yield its rows, one Arrow
    batch at a time, so only the folded rows outlive their batch."""
    for b in stage.toArrow().to_batches():
        yield from zip(*(b.column(n).to_pylist() for n in _PART_SCHEMA.names))


def _agg_decode_partials(enc: DataFrame) -> DataFrame:
    """The ungrouped decode tier's one Spark stage (lazy), over the
    payload.  Chunks whose (dtype, codec) admits it are aggregated
    straight from the payload structure (:func:`_agg_row_analytic`)
    without materializing the decoded column at all; the rest decode and
    reuse the encode-side exact statistics (:func:`_zone_map_dict`)."""

    def chunk_partials(batches):
        for batch in batches:
            for r in _iter_enc_rows(batch):
                got = _agg_row_analytic(r.dtype, r.codec, r.payload, r.params, r.n_values)
                if got is None:
                    # only integer-family chunks get here (every string
                    # codec and f64 has an analytic answer)
                    st = _zone_map_dict(
                        decode_column_arrow(r.dtype, r.codec, r.payload, r.params, r.n_values),
                        r.dtype,
                    )
                    got = (
                        st["n_nulls"], st["sum"], st.get("min"), st.get("max"), None
                    )
                yield (None, r.column, r.n_values, *got, 1)

    return _fold_stage(
        enc,
        ["chunk_id", "column", "dtype", "codec", "payload", "params", "n_values", "crc32"],
        chunk_partials,
    )


def _agg_decode_path(enc: DataFrame) -> list[tuple]:
    """The ungrouped decode tier's ``_AGG_SCHEMA`` answer rows, sorted by
    column: one job collects :func:`_agg_decode_partials`'s O(tasks x
    columns) rows and the driver folds them."""
    return [r[1:-1] for r in _fold_agg_rows(_collect_partials(_agg_decode_partials(enc)))]


_STATS_COLUMNS = ["column", "dtype", "n_values", "raw_bytes", "stats"]


def _agg_stats_partials(enc: DataFrame, group_by: str | None = None, cap=None) -> DataFrame:
    """The stats tiers' one Spark stage (lazy): it reads only the
    metadata columns, never the payload, and turns each chunk row's
    stats into the decode tier's partial row: per column, or per
    (group, column) from ``stats.by`` when ``group_by`` is given.  ``ok``
    is 0 for a chunk row whose stats lack what its answer needs (no
    ``n_nulls``, no integer ``sum``, no ``stats.by`` for ``group_by``),
    so the caller can send that column to the decode tier.  f64 zone maps
    hold fractional min/max; they never reach the integer fold."""

    def chunk_partials(batches):
        for batch in batches:
            for column, dtype, nv, raw, s in zip(
                *(batch.column(n).to_pylist() for n in _STATS_COLUMNS)
            ):
                st = (json.loads(s) if s else None) or {}
                if group_by is not None:
                    by = st.get("by") or {}
                    if by.get("col") != group_by:
                        yield (NULL_GROUP_KEY, column, *[None] * 6, 0)
                        continue
                    for g, p in by["groups"].items():
                        yield (
                            g, column, p["n"], p["nn"], p.get("sum"),
                            p.get("min"), p.get("max"), p.get("bytes"), 1,
                        )
                    continue
                nn = st.get("n_nulls")
                if dtype in STR_TAGS or dtype == "f64":
                    nb = raw if dtype in STR_TAGS else None
                    yield (None, column, nv, nn, None, None, None, nb, int(nn is not None))
                else:
                    sm = st.get("sum")
                    yield (
                        None, column, nv, nn, sm, st.get("min"), st.get("max"), None,
                        int(nn is not None and sm is not None),
                    )

    return _fold_stage(enc, _STATS_COLUMNS, chunk_partials, cap)


def _degroup_null_key(df: DataFrame) -> DataFrame:
    """Spark-side :func:`_unescape_group_key`: the bare sentinel becomes a
    real SQL NULL; NUL-escaped real keys drop the escape character."""
    g = F.col("group")
    return df.withColumn(
        "group",
        F.when(g == F.lit(NULL_GROUP_KEY), F.lit(None))
        .when(g.startswith(NULL_GROUP_KEY), F.substring("group", 2, 2147483646))
        .otherwise(g),
    )


def _agg_decode_path_grouped(
    enc: DataFrame, group_by: str, out_columns: list[str]
) -> DataFrame:
    """Grouped decode-path aggregation: one applyInArrow per chunk decodes
    the group column plus the selected columns and emits exact per-group
    partials (same arbitrary-precision sum guard as the encode-side
    stats), combined by one native groupBy.  Handles any group
    cardinality — it is both the ``use_stats=False`` path and the
    fallback for chunks whose grouped stats are absent.  Returns exactly
    the ``out_columns`` rows, with real SQL NULL groups."""
    sub = enc.filter(F.col("column").isin(sorted(set(out_columns) | {group_by})))

    def agg_chunk(table: pa.Table) -> pa.Table:
        by_col = {r.column: r for r in _iter_enc_rows(table)}
        if group_by not in by_col:
            raise ValueError(
                f"group column {group_by!r} is not in the encoded table "
                f"(chunk {int(table['chunk_id'][0].as_py())})"
            )
        g = by_col[group_by]
        garr = decode_column_arrow(g.dtype, g.codec, g.payload, g.params, g.n_values)
        codes, keys = _group_codes(garr, max_groups=None)
        out = {k.name: [] for k in _GAGG_SCHEMA.fields}
        for col in out_columns:
            r = by_col.get(col)
            if r is None:
                continue  # pruned upstream
            arr = (
                garr
                if col == group_by
                else decode_column_arrow(r.dtype, r.codec, r.payload, r.params, r.n_values)
            )
            for key, p in zip(keys, _group_partials(arr, r.dtype, codes, len(keys))):
                if p is None:
                    continue
                out["group"].append(key)
                out["column"].append(col)
                out["n_rows"].append(p["n"])
                out["n_nulls"].append(p["nn"])
                out["sum_exact"].append(p.get("sum"))
                out["min_exact"].append(None if p.get("min") is None else str(p["min"]))
                out["max_exact"].append(None if p.get("max") is None else str(p["max"]))
                out["sum_bytes"].append(p.get("bytes"))
        return pa.table(out, schema=to_arrow_schema(_GAGG_SCHEMA))

    partials = sub.groupBy("chunk_id").applyInArrow(agg_chunk, schema=_GAGG_SCHEMA)
    return _degroup_null_key(
        _combine_partials(partials, "group", "column")
    ).filter(F.col("column").isin(out_columns))


def decode_aggregate(
    enc: DataFrame,
    columns: list[str] | None = None,
    use_stats: bool = True,
    group_by: str | None = None,
) -> DataFrame:
    """Aggregate pushdown through the codec layer.

    Every tier answers through one exact fold, :func:`_fold_agg_rows`:
    one Python stage whose tasks each fold the partial rows of the chunks
    they read, then the driver folds the collected task rows.  Sums are
    exact Python ints, with no ``decimal(38,0)`` limit.

    Stats tier (``use_stats``): every chunk row carries exact per-chunk
    statistics written at encode time (n_nulls; exact integer sum as an
    arbitrary-precision string; byte totals via raw_bytes), so the stage
    (:func:`_agg_stats_partials`) reads only the metadata columns — the
    payload is never read and no codec runs.  This is the
    footer-statistics pattern: at 100 TB the aggregate costs O(chunk
    count), not O(data).  The stage doubles as the availability check:
    columns whose chunks lack the needed stats (older stores) are flagged
    by the same stage's ``ok`` and re-answered by the decode tier — no
    separate pre-check scan.  A store with no ``stats`` field at all
    takes the decode tier for every column.

    Decode tier (``use_stats=False``, and the fallback above): the stage
    (:func:`_agg_decode_partials`) computes each chunk's partial row from
    its payload.

    The ungrouped tiers and the grouped stats tier run their one job
    eagerly (plus the decode job for a fallback) and return a local
    relation: collecting it runs no job.  The driver collects O(tasks x
    columns) partial rows; when grouped, O(tasks x groups x columns), at
    most tasks x (``MAX_COLLECTED_GROUP_ROWS`` + 1).

    ``group_by``: GROUP BY a declared group column.  When the table was
    encoded with ``stats_group_by=<same column>``, the grouped stats tier
    answers from the per-chunk per-group partials in ``stats.by``;
    otherwise — or for columns whose grouped stats are absent, or when
    the answer has more than ``MAX_COLLECTED_GROUP_ROWS`` rows — one
    applyInArrow per chunk computes exact per-group partials from the
    payloads (no decoded rows cross the Python->JVM boundary), combined
    by a Spark groupBy, since the group count is unbounded.  Grouped results carry
    ``group`` (string; SQL NULL for null group values) plus per-group
    exact min/max for integer-family columns.

    Returns one row per column (or per (group, column)): ``n_rows`` (incl.
    nulls), ``n_nulls``, ``sum_exact`` (exact integer sum as a string —
    int64/bool/ts-micros/date-days domains; arbitrary-precision, no double
    drift; null for float/string), ``sum_bytes`` (total utf8/binary bytes,
    strings only).

    Needs no chunk colocation except in the grouped decode tier, which
    groups by chunk_id itself."""
    if columns is not None:
        keep = set(columns) | ({group_by} if group_by is not None else set())
        enc = enc.filter(F.col("column").isin(sorted(keep)))
    # a store from before the stats field: every column takes the decode tier
    use_stats = use_stats and "stats" in enc.columns

    if group_by is not None:

        def decode_grouped(out_columns):
            if out_columns is None:
                out_columns = [r["column"] for r in column_meta(enc)]
            return _agg_decode_path_grouped(enc, group_by, out_columns)

        if not use_stats:
            return decode_grouped(columns).orderBy("group", "column")
        cap = MAX_COLLECTED_GROUP_ROWS
        sub = enc if columns is None else enc.filter(F.col("column").isin(columns))
        rows = _fold_agg_rows(_collect_partials(_agg_stats_partials(sub, group_by, cap)))
        if len(rows) > cap:
            return decode_grouped(columns).orderBy("group", "column")
        bad = sorted({r[1] for r in rows if r[-1] != 1})
        good_rows = sorted(
            (
                (_unescape_group_key(g), c, *vals)
                for g, c, *vals, _ok in rows
                if c not in bad
            ),
            # SQL-style NULLS FIRST ordering, computed driver-side: a Spark
            # orderBy on the tiny local result would spin up a full
            # range-partitioning sample job + shuffle (measured ~0.9 s of
            # pure scheduling for 13 rows)
            key=lambda t: (t[0] is not None, t[0] or "", t[1]),
        )
        good_df = _local_frame(enc.sparkSession, good_rows, _GAGG_SCHEMA)
        if bad:
            good_df = good_df.unionByName(decode_grouped(bad)).orderBy("group", "column")
        return good_df

    if not use_stats:
        return _local_frame(enc.sparkSession, _agg_decode_path(enc), _AGG_SCHEMA)

    rows = _fold_agg_rows(_collect_partials(_agg_stats_partials(enc)))
    bad = [r[1] for r in rows if r[-1] != 1]
    out_rows = [r[1:-1] for r in rows if r[-1] == 1]
    if bad:
        out_rows += _agg_decode_path(enc.filter(F.col("column").isin(bad)))
        # sort driver-side: a Spark orderBy on the tiny local result would
        # spin up a range-partitioning sample job + shuffle
        out_rows.sort(key=lambda t: t[0])
    return _local_frame(enc.sparkSession, out_rows, _AGG_SCHEMA)


def prune_chunks_by_range(
    enc: DataFrame, column: str, lo=None, hi=None
) -> DataFrame:
    """Zone-map chunk pruning: drop every chunk whose [min, max] for
    ``column`` cannot intersect [lo, hi] (classic columnar range-scan
    elimination — at 100 TB a time-range query touches the handful of
    chunks whose warc_ts zone overlaps, not the table).

    Sound by construction: chunks lacking a zone map (string columns,
    all-null, pre-zone-map stores — including stores whose schema predates
    the stats field entirely) are always kept.  Values are compared in
    the zone map's int64/double domain: pass epoch MICROS for timestamps,
    epoch days for dates, the raw number otherwise.  Returns the filtered
    encoded DataFrame (all columns of surviving chunks) — decode, then
    apply the exact row-level predicate."""
    if "stats" not in enc.columns:
        return enc  # pre-zone-map store: nothing provably disjoint
    zmin = F.get_json_object("stats", "$.min").cast("double")
    zmax = F.get_json_object("stats", "$.max").cast("double")
    # double rounding slack (int64 zone values above 2^53 round in the
    # cast): widen every comparison so rounding can only KEEP extra chunks,
    # never wrongly prune — soundness over selectivity at the boundary
    def _slack(bound: float, z) -> F.Column:
        return (F.abs(z) + F.lit(abs(float(bound)))) * F.lit(2.3e-16) + F.lit(1e-9)

    keep = F.lit(True)
    if hi is not None:
        keep = keep & (zmin <= F.lit(float(hi)) + _slack(hi, zmin))
    if lo is not None:
        keep = keep & (zmax >= F.lit(float(lo)) - _slack(lo, zmax))
    has_stats = F.col("column").eqNullSafe(F.lit(column)) & F.col("stats").isNotNull()
    # chunk survives unless ITS stats row for `column` proves non-overlap
    doomed = (
        enc.filter(has_stats & ~keep).select("chunk_id").distinct()
    )
    return enc.join(F.broadcast(doomed), "chunk_id", "left_anti")


def lookup_by_key(
    enc: DataFrame,
    key: str,
    value,
    n_buckets: int | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Point lookup on an encoded store — the 100 TB single-row read path.

    Pruning cascade, each step eliminating work before the next runs:

    1. **bucket pruning** (bucketed stores, pass ``n_buckets``): filter to
       ``pmod(xxhash64(value), n_buckets)`` — a parquet PartitionFilter, so
       only one bucket directory is ever listed/read;
    2. **zone-map chunk pruning** (integer-family keys): drop every chunk
       whose [min, max] for ``key`` excludes the value — only the handful
       of overlapping chunks' payloads are fetched;
    3. decode the surviving chunks (column-pruned via ``columns``), then
       the exact row filter.

    The literal is cast to the key column's stored dtype so the data-side
    and probe-side xxhash64 agree (hashing int vs bigint differs)."""
    if n_buckets is not None and "bucket" in enc.columns:
        meta = {r["column"]: r["dtype"] for r in column_meta(enc)}
        probe = F.lit(value)
        if meta.get(key) in ("i64", "i32", "i16", "i8"):
            probe = probe.cast(_TAG_TO_SPARK[meta[key]])
        enc = enc.filter(F.col("bucket") == F.pmod(F.xxhash64(probe), F.lit(n_buckets)))
    if isinstance(value, (int, float)) and not isinstance(value, bool):
        enc = prune_chunks_by_range(enc, key, lo=value, hi=value)
    cols = None if columns is None else sorted(set(columns) | {key})
    dec = decode_table(enc, columns=cols)
    return dec.filter(F.col(key) == F.lit(value)).drop("__chunk")


def chunk_metrics(enc: DataFrame) -> DataFrame:
    """Per-column compression lineage rollup (sizes + ratios + codec mix)."""
    return (
        enc.groupBy("column", "dtype", "codec")
        .agg(
            F.count("*").alias("chunks"),
            F.sum("n_values").alias("values"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("ref_bytes").alias("ref_bytes"),
            F.sum("enc_bytes").alias("enc_bytes"),
        )
        .withColumn("ratio_vs_raw", F.col("enc_bytes") / F.col("raw_bytes"))
        .withColumn("ratio_vs_ref", F.col("enc_bytes") / F.col("ref_bytes"))
        .orderBy("column", "codec")
    )
