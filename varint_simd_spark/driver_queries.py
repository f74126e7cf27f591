"""Driver-contract queries: one entry per implemented operator
(SURVEY.md §2), each with a DuckDB-oracle SQL equivalent.

Round-trip queries prove the north-rule invariant (bit-identical decode)
through the full Spark path: encode_table -> encoded chunks -> decode_table.
Oracle = identity select (round trip ⇒ equality).  Native-expression
queries (zigzag, varint length) prove the JVM-side WSCG functions against
arithmetic CASE oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators import chunk_metrics, decode_table, encode_table


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# --------------------------------------------------------------------------
# round trips through the full encode/decode pipeline


def _roundtrip(spark, sf_dir, table, key, cols, codecs=None, n_chunks=8):
    df = _read(spark, sf_dir, table)
    enc = encode_table(df, key=key, codecs=codecs or {}, n_chunks=n_chunks)
    return decode_table(enc).select(*cols)


def q_auto_roundtrip_lineitem(spark, sf_dir):
    """Flagship: whole-table auto-codec round trip."""
    df = _read(spark, sf_dir, "lineitem")
    enc = encode_table(df, key="l_orderkey", n_chunks=8)
    return decode_table(enc).drop("__chunk")


def q_pruned_decode_documents(spark, sf_dir):
    """Projection pushdown through the codec layer: encode ALL columns,
    decode only (doc_id, source) — pruned columns' payloads are filtered
    out before the decode UDF (In(column, ...) reaches the encoded-store
    scan when reading from parquet)."""
    df = _read(spark, sf_dir, "documents")
    enc = encode_table(df, key="doc_id", n_chunks=8)
    return decode_table(enc, columns=["doc_id", "source"]).drop("__chunk")


def q_varint_roundtrip_orders_keys(spark, sf_dir):
    return _roundtrip(
        spark, sf_dir, "orders", "o_orderkey",
        ["o_orderkey", "o_custkey"],
        codecs={"o_orderkey": "varint", "o_custkey": "varint"},
    )


def q_varint_zz_roundtrip_events_value(spark, sf_dir):
    """varint_zz (zigzag+varint) on user_id, raw64 bit-preserved double on
    value, width-specialized varint on event_id."""
    return _roundtrip(
        spark, sf_dir, "events", "event_id",
        ["event_id", "user_id", "value"],
        codecs={"event_id": "varint", "user_id": "varint_zz", "value": "raw64"},
    )


def q_delta_zz_roundtrip_events_ts(spark, sf_dir):
    return _roundtrip(
        spark, sf_dir, "events", "event_id",
        ["event_id", "ts"],
        codecs={"event_id": "delta_zz_varint", "ts": "delta_zz_varint"},
    )


def q_delta_bitpack_roundtrip_events(spark, sf_dir):
    return _roundtrip(
        spark, sf_dir, "events", "event_id",
        ["event_id", "ts"],
        codecs={"event_id": "delta_zz_bitpack", "ts": "delta_zz_bitpack"},
    )


def q_for_bitpack_roundtrip_lineitem(spark, sf_dir):
    return _roundtrip(
        spark, sf_dir, "lineitem", "l_orderkey",
        ["l_orderkey", "l_linenumber", "l_quantity"],
        codecs={"l_orderkey": "for_bitpack", "l_linenumber": "for_bitpack", "l_quantity": "for_bitpack"},
    )


def q_rle_roundtrip_lineitem_flags(spark, sf_dir):
    return _roundtrip(
        spark, sf_dir, "lineitem", "l_orderkey",
        ["l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"],
        codecs={"l_returnflag": "rle_str", "l_linestatus": "rle_str"},
    )


def q_dict_roundtrip_documents(spark, sf_dir):
    return _roundtrip(
        spark, sf_dir, "documents", "doc_id",
        ["doc_id", "lang", "source"],
        codecs={"lang": "dict_str", "source": "dict_str"},
    )


def q_fsst_roundtrip_documents_text(spark, sf_dir):
    return _roundtrip(
        spark, sf_dir, "documents", "doc_id",
        ["doc_id", "text"],
        codecs={"text": "fsst"},
    )


# --------------------------------------------------------------------------
# native-expression operators (JVM-side, whole-stage codegen)

# NB: 128^9 = 2^63 overflows a signed long; a negative long is a u64 in
# [2^63, 2^64) under two's complement => always 10 varint bytes.
_VARINT_LEN_CASE_SQL = (
    "CASE WHEN {col} < 0 THEN 10 "
    + " ".join(f"WHEN {{col}} < {128**k} THEN {k}" for k in range(1, 9))
    + " ELSE 9 END"
)


def varint_len_col(col: str):
    """Native varint-length expression (reference branchless length,
    src/encode/mod.rs:78-81, as a CASE over 128^k thresholds)."""
    expr = F.lit(9)
    for k in range(8, 0, -1):
        expr = F.when(F.col(col) < 128**k, k).otherwise(expr)
    return F.when(F.col(col) < 0, 10).otherwise(expr)


def q_varint_len_orders(spark, sf_dir):
    df = _read(spark, sf_dir, "orders")
    return df.select(
        "o_orderkey",
        varint_len_col("o_orderkey").cast("int").alias("vlen"),
    )


def q_varint_size_by_priority(spark, sf_dir):
    df = _read(spark, sf_dir, "orders")
    return (
        df.groupBy("o_orderpriority")
        .agg(
            F.sum(varint_len_col("o_custkey")).alias("varint_bytes"),
            F.count("*").alias("n"),
        )
    )


def q_zigzag_native_orders(spark, sf_dir):
    """ZigZag as a native bitwise expression (src/num.rs:473-481):
    (n<<1) ^ (n>>63) with arithmetic shiftright."""
    df = _read(spark, sf_dir, "orders")
    n = (F.col("o_custkey") - F.lit(750)).cast("long")
    zz = F.expr("(shiftleft(CAST(o_custkey - 750 AS BIGINT), 1)) ^ (shiftright(CAST(o_custkey - 750 AS BIGINT), 63))")
    return df.select("o_orderkey", n.alias("n"), zz.alias("zz"))


def q_nulls_roundtrip_events(spark, sf_dir):
    """Null handling through the validity-bitmap path: derive a nullable
    column, encode -> decode, nulls must survive exactly."""
    df = _read(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("value") > 0.5, F.col("value")).alias("v_nullable"),
        F.when(F.col("user_id") % 7 != 0, F.col("event_type")).alias("t_nullable"),
    )
    enc = encode_table(df, key="event_id", n_chunks=8)
    return decode_table(enc).select("event_id", "v_nullable", "t_nullable")


def q_props_roundtrip_events(spark, sf_dir):
    """JSON-ish props strings through the auto-chosen string codec."""
    return _roundtrip(spark, sf_dir, "events", "event_id", ["event_id", "props"])


def q_codec_size_rollup(spark, sf_dir):
    """Grouping-sets/rollup row of SURVEY §2.2: varint byte totals rolled
    up over (o_orderpriority, o_orderstatus)."""
    df = _read(spark, sf_dir, "orders")
    return (
        df.rollup("o_orderpriority", "o_orderstatus")
        .agg(F.sum(varint_len_col("o_custkey")).alias("varint_bytes"))
    )


def q_delta_lag_native_events(spark, sf_dir):
    """Delta encoding at the DataFrame level: F.lag window (SURVEY §2.2
    window-functions row) — the shuffle-based alternative to the in-kernel
    np.diff the codecs use.  PARTITIONED window (per user): a global
    ``orderBy`` window funnels the whole table through one task — at 100 TB
    the partition key is what makes this operator exist at all."""
    from pyspark.sql import Window

    df = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    return df.select(
        "event_id",
        "user_id",
        (micros - F.lag(micros).over(w)).alias("ts_delta_us"),
    )


def q_top_sources_documents(spark, sf_dir):
    """Sorts / limits / top-k row of SURVEY §2.2 (the skew-report shape)."""
    df = _read(spark, sf_dir, "documents")
    return (
        df.groupBy("source")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("chars"))
        .orderBy(F.desc("n"), "source")
        .limit(5)
    )


_ERROR_CASES = [
    # (case, payload, width, expected_status, expected_value)
    # golden vectors + error semantics from the reference test suite:
    # ok values src/lib.rs:89-185, Overflow src/lib.rs:187-209 +
    # src/decode/mod.rs:42-48, NotEnoughBytes src/lib.rs:211-222
    ("ok_300", b"\xac\x02", 64, "ok", "300"),
    ("ok_zero", b"\x00", 64, "ok", "0"),
    ("ok_nonminimal", b"\x80\x00", 64, "ok", "0"),
    ("ok_u64_max", b"\xff" * 9 + b"\x01", 64, "ok", "18446744073709551615"),
    ("overflow_u8", b"\x80\x02", 8, "Overflow", None),
    ("overflow_u32_last_byte", b"\x80\x80\x80\x80\x10", 32, "Overflow", None),
    ("overflow_u64_too_long", b"\x80" * 10 + b"\x01", 64, "Overflow", None),
    ("overflow_u64_last_byte", b"\xff" * 9 + b"\x02", 64, "Overflow", None),
    ("truncated", b"\x80", 64, "NotEnoughBytes", None),
    ("truncated_after_ok", b"\xac\x02\x80", 64, "NotEnoughBytes", None),
]


def q_decode_error_semantics(spark, sf_dir):
    """The reference's checked-decode error domain AND the *_unsafe
    truncating-cast semantics surfaced END TO END through Spark in one
    query: each case's payload rides an executor-side decode in its
    ``mode`` — strict (safe=True): Overflow on MAX_LAST_VARINT_BYTE /
    too-long varints (src/decode/mod.rs:42-48), NotEnoughBytes on
    truncation (src/lib.rs:211-222), golden values on the ok cases
    (src/lib.rs:89-185); unsafe (safe=False): overlong varints decode with
    values masked to the target width like the reference's cast_u32/
    cast_u64 (src/num.rs:74-81).  Fifteen demonstrative rows pinned
    against a constant-table oracle — a semantics pin, not a hot path."""
    import pyarrow as pa

    from .kernels import varint as vk
    from .kernels.errors import VarIntDecodeError

    rows = [(c, bytearray(p), w, "safe") for c, p, w, _, _ in _ERROR_CASES] + [
        (c, bytearray(p), w, "unsafe") for c, p, w, _ in _UNSAFE_CASES
    ]
    df = spark.createDataFrame(
        rows, "case_name string, payload binary, width int, mode string"
    )

    out_schema = T.StructType(
        [
            T.StructField("case_name", T.StringType()),
            T.StructField("mode", T.StringType()),
            T.StructField("status", T.StringType()),
            T.StructField("value", T.StringType()),
        ]
    )

    def fn(batches):
        for batch in batches:
            names = batch.column(0).to_pylist()
            payloads = batch.column(1).to_pylist()
            widths = batch.column(2).to_pylist()
            modes = batch.column(3).to_pylist()
            status, values = [], []
            for p, w, m in zip(payloads, widths, modes):
                try:
                    v = vk.decode(p, count=1, width=w, safe=(m == "safe"))
                    status.append("ok")
                    values.append(str(int(v[0])))
                except VarIntDecodeError as exc:
                    status.append(type(exc).__name__)
                    values.append(None)
            yield pa.RecordBatch.from_arrays(
                [pa.array(names), pa.array(modes), pa.array(status), pa.array(values)],
                names=["case_name", "mode", "status", "value"],
            )

    return df.mapInArrow(fn, schema=out_schema)


_UNSAFE_CASES = [
    # (case, payload, width, expected_value) — unsafe decode truncates to
    # width like the reference's cast_u32/cast_u64 (src/num.rs:74-81;
    # doc src/decode/mod.rs:135-137, 776-788); truncation test
    # src/lib.rs:211-222 analog
    ("trunc_u8_300", b"\xac\x02", 8, "44"),      # 300 & 0xFF
    ("trunc_u16_70000", b"\xf0\xa2\x04", 16, "4464"),  # 70000 & 0xFFFF
    ("trunc_u32_2p32", b"\x80\x80\x80\x80\x10", 32, "0"),  # 2^32 & 0xFFFFFFFF
    ("keep_u8_127", b"\x7f", 8, "127"),
    ("keep_u64_max", b"\xff" * 9 + b"\x01", 64, "18446744073709551615"),
]


# combined constant-table oracle: safe cases carry their status/value,
# unsafe cases always decode ok with the width-masked value
_ERROR_ORACLE_ROWS = ", ".join(
    [
        f"('{c}', 'safe', '{s}', " + (f"'{v}'" if v is not None else "NULL::VARCHAR") + ")"
        for c, _, _, s, v in _ERROR_CASES
    ]
    + [f"('{c}', 'unsafe', 'ok', '{v}')" for c, _, _, v in _UNSAFE_CASES]
)


# --------------------------------------------------------------------------
# lineage / metrics (rows-only check: aggregates of engine-internal sizes)


def q_zone_map_prune_events(spark, sf_dir):
    """Zone-map chunk pruning: events chunked by day bucket, a 3-day ts
    range query prunes non-overlapping chunks BEFORE any payload decode
    (min/max stats filter -> anti-join), then the exact predicate applies
    row-level.  Oracle = plain SQL range filter."""
    from .operators import prune_chunks_by_range

    df = _read(spark, sf_dir, "events").withColumn(
        "__day", F.to_date("ts").cast("string")
    )
    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    enc = encode_table(df, key="__day", columns=cols, n_chunks=16)
    lo = "2024-01-10 00:00:00"
    hi = "2024-01-13 00:00:00"
    lo_us = spark.sql(f"SELECT unix_micros(TIMESTAMP'{lo}')").collect()[0][0]
    hi_us = spark.sql(f"SELECT unix_micros(TIMESTAMP'{hi}')").collect()[0][0]
    pruned = prune_chunks_by_range(enc, "ts", lo=lo_us, hi=hi_us)
    return (
        decode_table(pruned)
        .filter((F.col("ts") >= F.lit(lo).cast("timestamp")) & (F.col("ts") < F.lit(hi).cast("timestamp")))
        .drop("__chunk")
    )


def q_decode_aggregate_documents(spark, sf_dir):
    """Aggregate pushdown through the codec layer: per-chunk partials are
    computed inside the decode UDF — no decoded rows cross the Python->JVM
    boundary.  Exact integer sums (arbitrary precision; no double drift);
    string columns report total utf8 bytes."""
    from .operators.encode import decode_aggregate

    df = _read(spark, sf_dir, "documents")
    enc = encode_table(df, key="doc_id", n_chunks=8)
    return decode_aggregate(enc, columns=["doc_id", "n_chars", "text"])


def q_decode_aggregate_by_lang_documents(spark, sf_dir):
    """GROUPED aggregate pushdown: the table is encoded with
    ``stats_group_by="lang"`` so every chunk row carries exact per-group
    partials in its stats JSON — ``decode_aggregate(group_by="lang")``
    answers the training-pipeline staple "rows/nulls/sum by lang" from
    metadata alone: one Python stage reads the stats columns (never the
    payload) and folds the per-group partials per task, and the driver
    folds the task rows: O(tasks x groups x columns) rows, whatever the
    row count."""
    from .operators.encode import decode_aggregate

    df = _read(spark, sf_dir, "documents")
    enc = encode_table(df, key="doc_id", n_chunks=8, stats_group_by="lang")
    return decode_aggregate(
        enc, columns=["doc_id", "n_chars", "text"], group_by="lang"
    )


def q_filtered_in_between_documents(spark, sf_dir):
    """Filter pushdown on the SHUFFLED decode path with the ``in`` /
    ``between`` predicate forms: ``decode_table(where=...)`` (groupBy on
    chunk_id, no store layout assumed) normalizes ``between`` into two
    range conditions (both zone-map-prunable) and evaluates ``in`` via a
    vectorized set-membership inside the decode UDF.  ``lang`` is a
    predicate-only column: decoded for the mask, dropped from the
    output.  Oracle = the plain SQL WHERE ... IN / BETWEEN."""
    df = _read(spark, sf_dir, "documents")
    enc = encode_table(df, key="doc_id", n_chunks=8)
    return decode_table(
        enc,
        columns=["doc_id", "n_chars", "source"],
        where=[("lang", "in", ["en", "de"]), ("n_chars", "between", (300, 900))],
    ).drop("__chunk")


def q_store_roundtrip_colocated(spark, sf_dir):
    """The production read path end to end: encode -> EncodedStore.commit
    (chunk-partitioned parquet + manifest lineage) -> manifest-gated
    read_encoded -> decode_table_colocated (zero-exchange mapInArrow over
    the store layout).  Oracle = identity select (bit-identical decode)."""
    import shutil

    from .driver_tmp import pid_tmp_root
    from .operators import decode_table_colocated
    from .sources.checkpoint import EncodedStore

    df = _read(spark, sf_dir, "documents")
    # pid-scoped, atexit-removed — repeated bench/test invocations must not
    # accumulate encoded copies in /tmp
    root = pid_tmp_root("vss_storeq", sf_dir)
    shutil.rmtree(root, ignore_errors=True)  # fresh store, no manifest growth
    store = EncodedStore(spark, root)
    store.commit(encode_table(df, key="doc_id", n_chunks=8))
    return decode_table_colocated(store.read_encoded()).drop("__chunk")


def q_verify_roundtrip_documents(spark, sf_dir):
    """The north rule's correctness criterion as a first-class distributed
    job: encode -> decode -> full-outer join back to source on the key ->
    per-column null-safe exact-match counts.  All columns must report
    identical=true."""
    from .operators.verify import verify_roundtrip

    df = _read(spark, sf_dir, "documents")
    enc = encode_table(df, key="doc_id", n_chunks=8)
    dec = decode_table(enc).drop("__chunk")
    return verify_roundtrip(df, dec, key="doc_id")


def q_bucketed_roundtrip_documents(spark, sf_dir):
    """The compressed-shuffle clustering topology end to end: per-split
    encode into url-hash-bucket fragments (zero exchanges on raw rows) ->
    repartition("bucket") ships only encoded bytes -> bucket-partitioned
    store -> colocated decode.  Oracle = identity select."""
    import shutil

    from .driver_tmp import pid_tmp_root
    from .operators import decode_table_colocated, encode_table_bucketed

    df = _read(spark, sf_dir, "documents")
    root = pid_tmp_root("vss_bktq", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    inp = f"{root}/in"
    df.write.parquet(inp)
    src = spark.read.parquet(inp)
    enc = encode_table_bucketed(src, key="doc_id", n_buckets=8)
    enc.repartition("bucket").write.partitionBy("bucket").parquet(f"{root}/store")
    st = spark.read.parquet(f"{root}/store")
    return decode_table_colocated(st).drop("__chunk")


def q_key_lookup_documents(spark, sf_dir):
    """Point lookup through the full pruning cascade: bucket PartitionFilter
    -> zone-map chunk prune -> single-chunk decode -> exact row filter.
    Oracle = WHERE doc_id = <k>."""
    import shutil

    from .driver_tmp import pid_tmp_root
    from .operators import encode_table_bucketed, lookup_by_key

    df = _read(spark, sf_dir, "documents")
    root = pid_tmp_root("vss_lookupq", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    df.write.parquet(f"{root}/in")
    src = spark.read.parquet(f"{root}/in")
    encode_table_bucketed(src, key="doc_id", n_buckets=8).repartition("bucket") \
        .write.partitionBy("bucket").parquet(f"{root}/store")
    st = spark.read.parquet(f"{root}/store")
    return lookup_by_key(st, "doc_id", 137, n_buckets=8)


def q_streaming_encode_documents(spark, sf_dir):
    """Structured-Streaming incremental encode end to end: feed the
    documents table through encode_stream in two file-batches
    (availableNow), then decode the resulting store.  Oracle = identity
    select — after catch-up the store must contain exactly the input,
    which also pins exactly-once commit semantics (duplicated batch
    replays would fail the row-count/hash match)."""
    import shutil

    from .driver_tmp import pid_tmp_root
    from .operators import decode_table_colocated
    from .sources.checkpoint import EncodedStore
    from .streaming.incremental import encode_stream

    df = _read(spark, sf_dir, "documents")
    root = pid_tmp_root("vss_streamq", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    # two input files -> two micro-batches (maxFilesPerTrigger=1)
    half = df.count() // 2
    df.filter(F.col("doc_id") < half).coalesce(1).write.parquet(f"{root}/in")
    df.filter(F.col("doc_id") >= half).coalesce(1).write.mode("append").parquet(f"{root}/in")
    store = EncodedStore(spark, f"{root}/store")
    q = encode_stream(
        spark, f"{root}/in", store, schema=df.schema, key="doc_id",
        n_chunks=4, checkpoint_dir=f"{root}/ckpt",
    )
    q.awaitTermination()
    return decode_table_colocated(store.read_encoded()).drop("__chunk")


def q_filtered_decode_documents(spark, sf_dir):
    """Filter pushdown through the codec layer (the scan-avoidance read
    path): encode -> store -> ``decode_table_colocated(where=...)``.  The
    predicate runs three tiers deep inside the decode UDF — zone-map chunk
    skip (excluded chunks never touch payload bytes), predicate-first
    decode (non-predicate columns decode only when rows survive), in-UDF
    row filter (only matching rows cross Arrow IPC).  ``lang`` is a
    predicate-only column: decoded for the mask, dropped from the output.
    Oracle = the plain SQL WHERE."""
    import shutil

    from .driver_tmp import pid_tmp_root
    from .operators import decode_table_colocated
    from .sources.checkpoint import EncodedStore

    df = _read(spark, sf_dir, "documents")
    root = pid_tmp_root("vss_filterq", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    store = EncodedStore(spark, root)
    store.commit(encode_table(df, key="doc_id", n_chunks=8))
    return decode_table_colocated(
        store.read_encoded(),
        columns=["doc_id", "n_chars", "source"],
        where=[("n_chars", ">=", 400), ("lang", "==", "en")],
    ).drop("__chunk")


def q_compression_bound_lineitem(spark, sf_dir):
    """The north rule's compressed-size criterion (enc_bytes <= reference
    encoder's bytes, per column) as a driver-checkable assertion: one row
    per column with 1/0 flags, compared against a constant oracle derived
    from the table's schema — any column whose encoding exceeds the
    reference bound (or encodes to nothing) flips a flag and hash-fails."""
    df = _read(spark, sf_dir, "lineitem")
    enc = encode_table(df, key="l_orderkey", n_chunks=8)
    return (
        chunk_metrics(enc)
        .groupBy("column")
        .agg(
            F.max((F.col("enc_bytes") > F.col("ref_bytes")).cast("long")).alias("__over"),
            F.min((F.col("enc_bytes") > 0).cast("long")).alias("__nz"),
        )
        .select(
            "column",
            (1 - F.col("__over")).alias("within_ref_bound"),
            F.col("__nz").alias("nonempty"),
        )
    )


from .driver_queries_pipeline import PIPELINE_ORACLES, PIPELINE_QUERIES

QUERIES = {
    "auto_roundtrip_lineitem": q_auto_roundtrip_lineitem,
    "pruned_decode_documents": q_pruned_decode_documents,
    "varint_roundtrip_orders_keys": q_varint_roundtrip_orders_keys,
    "varint_zz_roundtrip_events_value": q_varint_zz_roundtrip_events_value,
    "delta_zz_roundtrip_events_ts": q_delta_zz_roundtrip_events_ts,
    "delta_bitpack_roundtrip_events": q_delta_bitpack_roundtrip_events,
    "for_bitpack_roundtrip_lineitem": q_for_bitpack_roundtrip_lineitem,
    "rle_roundtrip_lineitem_flags": q_rle_roundtrip_lineitem_flags,
    "dict_roundtrip_documents": q_dict_roundtrip_documents,
    "fsst_roundtrip_documents_text": q_fsst_roundtrip_documents_text,
    "varint_len_orders": q_varint_len_orders,
    "varint_size_by_priority": q_varint_size_by_priority,
    "zigzag_native_orders": q_zigzag_native_orders,
    "delta_lag_native_events": q_delta_lag_native_events,
    "top_sources_documents": q_top_sources_documents,
    "nulls_roundtrip_events": q_nulls_roundtrip_events,
    "props_roundtrip_events": q_props_roundtrip_events,
    "codec_size_rollup": q_codec_size_rollup,
    "decode_error_semantics": q_decode_error_semantics,
    "store_roundtrip_colocated": q_store_roundtrip_colocated,
    "bucketed_roundtrip_documents": q_bucketed_roundtrip_documents,
    "key_lookup_documents": q_key_lookup_documents,
    "streaming_encode_documents": q_streaming_encode_documents,
    "zone_map_prune_events": q_zone_map_prune_events,
    "decode_aggregate_documents": q_decode_aggregate_documents,
    "decode_aggregate_by_lang_documents": q_decode_aggregate_by_lang_documents,
    "filtered_decode_documents": q_filtered_decode_documents,
    "filtered_in_between_documents": q_filtered_in_between_documents,
    "verify_roundtrip_documents": q_verify_roundtrip_documents,
    # compression_metrics (raw chunk_metrics rows) was retired in round 4:
    # superseded by the oracle-checked compression_bound_lineitem — its raw
    # engine-internal sizes could only ever take a rows-only check
    "compression_bound_lineitem": q_compression_bound_lineitem,
    **PIPELINE_QUERIES,
}

_VLEN_CASE = _VARINT_LEN_CASE_SQL.format(col="o_orderkey")
_VLEN_CASE_CUST = _VARINT_LEN_CASE_SQL.format(col="o_custkey")

ORACLES = {
    # constant oracle: every lineitem column must satisfy the size bound
    "compression_bound_lineitem": (
        "SELECT column_name AS \"column\", CAST(1 AS BIGINT) AS within_ref_bound, "
        "CAST(1 AS BIGINT) AS nonempty "
        "FROM information_schema.columns WHERE table_name = 'lineitem'"
    ),
    "auto_roundtrip_lineitem": "SELECT * FROM lineitem",
    "pruned_decode_documents": "SELECT doc_id, source FROM documents",
    "varint_roundtrip_orders_keys": "SELECT o_orderkey, o_custkey FROM orders",
    "varint_zz_roundtrip_events_value": "SELECT event_id, user_id, value FROM events",
    "delta_zz_roundtrip_events_ts": "SELECT event_id, ts FROM events",
    "delta_bitpack_roundtrip_events": "SELECT event_id, ts FROM events",
    "for_bitpack_roundtrip_lineitem": "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
    "rle_roundtrip_lineitem_flags": "SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus FROM lineitem",
    "dict_roundtrip_documents": "SELECT doc_id, lang, source FROM documents",
    "fsst_roundtrip_documents_text": "SELECT doc_id, text FROM documents",
    "varint_len_orders": f"SELECT o_orderkey, CAST({_VLEN_CASE} AS INTEGER) AS vlen FROM orders",
    "varint_size_by_priority": (
        "SELECT o_orderpriority, "
        f"CAST(SUM({_VLEN_CASE_CUST}) AS BIGINT) AS varint_bytes, COUNT(*) AS n "
        "FROM orders GROUP BY o_orderpriority"
    ),
    "zigzag_native_orders": (
        "SELECT o_orderkey, CAST(o_custkey - 750 AS BIGINT) AS n, "
        "CAST(CASE WHEN o_custkey - 750 >= 0 THEN 2*(o_custkey - 750) "
        "ELSE -2*(o_custkey - 750) - 1 END AS BIGINT) AS zz FROM orders"
    ),
    "delta_lag_native_events": (
        "SELECT event_id, user_id, epoch_us(ts) - lag(epoch_us(ts)) "
        "OVER (PARTITION BY user_id ORDER BY event_id) "
        "AS ts_delta_us FROM events"
    ),
    "top_sources_documents": (
        "SELECT source, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars "
        "FROM documents GROUP BY source ORDER BY n DESC, source LIMIT 5"
    ),
    "nulls_roundtrip_events": (
        "SELECT event_id, CASE WHEN value > 0.5 THEN value END AS v_nullable, "
        "CASE WHEN user_id % 7 != 0 THEN event_type END AS t_nullable FROM events"
    ),
    "props_roundtrip_events": "SELECT event_id, props FROM events",
    "codec_size_rollup": (
        "SELECT o_orderpriority, o_orderstatus, "
        f"CAST(SUM({_VLEN_CASE_CUST}) AS BIGINT) AS varint_bytes "
        "FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)"
    ),
    "decode_error_semantics": (
        f"SELECT * FROM (VALUES {_ERROR_ORACLE_ROWS}) "
        "AS t(case_name, mode, status, value)"
    ),
    "store_roundtrip_colocated": "SELECT * FROM documents",
    "bucketed_roundtrip_documents": "SELECT * FROM documents",
    "key_lookup_documents": "SELECT * FROM documents WHERE doc_id = 137",
    "streaming_encode_documents": "SELECT * FROM documents",
    "zone_map_prune_events": (
        "SELECT event_id, ts, user_id, event_type, value FROM events "
        "WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' "
        "AND ts < TIMESTAMP '2024-01-13 00:00:00'"
    ),
    "filtered_decode_documents": (
        "SELECT doc_id, n_chars, source FROM documents "
        "WHERE n_chars >= 400 AND lang = 'en'"
    ),
    "filtered_in_between_documents": (
        "SELECT doc_id, n_chars, source FROM documents "
        "WHERE lang IN ('en', 'de') AND n_chars BETWEEN 300 AND 900"
    ),
    "decode_aggregate_by_lang_documents": (
        "SELECT * FROM ("
        "SELECT lang AS \"group\", 'doc_id' AS \"column\", COUNT(*)::BIGINT AS n_rows, "
        "(COUNT(*) - COUNT(doc_id))::BIGINT AS n_nulls, "
        "CAST(SUM(doc_id) AS VARCHAR) AS sum_exact, "
        "CAST(MIN(doc_id) AS VARCHAR) AS min_exact, "
        "CAST(MAX(doc_id) AS VARCHAR) AS max_exact, "
        "NULL::BIGINT AS sum_bytes FROM documents GROUP BY lang "
        "UNION ALL "
        "SELECT lang, 'n_chars', COUNT(*)::BIGINT, (COUNT(*) - COUNT(n_chars))::BIGINT, "
        "CAST(SUM(n_chars) AS VARCHAR), CAST(MIN(n_chars) AS VARCHAR), "
        "CAST(MAX(n_chars) AS VARCHAR), NULL::BIGINT FROM documents GROUP BY lang "
        "UNION ALL "
        "SELECT lang, 'text', COUNT(*)::BIGINT, (COUNT(*) - COUNT(text))::BIGINT, "
        "NULL::VARCHAR, NULL::VARCHAR, NULL::VARCHAR, "
        "SUM(strlen(text))::BIGINT FROM documents GROUP BY lang"
        ") ORDER BY \"group\", \"column\""
    ),
    "decode_aggregate_documents": (
        "SELECT * FROM ("
        "SELECT 'doc_id' AS \"column\", COUNT(*)::BIGINT AS n_rows, "
        "(COUNT(*) - COUNT(doc_id))::BIGINT AS n_nulls, "
        "CAST(SUM(doc_id) AS VARCHAR) AS sum_exact, "
        "CAST(MIN(doc_id) AS VARCHAR) AS min_exact, "
        "CAST(MAX(doc_id) AS VARCHAR) AS max_exact, "
        "NULL::BIGINT AS sum_bytes FROM documents "
        "UNION ALL "
        "SELECT 'n_chars', COUNT(*)::BIGINT, (COUNT(*) - COUNT(n_chars))::BIGINT, "
        "CAST(SUM(n_chars) AS VARCHAR), CAST(MIN(n_chars) AS VARCHAR), "
        "CAST(MAX(n_chars) AS VARCHAR), NULL::BIGINT FROM documents "
        "UNION ALL "
        "SELECT 'text', COUNT(*)::BIGINT, (COUNT(*) - COUNT(text))::BIGINT, "
        "NULL::VARCHAR, NULL::VARCHAR, NULL::VARCHAR, "
        "SUM(strlen(text))::BIGINT FROM documents"  # strlen = BYTES in DuckDB
        ") ORDER BY \"column\""
    ),
    "verify_roundtrip_documents": (
        "SELECT * FROM ("
        + " UNION ALL ".join(
            f"SELECT '{c}' AS \"column\", COUNT(*)::BIGINT AS n_rows, "
            f"COUNT(*)::BIGINT AS n_match, TRUE AS identical FROM documents"
            for c in ["lang", "n_chars", "source", "text"]
        )
        + ") ORDER BY \"column\""
    ),
    **PIPELINE_ORACLES,
}
