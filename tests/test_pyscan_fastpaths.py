"""Round-6 optimization internals: the python-scan fast paths and the
fragment-merge encode topology must be RESULT-IDENTICAL to the JVM-scan
paths, and the numpy XXH64 kernel must match Spark's xxhash64 bit for bit
(bucket/chunk membership depends on it)."""

from __future__ import annotations

import os
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR


@pytest.fixture()
def no_pyscan():
    os.environ["VSS_PYSCAN"] = "0"
    yield
    os.environ["VSS_PYSCAN"] = "1"


def _rows(df):
    return sorted(tuple(str(x) for x in r) for r in df.collect())


def test_xxh64_matches_spark_long(spark):
    from varint_simd_spark.kernels.xxh64 import pmod, xxh64_int64

    vals = [0, 1, -1, 42, 2**62, -(2**63), 7_777_777_777, 2**63 - 1]
    rows = spark.createDataFrame([(v,) for v in vals], "v long").select(
        "v", F.xxhash64("v").alias("h"), F.pmod(F.xxhash64("v"), F.lit(8)).alias("p")
    ).collect()
    got = xxh64_int64(np.array(vals, dtype=np.int64))
    assert [int(g) for g in got] == [r["h"] for r in rows]
    assert [int(g) for g in pmod(got, 8)] == [r["p"] for r in rows]


def test_xxh64_matches_spark_strings(spark):
    from varint_simd_spark.kernels.xxh64 import xxh64_bytes_bo

    random.seed(11)
    strs = ["", "a", "abc", "x" * 31, "y" * 32, "z" * 100, "日本語"]
    strs += ["".join(random.choice("ab:/.") for _ in range(random.randint(0, 90)))
             for _ in range(64)]
    exp = {
        r["s"]: r["h"]
        for r in spark.createDataFrame([(s,) for s in strs], "s string")
        .select("s", F.xxhash64("s").alias("h")).collect()
    }
    bts = [s.encode() for s in strs]
    lens = np.array([len(b) for b in bts], dtype=np.int64)
    offs = np.concatenate([[0], np.cumsum(lens)]).astype(np.int64)
    blob = np.frombuffer(b"".join(bts), dtype=np.uint8)
    got = xxh64_bytes_bo(blob, offs)
    assert all(int(g) == exp[s] for g, s in zip(got, strs))


def test_decode_colocated_pyscan_equivalence(spark, tmp_path):
    from varint_simd_spark.operators import (
        column_meta,
        decode_table,
        decode_table_colocated,
        encode_table,
        encode_table_bucketed,
    )
    from varint_simd_spark.operators.encode import decode_aggregate

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    enc = encode_table(df, key="doc_id", n_chunks=8)
    enc.write.partitionBy("chunk_id").parquet(str(tmp_path / "store"))
    st = spark.read.parquet(str(tmp_path / "store"))
    meta = column_meta(st)
    for kw in (
        {},
        {"where": [("lang", "==", "en")]},
    ):
        os.environ["VSS_PYSCAN"] = "0"
        a = _rows(decode_table_colocated(st, meta=meta, **kw))
        os.environ["VSS_PYSCAN"] = "1"
        b = _rows(decode_table_colocated(st, meta=meta, **kw))
        assert a == b and a
    os.environ["VSS_PYSCAN"] = "0"
    a = _rows(decode_aggregate(st, use_stats=False))
    os.environ["VSS_PYSCAN"] = "1"
    b = _rows(decode_aggregate(st, use_stats=False))
    assert a == b and a

    # bucketed encode: the python-scan bucket hash (numpy XXH64) must put
    # every row in the bucket Spark's xxhash64 picks, and decode the same
    def bucketed():
        enc = encode_table_bucketed(df, key="doc_id", n_buckets=4)
        sizes = _rows(
            enc.filter(F.col("col_idx") == 0).groupBy("bucket").agg(F.sum("n_values"))
        )
        return sizes, _rows(decode_table(enc).drop("__chunk"))

    os.environ["VSS_PYSCAN"] = "0"
    a = bucketed()
    os.environ["VSS_PYSCAN"] = "1"
    b = bucketed()
    assert a == b and all(a)


def test_agg_analytic_rows_match_decode(spark, tmp_path):
    """The analytic aggregate shortcuts (string byte totals / RLE sums from
    payload structure) must equal the materializing decode path, nulls
    included."""
    from varint_simd_spark.operators import encode_table
    from varint_simd_spark.operators.encode import decode_aggregate

    df = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id",
        F.when(F.col("user_id") % 7 != 0, F.col("event_type")).alias("t_null"),
        F.when(F.col("value") > 0.5, F.col("value")).alias("v_null"),
        "props",
    )
    enc = encode_table(
        df, key="event_id", n_chunks=4,
        codecs={"t_null": "rle_str", "props": "fsst", "event_id": "rle_varint"},
    )
    got = {r["column"]: r for r in decode_aggregate(enc, use_stats=False).collect()}
    exp = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("t_null").isNull().cast("long")).alias("tn"),
        F.sum(F.length(F.col("t_null"))).alias("tb"),
        F.sum(F.lit(0) + F.length("props")).alias("pb"),
        F.sum("event_id").alias("es"),
        F.min("event_id").alias("emin"),
        F.max("event_id").alias("emax"),
    ).collect()[0]
    assert got["t_null"]["n_rows"] == exp["n"]
    assert got["t_null"]["n_nulls"] == exp["tn"]
    assert got["t_null"]["sum_bytes"] == exp["tb"]
    assert got["props"]["sum_bytes"] == exp["pb"]
    assert got["event_id"]["sum_exact"] == str(exp["es"])
    assert got["event_id"]["min_exact"] == str(exp["emin"])
    assert got["event_id"]["max_exact"] == str(exp["emax"])


def test_fragment_merge_equivalence(spark, tmp_path):
    """Fragment-merge encode (integer-gated) must produce the same chunk
    membership, satisfy the ref bound, and decode identically."""
    from varint_simd_spark.operators import decode_table, encode_table

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    # force enough python-scan groups by rewriting as several small files
    li.repartition(6).write.option("maxRecordsPerFile", 1000).parquet(
        str(tmp_path / "li")
    )
    src = spark.read.parquet(str(tmp_path / "li"))
    os.environ["VSS_PYSCAN"] = "0"
    enc_jvm = encode_table(src, key="l_orderkey", n_chunks=8)
    meta_jvm = {
        (r["chunk_id"], r["column"]): (r["n_values"], r["dtype"])
        for r in enc_jvm.collect()
    }
    dec_jvm = _rows(decode_table(enc_jvm).drop("__chunk"))
    os.environ["VSS_PYSCAN"] = "1"
    enc_fm = encode_table(src, key="l_orderkey", n_chunks=8)
    rows = enc_fm.collect()
    meta_fm = {
        (r["chunk_id"], r["column"]): (r["n_values"], r["dtype"]) for r in rows
    }
    assert meta_fm == meta_jvm
    assert all(0 < r["enc_bytes"] <= r["ref_bytes"] for r in rows)
    assert _rows(decode_table(enc_fm).drop("__chunk")) == dec_jvm


def test_frag_ids_unique_across_tasks():
    """Fragment tags stay unique and (task, ordinal)-ordered when one task
    emits 2**20 or more fragments (the old ``pid << 20 | ordinal`` tag
    overlapped the next task's ids there)."""
    from varint_simd_spark.operators.encode import _frag_id

    n_chunks = (1 << 20) + 1
    ordinal = np.arange(n_chunks, dtype=np.int64)
    ids = np.concatenate([_frag_id(pid, ordinal, n_chunks) for pid in range(3)])
    assert np.all(np.diff(ids) > 0)


def test_encode_table_remap_preserves_chunk_ids(spark):
    from varint_simd_spark.operators import encode_table

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    enc = encode_table(df, key="doc_id", n_chunks=8)
    got = sorted({r["chunk_id"] for r in enc.select("chunk_id").distinct().collect()})
    exp = sorted(
        r[0]
        for r in df.select(F.pmod(F.xxhash64("doc_id"), F.lit(8))).distinct().collect()
    )
    assert got == exp


def _units(groups):
    """(path, row group or None) in group order — the packer's output
    flattened."""
    return [
        (p, rg) for g in groups for p, rgs in g
        for rg in (rgs if rgs is not None else [None])
    ]


def test_group_by_size_balanced_waves(tmp_path):
    """Split packing fills the cores in whole waves: equal files pack
    evenly into ``parallelism`` groups, a table larger than
    ``parallelism x maxPartitionBytes`` into a multiple of it, and every
    file lands exactly once, in path order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from varint_simd_spark.operators.pyscan import _group_by_size

    t = pa.table({"x": np.arange(1000, dtype=np.int64)})
    paths = []
    for i in range(17):
        paths.append(str(tmp_path / f"f{i:02d}.parquet"))
        pq.write_table(t, paths[-1])
    sixteen = paths[:16]
    groups = _group_by_size(sixteen, 128 << 20, 4)
    assert [len(g) for g in groups] == [4, 4, 4, 4]
    assert _units(groups) == [(p, None) for p in sixteen]
    # one file more must not open a one-task second wave
    groups = _group_by_size(paths, 128 << 20, 4)
    assert sorted(len(g) for g in groups) == [4, 4, 4, 5]
    assert _units(groups) == [(p, None) for p in paths]

    # each file counts size + 4 MB open cost: 16 files over 4 x 8 MB
    small = _group_by_size(sixteen, 8 << 20, 4)
    assert len(small) % 4 == 0 and len(small) > 4
    assert _units(small) == [(p, None) for p in sixteen]


def test_group_by_size_row_group_splits(tmp_path):
    """A multi-row-group file splits at row-group boundaries into at most
    ``parallelism`` groups; a single-row-group file stays one group, so the
    fragment-merge gate (>= 4 scan groups) keeps the row path there."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from varint_simd_spark.operators.pyscan import _group_by_size

    # ~8 MB of incompressible longs: above the 4 MB split floor
    p = str(tmp_path / "multi.parquet")
    x = np.random.default_rng(0).integers(0, 2**62, 1_000_000, dtype=np.int64)
    pq.write_table(pa.table({"x": x}), p, row_group_size=100_000,
                   compression="none")
    groups = _group_by_size([p], 128 << 20, 4)
    assert 1 < len(groups) <= 4
    assert _units(groups) == [(p, rg) for rg in range(10)]
    assert all(len(g) == 1 for g in groups)  # one entry per file per group

    one = f"{SF_DIR}/lineitem.parquet"
    assert pq.ParquetFile(one).metadata.num_row_groups == 1
    assert len(_group_by_size([one], 128 << 20, 4)) == 1


def _data_plan(plan: str) -> str:
    """An executed plan's text without its broadcast and cached subtrees:
    the salt plan, the pending chunks (a broadcast LocalRelation of driver
    ids) and cached inputs run as their own stages and move no encoded
    rows."""
    out, cut = [], None
    for line in plan.splitlines():
        depth = len(line) - len(line.lstrip(" :+-"))
        if cut is not None and depth > cut:
            continue
        cut = None
        out.append(line)
        if "BroadcastQueryStage" in line or "InMemoryRelation" in line:
            cut = depth
    return "\n".join(out)


def test_encode_shuffle_sized_to_cores(spark, tmp_path, monkeypatch):
    """Every batch hash-chunk encode, and a stream's batch encode, runs
    ONE data exchange pinned to n = min(n_chunks, defaultParallelism)
    partitions (not coalesced by AQE) that places chunk (or stream slot) c
    in partition c mod n."""
    import re

    from varint_simd_spark.operators import encode_table
    from varint_simd_spark.operators.encode import make_encode_chunk_fn
    from varint_simd_spark.plans.partitioning import encode_table_salted
    from varint_simd_spark.sources.checkpoint import EncodedStore, encode_resumable
    from varint_simd_spark.sources.web_pages import generate_web_pages
    from varint_simd_spark.streaming.incremental import _encode_batch, _stream_chunk_id

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    li.repartition(6).write.option("maxRecordsPerFile", 1000).parquet(
        str(tmp_path / "li")
    )
    wp = generate_web_pages(spark, 1000, seed=7).cache()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    lis = spark.read.parquet(str(tmp_path / "li"))

    def resumable(n_chunks):
        # the encode frame as encode_resumable hands it to the commit
        got = []
        monkeypatch.setattr(
            EncodedStore, "commit", lambda self, enc, **kw: got.append(enc)
        )
        store = EncodedStore(spark, str(tmp_path / f"store{n_chunks}"))
        encode_resumable(store, wp, key="url", n_chunks=n_chunks)
        return got[0]

    def stream_batch(n_chunks):
        # one micro-batch's encode frame, chunk ids mapped back to slots
        store = EncodedStore(spark, str(tmp_path / f"stream{n_chunks}"))
        fn = make_encode_chunk_fn(wp.columns, {}, "url")
        enc, _ = _encode_batch(store, wp, 0, n_chunks, "url", fn)
        slot = {_stream_chunk_id(0, n_chunks, i): i for i in range(n_chunks)}
        return enc, slot.__getitem__

    def same_ids(build):
        return lambda n: (build(n), int)

    cases = [
        (same_ids(lambda n: encode_table(docs, key="doc_id", n_chunks=n)), "__chunk"),
        (same_ids(lambda n: encode_table(lis, key="l_orderkey", n_chunks=n)), "__gkey"),
        (same_ids(lambda n: encode_table_salted(wp, n_chunks=n)), "__chunk"),
        (same_ids(resumable), "__chunk"),
        (stream_batch, "__chunk"),
    ]
    par = spark.sparkContext.defaultParallelism
    for build, gkey in cases:
        for n_chunks in (8, 3):
            n = min(n_chunks, par)
            enc, slot_of = build(n_chunks)
            q = enc.select("chunk_id", F.spark_partition_id().alias("pid"))
            rows = [(slot_of(r["chunk_id"]), r["pid"]) for r in q.collect()]
            plan = _data_plan(
                q._jdf.queryExecution().executedPlan().executedPlan().toString()
            )
            exchanges = re.findall(r"Exchange (.*), \[plan_id", plan)
            assert len(exchanges) == 1, plan
            assert re.fullmatch(
                rf"shufflepartitionidpassthrough\(direct_shuffle_partition_id"
                rf"\({gkey}#\d+\), {n}\), REPARTITION_BY_NUM",
                exchanges[0],
            ), plan
            assert "AQEShuffleRead" not in plan
            assert {c for c, _ in rows} == set(range(n_chunks))
            assert all(pid == c % n for c, pid in rows)
            assert len({pid for _, pid in rows}) == n
    wp.unpersist()


def test_encode_plan_flat_in_n_chunks(spark):
    """The row-shuffle plan holds no per-chunk literal: at n_chunks=10_000
    it is the n_chunks=32 plan with the number swapped."""
    import re

    from varint_simd_spark.operators import encode_table

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    def plan(n_chunks):
        qe = encode_table(df, key="doc_id", n_chunks=n_chunks)._jdf.queryExecution()
        return re.sub(r"#\d+", "#", qe.optimizedPlan().toString())

    small, big = plan(32), plan(10_000)
    assert "element_at" not in big and "array(" not in big
    assert "10000" in big
    assert big.replace("10000", "32") == small


def test_agg_decode_one_dir_store_parallel(spark, tmp_path):
    """A store written as several files in ONE directory: the decode-path
    aggregate's partials run one task per size-packed split (not one per
    directory), with the same answer as the JVM scan."""
    import glob

    from varint_simd_spark.operators import encode_table
    from varint_simd_spark.operators.encode import decode_aggregate

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    encode_table(df, key="doc_id", n_chunks=8).repartition(4).write.parquet(
        str(tmp_path / "flat")
    )
    n_files = len(glob.glob(str(tmp_path / "flat" / "*.parquet")))
    assert n_files >= 4
    st = spark.read.parquet(str(tmp_path / "flat"))
    sc = spark.sparkContext
    got = {}
    tasks = {}
    for flag in ("0", "1"):
        os.environ["VSS_PYSCAN"] = flag
        sc.setJobGroup(f"agg_decode_{flag}", "one-dir decode aggregate")
        try:
            got[flag] = _rows(decode_aggregate(st, use_stats=False))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            os.environ["VSS_PYSCAN"] = "1"
        tr = sc.statusTracker()
        stage_ids = [
            s for j in tr.getJobIdsForGroup(f"agg_decode_{flag}")
            for s in tr.getJobInfo(j).stageIds
        ]
        # the partials stage is the job group's first stage
        tasks[flag] = tr.getStageInfo(min(stage_ids)).numTasks
    assert got["0"] == got["1"] and got["1"]
    assert tasks["1"] == min(sc.defaultParallelism, n_files)


def test_null_int_partition_falls_back_to_jvm_scan(spark, tmp_path):
    """A ``partitionBy`` table with a null int partition value has a
    ``part=__HIVE_DEFAULT_PARTITION__`` directory: the python-side scan
    gate rejects it at plan time, and the per-split encode round-trips it
    through the JVM scan."""
    from varint_simd_spark.operators import decode_table_colocated
    from varint_simd_spark.operators.encode import encode_table_per_split
    from varint_simd_spark.operators.pyscan import parquet_scan_info

    rows = [(i, None if i % 5 == 0 else i % 3, f"v{i}") for i in range(200)]
    spark.createDataFrame(rows, "k long, part int, s string").write.partitionBy(
        "part"
    ).parquet(str(tmp_path / "src"))
    assert (tmp_path / "src" / "part=__HIVE_DEFAULT_PARTITION__").is_dir()
    src = spark.read.parquet(str(tmp_path / "src"))
    assert parquet_scan_info(src) is None

    enc = encode_table_per_split(src, key="k")
    enc.write.partitionBy("chunk_id").parquet(str(tmp_path / "store"))
    st = spark.read.parquet(str(tmp_path / "store"))
    got = sorted(
        (r["k"], r["part"], r["s"])
        for r in decode_table_colocated(st).select("k", "part", "s").collect()
    )
    assert got == sorted(rows)


def test_pyscan_null_fills_schema_evolved_files(spark, tmp_path):
    """A requested column that one input file lacks reads as typed nulls on
    the python-side scan, as on Spark's scan: a per-split encode and a
    store read give the same rows with and without the python-side scan."""
    import pyarrow.parquet as pq

    from varint_simd_spark.operators import decode_table, encode_table
    from varint_simd_spark.operators.encode import decode_aggregate, encode_table_per_split
    from varint_simd_spark.operators.pyscan import parquet_scan_info

    full = spark.createDataFrame(
        [(i, f"s{i}", i * 1.5) for i in range(400)], "k long, s string, x double"
    )
    src = str(tmp_path / "evolved")
    full.filter("k < 200").select("k", "s").coalesce(1).write.parquet(src)
    full.filter("k >= 200").coalesce(1).write.mode("append").parquet(src)
    df = spark.read.schema(full.schema).parquet(src)
    assert parquet_scan_info(df) is not None

    def encoded_rows():
        return _rows(decode_table(encode_table_per_split(df, key="k")).drop("__chunk"))

    os.environ["VSS_PYSCAN"] = "0"
    try:
        a = encoded_rows()
    finally:
        os.environ["VSS_PYSCAN"] = "1"
    b = encoded_rows()
    assert a == b and len(a) == 400
    assert sum(r[2] == "None" for r in b) == 200

    # a store whose one chunk file predates the crc32 field
    store = str(tmp_path / "evolved_store")
    encode_table(full, key="k", n_chunks=4).write.partitionBy("chunk_id").parquet(store)
    old = sorted(p for p in (tmp_path / "evolved_store").rglob("*.parquet"))[0]
    pq.write_table(pq.read_table(old).drop(["crc32"]), old)
    (old.parent / f".{old.name}.crc").unlink()  # Hadoop's checksum sidecar
    st = spark.read.option("mergeSchema", "true").parquet(store)
    assert "crc32" in st.columns and parquet_scan_info(st) is not None
    os.environ["VSS_PYSCAN"] = "0"
    try:
        a = _rows(decode_aggregate(st, use_stats=False))
    finally:
        os.environ["VSS_PYSCAN"] = "1"
    b = _rows(decode_aggregate(st, use_stats=False))
    assert a == b and a
