"""Round-6 optimization internals: the python-scan fast paths and the
fragment-merge encode topology must be RESULT-IDENTICAL to the JVM-scan
paths, and the numpy XXH64 kernel must match Spark's xxhash64 bit for bit
(bucket/chunk membership depends on it)."""

from __future__ import annotations

import itertools
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


def test_split_packing_reads_unit_suffixed_max_partition_bytes(spark, tmp_path):
    """The python-side scan's split packing takes
    spark.sql.files.maxPartitionBytes as Spark parses it: "1m" makes every
    task read about 1 MiB, and with the conf unset the packing is the
    128 MiB default's."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from varint_simd_spark.operators.pyscan import (
        _group_by_size,
        _group_by_split,
        parquet_scan_info,
        pyscan_map_in_arrow,
    )

    # 16 MB of incompressible longs in 160 row groups of 100 KB
    x = np.random.default_rng(1).integers(0, 2**62, 2_000_000, dtype=np.int64)
    pq.write_table(pa.table({"x": x}), tmp_path / "x.parquet", row_group_size=12_500,
                   compression="none")
    df = spark.read.parquet(str(tmp_path))
    scan = parquet_scan_info(df)
    paths, par = scan[0], spark.sparkContext.defaultParallelism

    def rows(batches):
        yield pa.RecordBatch.from_pydict({"n": [sum(b.num_rows for b in batches)]})

    assert _group_by_split(spark, paths) == _group_by_size(paths, 128 << 20, par)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1m")
    try:
        assert _group_by_split(spark, paths) == _group_by_size(paths, 1 << 20, par)
        out = pyscan_map_in_arrow(spark, scan, rows, "n long", columns=["x"], group="split")
        per_task = [r["n"] for r in out.collect()]
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert sum(per_task) == len(x)
    # at most 1 MiB of longs per task, give or take one row group
    assert max(per_task) <= (1 << 20) // 8 + 12_500, per_task


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
        enc, _ = _encode_batch(store, wp, 0, n_chunks, "url", wp.columns, {})
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


def test_agg_decode_one_job_no_exchange(spark, tmp_path):
    """On a ``partitionBy("chunk_id")`` store the ungrouped decode tier
    and both stats tiers are each one job of one stage, with no Exchange
    in the stage's executed plan, on both scans; their answers are local
    relations that collect with no job."""
    from varint_simd_spark.operators import encode_table
    from varint_simd_spark.operators.encode import (
        _agg_decode_partials,
        _agg_stats_partials,
        decode_aggregate,
    )

    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    store = str(tmp_path / "store")
    encode_table(df, key="l_orderkey", n_chunks=8, stats_group_by="l_returnflag") \
        .write.partitionBy("chunk_id").parquet(store)
    st = spark.read.parquet(store)
    tiers = {
        "decode": (_agg_decode_partials, dict(use_stats=False)),
        "stats": (_agg_stats_partials, {}),
        "grouped_stats": (
            lambda enc: _agg_stats_partials(enc, "l_returnflag"),
            dict(group_by="l_returnflag"),
        ),
    }
    sc = spark.sparkContext
    got = {}
    for flag, (tier, (stage, kwargs)) in itertools.product(("0", "1"), tiers.items()):
        os.environ["VSS_PYSCAN"] = flag
        group = f"agg_one_job_{tier}_{flag}"
        sc.setJobGroup(group, f"{tier} aggregate")
        try:
            plan = stage(st)._jdf.queryExecution().executedPlan().toString()
            got[tier, flag] = _rows(decode_aggregate(st, **kwargs))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            os.environ["VSS_PYSCAN"] = "1"
        assert "Exchange" not in plan, (tier, flag, plan)
        tr = sc.statusTracker()
        jobs = tr.getJobIdsForGroup(group)
        assert len(jobs) == 1, (tier, flag, jobs)
        assert len(tr.getJobInfo(jobs[0]).stageIds) == 1, (tier, flag)
    for tier in tiers:
        assert got[tier, "0"] == got[tier, "1"], tier
    assert got["stats", "1"] == got["decode", "1"]
    assert len(got["decode", "1"]) == len(df.columns)
    assert len(got["grouped_stats", "1"]) > len(df.columns)


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


def _enc_digest(enc) -> str:
    """sha256 of an encode's rows, every field, sorted by (chunk_id, col_idx)."""
    import hashlib

    h = hashlib.sha256()
    for r in sorted(enc.collect(), key=lambda r: (r["chunk_id"], r["col_idx"])):
        h.update(repr(tuple(r)).encode())
    return h.hexdigest()


# sha256 (first 16 hex digits) of each writer's encoded rows on the fixed
# inputs of test_writer_bytes_pinned
_WRITER_DIGESTS = {
    "row_shuffle_parquet": "a9179ecaef12a4b4",
    "fragment_merge": "f8db8f602d9aceb0",
    "row_shuffle_memory": "641f4f49241a2492",
    "per_split": "7bada07ee1bd8819",
    "bucketed": "a4c4e39a1b5b151d",
    "salted": "1b363758851242ce",
    "salted_text_only": "8db213046d4115d5",
    "resumable": "a814cce9d1c3ce00",
    "resumable_salted": "1b363758851242ce",
    "stream_batch": "2ee65d6085d469ce",
}


def test_writer_bytes_pinned(spark, tmp_path, monkeypatch):
    """Every writer's encoded rows are pinned by digest on small fixed
    inputs with unique keys, so equal-key order cannot vary: the row
    shuffle (parquet input with grouped stats, and an in-memory frame), the
    fragment merge, per-split, bucketed, salted (all columns and one),
    encode_resumable plain and salted, and one stream micro-batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from varint_simd_spark.operators import encode_table
    from varint_simd_spark.operators.encode import encode_table_bucketed, encode_table_per_split
    from varint_simd_spark.plans.partitioning import encode_table_salted
    from varint_simd_spark.sources.checkpoint import EncodedStore, encode_resumable
    from varint_simd_spark.sources.web_pages import generate_web_pages
    from varint_simd_spark.streaming.incremental import _encode_batch

    web = generate_web_pages(spark, 1500, seed=5).cache()
    pages = web.toArrow().sort_by("url")
    for i in range(4):
        (tmp_path / "web").mkdir(exist_ok=True)
        pq.write_table(pages.slice(i * 375, 375), tmp_path / "web" / f"f{i}.parquet")
    web_pq = spark.read.parquet(str(tmp_path / "web"))

    # integer-dominated, lineitem-shaped, 8 files: takes the fragment merge
    rng = np.random.default_rng(13)
    n = 16_000
    key = rng.permutation(n).astype(np.int64) * 7 + 3
    li = pa.table({
        "l_key": key,
        "l_orderkey": (key // 28).astype(np.int64),
        "l_partkey": rng.integers(0, 20_000, n).astype(np.int64),
        "l_quantity": rng.integers(1, 51, n).astype(np.int32),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n), 2),
        "l_shipdate": pa.array(rng.integers(8000, 10_500, n).astype(np.int32), pa.date32()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
    })
    (tmp_path / "li").mkdir()
    for i in range(8):
        pq.write_table(li.slice(i * 2000, 2000), tmp_path / "li" / f"f{i}.parquet")
    li_pq = spark.read.parquet(str(tmp_path / "li"))
    fragment = encode_table(li_pq, key="l_key", n_chunks=4)
    assert "__gkey" in fragment._jdf.queryExecution().analyzed().toString()

    def resumable(**kw):
        got = []
        monkeypatch.setattr(EncodedStore, "commit", lambda self, enc, **_: got.append(enc))
        encode_resumable(
            EncodedStore(spark, str(tmp_path / f"store{len(kw)}")), web, n_chunks=4, **kw
        )
        monkeypatch.undo()
        return got[0]

    store = EncodedStore(spark, str(tmp_path / "stream"))
    stream_batch, _ = _encode_batch(store, web, 3, 4, "url", web.columns, {}, "lang")

    encodes = {
        "row_shuffle_parquet": encode_table(web_pq, key="url", n_chunks=4, stats_group_by="lang"),
        "fragment_merge": fragment,
        "row_shuffle_memory": encode_table(web, key="url", n_chunks=3),
        "per_split": encode_table_per_split(web_pq, key="url", target_chunk_bytes=64 << 10),
        "bucketed": encode_table_bucketed(web_pq, key="url", n_buckets=3),
        "salted": encode_table_salted(web, n_chunks=4, target_rows_per_chunk=100),
        "salted_text_only": encode_table_salted(web, n_chunks=4, columns=["text"]),
        "resumable": resumable(),
        "resumable_salted": resumable(salted=True, target_rows_per_chunk=100),
        "stream_batch": stream_batch,
    }
    got = {name: _enc_digest(enc)[:16] for name, enc in encodes.items()}
    web.unpersist()
    assert got == _WRITER_DIGESTS


def _kilobyte_rows_encoded(spark, n: int):
    """Rows ``(k, blob)`` with ~1 KB of incompressible bytes a row, hash
    encoded into two chunks with ``blob`` stored raw: at n=9000 each chunk
    holds over the python-side scan's 4 MB per-directory floor."""
    from varint_simd_spark.operators import encode_table

    blobs = np.random.default_rng(3).integers(0, 256, n * 1024, dtype=np.uint8).tobytes()
    src = spark.createDataFrame(
        [(i, blobs[i * 1024:(i + 1) * 1024]) for i in range(n)], "k long, blob binary"
    )
    return encode_table(src, key="k", n_chunks=2, codecs={"blob": "raw_str"})


def test_colocated_decode_emits_a_duplicated_chunk_once(spark, tmp_path, monkeypatch):
    """A chunk whose files sit in two directories of a store partitioned
    by another column decodes once on both scans, as in decode_table: the
    python-side scan reads one task per directory only when each chunk id
    is a partition value held by one directory, and the colocated loop
    emits a chunk at most once per task, which covers two copies that one
    JVM scan task reads.  A chunk-partitioned store keeps the python-side
    per-directory scan."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from varint_simd_spark.operators import decode_table, decode_table_colocated
    from varint_simd_spark.operators import encode as E

    n = 9000
    enc = _kilobyte_rows_encoded(spark, n).toArrow()
    chunk = {c: enc.filter(pc.equal(enc["chunk_id"], c)) for c in (0, 1)}
    layouts = {
        # chunk 0 copied into a second part= directory
        "dup": [("part=0", chunk[0]), ("part=1", chunk[1]), ("part=2", chunk[0])],
        "chunked": [(f"chunk_id={c}", chunk[c].drop_columns("chunk_id")) for c in (0, 1)],
    }
    for name, files in layouts.items():
        for d, t in files:
            (tmp_path / name / d).mkdir(parents=True)
            pq.write_table(t, tmp_path / name / d / "c.parquet")

    def rows(df):
        return sorted(tuple(r) for r in df.select("k", F.xxhash64("blob")).collect())

    groups = []
    real = E.pyscan_map_in_arrow

    def spy(*args, **kwargs):
        groups.append(kwargs["group"])
        return real(*args, **kwargs)

    monkeypatch.setattr(E, "pyscan_map_in_arrow", spy)
    st = spark.read.parquet(str(tmp_path / "dup"))
    want = rows(decode_table(st))
    assert len(want) == n
    for flag in ("0", "1"):
        os.environ["VSS_PYSCAN"] = flag
        try:
            assert rows(decode_table_colocated(st)) == want, flag
        finally:
            os.environ["VSS_PYSCAN"] = "1"
    assert groups == []
    # one JVM scan task reads both copies: the probe sees no split chunk
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    try:
        assert st.rdd.getNumPartitions() == 1
        assert rows(decode_table_colocated(st)) == want
    finally:
        spark.conf.unset("spark.sql.files.minPartitionNum")

    chunked = spark.read.parquet(str(tmp_path / "chunked"))
    assert rows(decode_table_colocated(chunked)) == want
    assert groups == ["dir"]


def test_aggregate_with_columns_reads_through_python_scan(spark, tmp_path, monkeypatch):
    """decode_aggregate(columns=...) on a chunk store: the stats tiers and
    the ungrouped decode tier pass the column list to the python-side scan
    as its row filter, and answer the JVM scan's rows."""
    from varint_simd_spark.operators import encode_table
    from varint_simd_spark.operators import pyscan as P
    from varint_simd_spark.operators.encode import decode_aggregate
    from varint_simd_spark.sources.web_pages import generate_web_pages

    store = str(tmp_path / "store")
    encode_table(
        generate_web_pages(spark, 2000, seed=9), key="url", n_chunks=4, stats_group_by="lang"
    ).write.partitionBy("chunk_id").parquet(store)
    st = spark.read.parquet(store)
    cols = ["warc_ts", "text"]
    tiers = {
        "stats": {},
        "decode": {"use_stats": False},
        "grouped_stats": {"group_by": "lang"},
    }
    filters = []
    real = P.pyscan_map_in_arrow

    def spy(*args, **kwargs):
        filters.append(kwargs["column_filter"])
        return real(*args, **kwargs)

    monkeypatch.setattr(P, "pyscan_map_in_arrow", spy)
    for tier, kw in tiers.items():
        os.environ["VSS_PYSCAN"] = "0"
        try:
            jvm = _rows(decode_aggregate(st, columns=cols, **kw))
        finally:
            os.environ["VSS_PYSCAN"] = "1"
        assert filters == [], tier
        got = _rows(decode_aggregate(st, columns=cols, **kw))
        assert got == jvm and {r[1 if "group_by" in kw else 0] for r in got} == set(cols), tier
        assert [sorted(f) for f in filters] == [sorted(cols)], tier
        filters.clear()


def test_on_disk_corruption_reaches_the_payload_crc(spark, tmp_path, monkeypatch):
    """A payload byte flipped on disk in a chunk-partitioned store fails
    every payload-reading path with the engine's own CRC error: colocated
    decode on the python-side per-directory scan and on the JVM scan,
    decode_table, both decode-tier aggregates and a point lookup.  The
    file is rewritten without its Hadoop .crc sidecar, so no JVM checksum
    catches it first."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from varint_simd_spark.operators import decode_table, decode_table_colocated
    from varint_simd_spark.operators import encode as E

    store = tmp_path / "store"
    _kilobyte_rows_encoded(spark, 9000).write.partitionBy("chunk_id").parquet(str(store))
    path = next(iter(sorted((store / "chunk_id=1").glob("*.parquet"))))
    t = pq.read_table(path)
    i = t["column"].to_pylist().index("blob")
    payloads = t["payload"].to_pylist()
    payload = bytearray(payloads[i])
    payload[len(payload) // 2] ^= 0xFF
    payloads[i] = bytes(payload)
    t = t.set_column(t.schema.get_field_index("payload"), "payload", pa.array(payloads, pa.binary()))
    pq.write_table(t, path)
    (path.parent / f".{path.name}.crc").unlink()
    # a key of chunk 1, the corrupted one: chunk id is pmod(xxhash64(k), 2)
    key = spark.range(64).filter(F.pmod(F.xxhash64("id"), F.lit(2)) == 1).first()["id"]
    st = spark.read.parquet(str(store))

    groups = []
    real = E.pyscan_map_in_arrow

    def spy(*args, **kwargs):
        groups.append(kwargs["group"])
        return real(*args, **kwargs)

    monkeypatch.setattr(E, "pyscan_map_in_arrow", spy)

    def corrupt(run):
        with pytest.raises(Exception, match="payload corruption"):
            run()

    for flag in ("0", "1"):
        os.environ["VSS_PYSCAN"] = flag
        try:
            corrupt(lambda: decode_table_colocated(st).count())
        finally:
            os.environ["VSS_PYSCAN"] = "1"
    assert groups == ["dir"]
    corrupt(lambda: decode_table(st).count())
    corrupt(lambda: E.decode_aggregate(st, use_stats=False).collect())
    corrupt(lambda: E.decode_aggregate(st, use_stats=False, group_by="k").collect())
    corrupt(lambda: E.lookup_by_key(st, "k", key).collect())
