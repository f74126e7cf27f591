"""M4/M5 tests: hot-host salting bounds chunk skew; checkpointed encode
resumes idempotently from the last committed chunk set."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from varint_simd_spark.operators import decode_table
from varint_simd_spark.plans.partitioning import (
    encode_table_salted,
    plan_salts,
    salted_chunk_column,
    skew_report,
)
from varint_simd_spark.sources.checkpoint import EncodedStore, encode_resumable
from varint_simd_spark.sources.web_pages import generate_web_pages


@pytest.fixture(scope="module")
def web_pages(spark):
    df = generate_web_pages(spark, 4000, seed=42)
    df.cache().count()
    return df


def _spark_lineage(spark, enc, expected_chunks=None):
    """The manifest rows of a commit of ``enc`` as a Spark lineage job
    computes them (sorted, without snapshot_id / committed_at)."""
    lineage = enc.groupBy("chunk_id").agg(
        F.sum("n_values").alias("n_values"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("enc_bytes").alias("enc_bytes"),
        F.count("*").alias("n_columns"),
    )
    if expected_chunks is not None:
        planned = spark.createDataFrame([(int(c),) for c in expected_chunks], "chunk_id long")
        lineage = planned.join(lineage, "chunk_id", "left").fillna(
            0, subset=["n_values", "raw_bytes", "enc_bytes", "n_columns"]
        )
    return sorted(tuple(r) for r in lineage.collect())


def _manifest_rows(store, snapshot_id):
    cols = ["chunk_id", "n_values", "raw_bytes", "enc_bytes", "n_columns"]
    m = store.manifest()
    assert m.dtypes == [(c, "bigint") for c in cols] + [
        ("snapshot_id", "string"), ("committed_at", "double")]
    rows = m.filter(F.col("snapshot_id") == snapshot_id).select(*cols).collect()
    return sorted(tuple(r) for r in rows)


def test_salt_plan_detects_hot_hosts(web_pages):
    plan = plan_salts(web_pages, target_rows_per_chunk=200).toPandas()
    top = skew_report(web_pages).toPandas()
    assert len(plan) >= 1  # zipf skew => at least the hottest host flagged
    assert top["count"].iloc[0] > 200
    hot = set(plan["__host"])
    assert top["host"].iloc[0] in hot
    # salts sized ~ rows/target
    for _, r in plan.iterrows():
        assert r["__n_salts"] == -(-r["__host_rows"] // 200)


def test_salted_chunks_bounded(web_pages):
    n_chunks = 16
    df2 = salted_chunk_column(web_pages, n_chunks, target_rows_per_chunk=200)
    sizes = df2.groupBy("__chunk").count().toPandas()["count"]
    # without salting the hottest host (~1400 rows) would be one chunk;
    # with salting no chunk should be much above target + cold-host noise
    assert sizes.max() < 1000, sizes.describe()


def test_salted_roundtrip(web_pages, spark):
    enc = encode_table_salted(web_pages, n_chunks=16, target_rows_per_chunk=200)
    out = decode_table(enc).drop("__chunk").toPandas().sort_values("url", ignore_index=True)
    src = web_pages.toPandas().sort_values("url", ignore_index=True)
    assert (out["text"] == src["text"]).all()
    assert (out["url"] == src["url"]).all()


def test_salted_columns_without_url(spark):
    """``columns`` without the url: the salted encode still sorts each
    chunk by url (carried along, never encoded), so the store holds the
    ``text`` column only, at col_idx 0."""
    wp = generate_web_pages(spark, 200)
    enc = encode_table_salted(wp, n_chunks=2, columns=["text"])
    assert {(r["column"], r["col_idx"]) for r in enc.select("column", "col_idx").collect()} == {
        ("text", 0)
    }
    out = decode_table(enc).drop("__chunk")
    assert out.columns == ["text"]
    assert sorted(r["text"] for r in out.collect()) == sorted(
        r["text"] for r in wp.select("text").collect()
    )


def test_resume_idempotent(web_pages, spark, tmp_path):
    store = EncodedStore(spark, str(tmp_path / "store"))

    snap1, n1 = encode_resumable(store, web_pages, key="url", n_chunks=8)
    assert snap1 is not None and n1 == 8

    # second run: everything committed -> no-op
    snap2, n2 = encode_resumable(store, web_pages, key="url", n_chunks=8)
    assert snap2 is None and n2 == 0

    # drop 3 chunks from the manifest (simulate partial failure) -> resume
    # re-encodes exactly those
    m = spark.read.parquet(store.manifest_path)
    kept = m.filter(~F.col("chunk_id").isin([1, 3, 5]))
    kept.write.mode("overwrite").parquet(str(tmp_path / "m2"))
    spark.read.parquet(str(tmp_path / "m2")).write.mode("overwrite").parquet(store.manifest_path)

    snap3, n3 = encode_resumable(store, web_pages, key="url", n_chunks=8)
    assert snap3 is not None and n3 == 3

    # decoded result == source (full table, bit-identical text per url)
    dec = decode_table(store.read_encoded()).drop("__chunk")
    out = dec.toPandas().sort_values("url", ignore_index=True)
    src = web_pages.toPandas().sort_values("url", ignore_index=True)
    assert len(out) == len(src)
    assert (out["text"] == src["text"]).all()
    micros = lambda s: s.astype("datetime64[us]").astype(np.int64).to_numpy()
    assert (micros(out["warc_ts"]) == micros(src["warc_ts"])).all()


def test_resume_no_duplicate_rows(web_pages, spark, tmp_path):
    """Re-committing a chunk overwrites (dynamic partition overwrite), never
    duplicates."""
    store = EncodedStore(spark, str(tmp_path / "store2"))
    encode_resumable(store, web_pages, key="url", n_chunks=4)
    # force a full re-encode by wiping the manifest only
    spark.createDataFrame([], "chunk_id long").write.mode("overwrite").parquet(store.manifest_path)
    encode_resumable(store, web_pages, key="url", n_chunks=4)
    dec = decode_table(store.read_encoded())
    assert dec.count() == web_pages.count()


def test_decode_colocated_matches_shuffled(web_pages, spark, tmp_path):
    """Shuffle-free decode over the store layout must equal the shuffled
    decode and contain zero exchanges in its plan."""
    from varint_simd_spark.operators import decode_table_colocated

    store = EncodedStore(spark, str(tmp_path / "store3"))
    encode_resumable(store, web_pages, key="url", n_chunks=6)
    enc = store.read_encoded()
    a = decode_table(enc).drop("__chunk").toPandas().sort_values("url", ignore_index=True)
    dfb = decode_table_colocated(enc)

    def n_data_exchanges(df):
        # exchanges excluding broadcast and the tiny manifest-distinct one
        plan = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
        return plan.replace("BroadcastExchange", "").count("Exchange")

    shuffled = decode_table(enc)
    # colocated decode drops the big-side groupBy exchange: exactly one
    # fewer exchange than the shuffled path (the remaining one is the tiny
    # manifest distinct feeding the broadcast semi-join)
    assert n_data_exchanges(dfb) == n_data_exchanges(shuffled) - 1
    b = dfb.drop("__chunk").toPandas().sort_values("url", ignore_index=True)
    assert (a["text"] == b["text"]).all() and len(a) == len(b)


def test_snapshot_scoped_read(web_pages, spark, tmp_path):
    """Manifest snapshots gate chunk membership: reading as-of the first
    snapshot excludes chunks committed later."""
    from pyspark.sql import functions as F

    store = EncodedStore(spark, str(tmp_path / "store4"))
    snap1, _ = encode_resumable(store, web_pages, key="url", n_chunks=6)

    # simulate losing 2 chunks, then a second snapshot recommits them
    m = store.manifest()
    kept = m.filter(~F.col("chunk_id").isin([0, 1]))
    kept.write.mode("overwrite").parquet(str(tmp_path / "mkeep"))
    spark.read.parquet(str(tmp_path / "mkeep")).write.mode("overwrite").parquet(store.manifest_path)
    snap2, n2 = encode_resumable(store, web_pages, key="url", n_chunks=6)
    assert snap2 is not None and n2 == 2

    chunks1 = {
        r["chunk_id"]
        for r in store.read_encoded(as_of_snapshot=snap1)
        .select("chunk_id").distinct().collect()
    }
    chunks2 = {
        r["chunk_id"]
        for r in store.read_encoded(as_of_snapshot=snap2)
        .select("chunk_id").distinct().collect()
    }
    assert chunks1 == {2, 3, 4, 5}  # snap1's surviving membership
    assert chunks2 == {0, 1, 2, 3, 4, 5}  # full set as of the recommit

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown snapshot"):
        store.read_encoded(as_of_snapshot="nope")


def test_commit_lineage_covers_only_this_run(web_pages, spark, tmp_path):
    """A commit's manifest rows cover exactly the chunks that run touched —
    NOT the whole store (at 100 TB a commit must be O(run), not O(store))."""
    from varint_simd_spark.operators import encode_table

    store = EncodedStore(spark, str(tmp_path / "store6"))
    # commit 1: chunks 0..3 (4 chunks)
    enc1 = encode_table(web_pages, key="url", n_chunks=4)
    snap1 = store.commit(enc1)
    m1 = store.manifest().toPandas()
    assert len(m1) == 4 and set(m1["snapshot_id"]) == {snap1}
    assert _manifest_rows(store, snap1) == _spark_lineage(spark, enc1)

    # commit 2: re-encode ONLY chunk 2 (public commit(), no expected_chunks)
    enc2 = encode_table(web_pages, key="url", n_chunks=4).filter(F.col("chunk_id") == 2)
    snap2 = store.commit(enc2)
    assert _manifest_rows(store, snap2) == _spark_lineage(spark, enc2)
    m2 = store.manifest().toPandas()
    # exactly ONE new row, attributed to snap2, for chunk 2 only — no
    # re-attribution of untouched chunks to the new snapshot
    assert len(m2) == 5
    new = m2[m2["snapshot_id"] == snap2]
    assert list(new["chunk_id"]) == [2]
    # and the untouched chunks' rows still carry the old snapshot
    assert set(m2[m2["chunk_id"] != 2]["snapshot_id"]) == {snap1}


def test_iceberg_backend_interface_parity(spark, tmp_path):
    """The Iceberg backend shares the exact EncodedStore interface; in this
    sandbox (no iceberg-spark-runtime jar) requesting it fails FAST with an
    actionable error instead of surfacing an executor-time ClassNotFound."""
    import inspect

    import pytest as _pytest

    from varint_simd_spark.sources.checkpoint import iceberg_runtime_available

    sig = inspect.signature(EncodedStore.__init__)
    assert "iceberg_table" in sig.parameters
    if iceberg_runtime_available(spark):
        _pytest.skip("iceberg runtime present; parquet-fallback gate not applicable")
    with _pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        EncodedStore(spark, str(tmp_path / "ice"), iceberg_table="engine.db.enc")


def test_empty_chunks_commit_liveness(spark, tmp_path):
    """Chunks that receive no rows still get zero-row manifest entries, so
    resume converges instead of re-planning them forever."""
    from varint_simd_spark.sources.web_pages import generate_web_pages

    tiny = generate_web_pages(spark, 100, seed=42).limit(3)
    store = EncodedStore(spark, str(tmp_path / "store5"))
    snap, n1 = encode_resumable(store, tiny, key="url", n_chunks=8)
    _, n2 = encode_resumable(store, tiny, key="url", n_chunks=8)
    assert n1 == 8 and n2 == 0
    assert decode_table(store.read_encoded()).count() == 3
    # one row per planned chunk, zeros for the empty ones
    rows = _manifest_rows(store, snap)
    assert rows == _spark_lineage(spark, spark.read.parquet(store.enc_path), range(8))
    assert len(rows) == 8 and sum(r[4] == 0 for r in rows) >= 5


def test_corrupt_manifest_raises_not_empty(web_pages, spark, tmp_path):
    """A corrupt/unreadable manifest must raise, not silently read as
    "nothing committed" (which would trigger a full re-encode at scale).
    A missing manifest path still reads as empty (first run)."""
    store = EncodedStore(spark, str(tmp_path / "storec"))
    assert store.committed_chunks().count() == 0  # missing path: first run

    encode_resumable(store, web_pages, key="url", n_chunks=2)
    assert store.committed_chunks().count() == 2
    # a ``_`` leftover (a manifest record cut before its rename) is skipped
    with open(f"{store.manifest_path}/_tmp-crashed.parquet", "wb") as f:
        f.write(b"PAR1 truncated")
    assert sorted(r["chunk_id"] for r in store.committed_chunks().collect()) == [0, 1]

    # corrupt every manifest parquet file in place
    import pathlib

    for f in pathlib.Path(store.manifest_path).glob("*.parquet"):
        f.write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        store.committed_chunks().count()

    # a resume over it raises too, before it re-encodes anything
    data = {f: f.stat().st_mtime_ns for f in pathlib.Path(store.enc_path).rglob("*")}
    with pytest.raises(Exception):
        encode_resumable(store, web_pages, key="url", n_chunks=2)
    assert {f: f.stat().st_mtime_ns for f in pathlib.Path(store.enc_path).rglob("*")} == data


def test_ingest_layout_guard(web_pages, spark, tmp_path):
    """ingest_to_store locks the layout-determining params to the store:
    a re-ingest with a different key/target_chunk_bytes/input set fails
    fast instead of re-keying every chunk (silent duplication)."""
    from varint_simd_spark.sources.checkpoint import ingest_to_store

    inp = str(tmp_path / "wp_guard_in")
    web_pages.write.mode("overwrite").parquet(inp)
    df = spark.read.parquet(inp)

    store = EncodedStore(spark, str(tmp_path / "guard_store"))
    ingest_to_store(store, df, key="url", target_chunk_bytes=1 << 20)
    n0 = store.read_encoded().count()

    # identical layout: idempotent re-run allowed (crash recovery)
    ingest_to_store(store, df, key="url", target_chunk_bytes=1 << 20)
    assert store.read_encoded().count() == n0

    # different chunking param: re-keyed layout -> fail fast
    with pytest.raises(ValueError, match="layout"):
        ingest_to_store(store, df, key="url", target_chunk_bytes=2 << 20)

    # different input set -> fail fast
    inp2 = str(tmp_path / "wp_guard_in2")
    web_pages.limit(100).write.mode("overwrite").parquet(inp2)
    with pytest.raises(ValueError, match="layout"):
        ingest_to_store(store, spark.read.parquet(inp2), key="url",
                        target_chunk_bytes=1 << 20)


def test_ingest_layout_guard_parallelism_and_packing(web_pages, spark, tmp_path):
    """The layout lock records the core count and the split packer: a
    stored lock from another parallelism, or one written before the
    balanced packer (no ``split_packing``), re-keys every per-split chunk,
    so the re-ingest must fail fast."""
    import json

    from varint_simd_spark.sources.checkpoint import ingest_to_store

    inp = str(tmp_path / "wp_lock_in")
    web_pages.limit(500).write.mode("overwrite").parquet(inp)
    df = spark.read.parquet(inp)
    store = EncodedStore(spark, str(tmp_path / "lock_store"))
    ingest_to_store(store, df, key="url", target_chunk_bytes=1 << 20)

    conf_path = f"{store.root}/_ingest_conf.json"
    with open(conf_path) as f:
        lock = json.load(f)
    assert lock["defaultParallelism"] == spark.sparkContext.defaultParallelism
    assert lock["split_packing"] == "balanced"
    other_cores = dict(lock, defaultParallelism=lock["defaultParallelism"] + 4)
    old_packer = {k: v for k, v in lock.items()
                  if k not in ("defaultParallelism", "split_packing")}
    for stored in (other_cores, old_packer):
        with open(conf_path, "w") as f:
            json.dump(stored, f)
        with pytest.raises(ValueError, match="ingest layout differs"):
            ingest_to_store(store, df, key="url", target_chunk_bytes=1 << 20)


def test_ingest_to_store_roundtrip(web_pages, spark, tmp_path):
    """Per-split ingest into the store: zero-exchange encode, committed
    manifest, bit-identical decode through the manifest-gated read."""
    from varint_simd_spark.sources.checkpoint import ingest_to_store

    # write input to parquet first (per-split ids are layout-deterministic)
    inp = str(tmp_path / "wp_in")
    web_pages.write.mode("overwrite").parquet(inp)
    df = spark.read.parquet(inp)

    store = EncodedStore(spark, str(tmp_path / "ingest_store"))
    snap = ingest_to_store(store, df, key="url", target_chunk_bytes=1 << 20)
    assert snap is not None

    out = decode_table(store.read_encoded()).drop("__chunk").toPandas().sort_values("url", ignore_index=True)
    src = df.toPandas().sort_values("url", ignore_index=True)
    assert len(out) == len(src)
    assert (out["text"] == src["text"]).all()

    # manifest rows == chunks written, once each
    m = store.manifest().toPandas()
    n_chunks = store.read_encoded().select("chunk_id").distinct().count()
    assert len(m) == n_chunks and m["chunk_id"].is_unique
    assert _manifest_rows(store, snap) == _spark_lineage(
        spark, spark.read.parquet(store.enc_path))


def _sql_status(spark):
    """The SQL status store, once every posted event has reached it."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return spark._jsparkSession.sharedState().statusStore()


def test_commit_is_one_job_without_exchange_or_cache(web_pages, spark, tmp_path):
    """A commit is one Spark job, the data write itself: no exchange, no
    cached payload, nothing left cached; the lineage comes from the same
    job and the manifest is written by the driver."""
    from varint_simd_spark.operators.encode import encode_table_per_split

    inp = str(tmp_path / "one_job_in")
    web_pages.write.mode("overwrite").parquet(inp)
    enc = encode_table_per_split(spark.read.parquet(inp), key="url",
                                 target_chunk_bytes=1 << 20)
    store = EncodedStore(spark, str(tmp_path / "one_job_store"))
    sc = spark.sparkContext
    since = int(_sql_status(spark).executionsCount())
    n_cached = sc._jsc.getPersistentRDDs().size()
    sc.setJobGroup("one_job_commit", "store commit")
    try:
        snap = store.commit(enc)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("one_job_commit")) == 1
    sql = _sql_status(spark)
    execs = sql.executionsList(since, int(sql.executionsCount()) - since)
    plans = [execs.apply(i).physicalPlanDescription() for i in range(execs.length())]
    assert plans and not any("Exchange" in p or "InMemoryTableScan" in p for p in plans)
    assert sc._jsc.getPersistentRDDs().size() == n_cached
    assert _manifest_rows(store, snap) == _spark_lineage(
        spark, spark.read.parquet(store.enc_path))


def _group_jobs(spark, group, fn):
    """``fn()``, its Spark job count and the physical plans it ran."""
    sc = spark.sparkContext
    since = int(_sql_status(spark).executionsCount())
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sql = _sql_status(spark)
    n_new = int(sql.executionsCount()) - since
    execs = sql.executionsList(since, n_new) if n_new else None
    plans = [execs.apply(i).physicalPlanDescription() for i in range(n_new)]
    return out, len(sc.statusTracker().getJobIdsForGroup(group)), plans


def test_resume_reads_commit_state_on_the_driver(web_pages, spark, tmp_path):
    """The pending chunk set is a driver-side list: a first run plans no
    sort-merge join and caches nothing, and a no-op resume runs at most two
    small jobs (the manifest's semi-join against the planned ids)."""
    inp = str(tmp_path / "pending_in")
    web_pages.write.mode("overwrite").parquet(inp)
    df = spark.read.parquet(inp)
    store = EncodedStore(spark, str(tmp_path / "pending_store"))
    n_cached = spark.sparkContext._jsc.getPersistentRDDs().size()

    (snap, n), _, plans = _group_jobs(
        spark, "resume_first", lambda: encode_resumable(store, df, key="url", n_chunks=8))
    assert snap is not None and n == 8
    assert plans and not any("SortMergeJoin" in p or "InMemoryRelation" in p for p in plans)

    out, n_jobs, _ = _group_jobs(
        spark, "resume_noop", lambda: encode_resumable(store, df, key="url", n_chunks=8))
    assert out == (None, 0) and n_jobs <= 2
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == n_cached

    assert store.pending(range(10)) == [8, 9]
    missing = EncodedStore(spark, str(tmp_path / "no_manifest"))
    assert _group_jobs(spark, "pending_missing", lambda: missing.pending([3, 1]))[:2] == (
        [3, 1], 0)


def test_resume_converges_past_100k_chunks(spark, tmp_path):
    """Every planned chunk gets a manifest row however many there are, so
    a second run over a 3-row input is a no-op even at 100 001 chunks."""
    tiny = generate_web_pages(spark, 100, seed=42).limit(3)
    store = EncodedStore(spark, str(tmp_path / "wide"))
    assert encode_resumable(store, tiny, key="url", n_chunks=100_001)[1] == 100_001
    assert encode_resumable(store, tiny, key="url", n_chunks=100_001) == (None, 0)
    assert decode_table(store.read_encoded()).count() == 3


def test_stream_lock_rejects_remote_root(spark, tmp_path, monkeypatch):
    """The layout lock is a local file: on a remote store root the stream
    fails fast instead of writing a lock that guards nothing, and on a
    ``file:`` root the lock lands in the store root itself."""
    from varint_simd_spark.sources.checkpoint import _lock_layout
    from varint_simd_spark.streaming.incremental import encode_stream

    monkeypatch.chdir(tmp_path)
    store = EncodedStore(spark, "s3a://bucket/store")
    with pytest.raises(NotImplementedError, match="local store root"):
        encode_stream(spark, str(tmp_path / "in"), store,
                      generate_web_pages(spark, 10).schema, key="url", n_chunks=4,
                      checkpoint_dir=str(tmp_path / "ckpt"))
    assert list(tmp_path.iterdir()) == []

    _lock_layout(EncodedStore(spark, f"file://{tmp_path}/local"), "stream", {"n_chunks": 4})
    assert [p.name for p in tmp_path.iterdir()] == ["local"]
    assert [p.name for p in (tmp_path / "local").iterdir()] == ["_stream_conf.json"]


@pytest.mark.parametrize("entry", ["encode_table_salted", "encode_resumable", "encode_stream"])
def test_unknown_codec_column_rejected_on_driver(spark, tmp_path, entry):
    """Every encode entry point rejects ``codecs`` for a column it does not
    encode with a ValueError, before any Spark job runs."""
    from varint_simd_spark.streaming.incremental import encode_stream

    df = spark.createDataFrame([("https://a.example.com/p/1", "x")], "url string, text string")
    codecs = {"txet": "fsst"}
    calls = {
        "encode_table_salted": lambda: encode_table_salted(df, n_chunks=4, codecs=codecs),
        "encode_resumable": lambda: encode_resumable(
            EncodedStore(spark, str(tmp_path / "store")), df, key="url", n_chunks=4,
            codecs=codecs),
        "encode_stream": lambda: encode_stream(
            spark, str(tmp_path / "in"), EncodedStore(spark, str(tmp_path / "store")),
            df.schema, key="url", n_chunks=4, codecs=codecs,
            checkpoint_dir=str(tmp_path / "ckpt")),
    }

    def call():
        with pytest.raises(ValueError, match="codecs for unknown columns"):
            calls[entry]()

    assert _group_jobs(spark, f"bad_codecs_{entry}", call)[1] == 0
    assert not (tmp_path / "store").exists()


@pytest.mark.parametrize("n_chunks", [0, -3, 2**31])
@pytest.mark.parametrize("entry", ["encode_table", "encode_table_salted", "encode_resumable"])
def test_bad_n_chunks_rejected_on_driver(spark, tmp_path, entry, n_chunks):
    """Chunk ids are int partition ids: an n_chunks outside [1, 2**31 - 1]
    is a ValueError before any Spark job runs (not an executor-side
    REMAINDER_BY_ZERO or array-index error)."""
    from varint_simd_spark.operators import encode_table

    df = spark.createDataFrame([("https://a.example.com/p/1", "x")], "url string, text string")
    calls = {
        "encode_table": lambda: encode_table(df, key="url", n_chunks=n_chunks),
        "encode_table_salted": lambda: encode_table_salted(df, n_chunks=n_chunks),
        "encode_resumable": lambda: encode_resumable(
            EncodedStore(spark, str(tmp_path / "store")), df, key="url", n_chunks=n_chunks
        ),
    }
    sc = spark.sparkContext
    group = f"bad_n_chunks_{entry}_{n_chunks}"
    sc.setJobGroup(group, "n_chunks check")
    try:
        with pytest.raises(ValueError, match="n_chunks"):
            calls[entry]()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
