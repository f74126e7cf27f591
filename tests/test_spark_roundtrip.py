"""End-to-end Spark tests: encode_table -> decode_table round trip must be
bit-identical (north-rule invariant: byte-identical text per url), and the
encoded size must be <= the reference encoder's output."""

from __future__ import annotations

import itertools
import os

import numpy as np
import pandas as pd
import pytest

from varint_simd_spark.operators import chunk_metrics, decode_table, encode_table
from varint_simd_spark.sources.web_pages import generate_web_pages

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def web_pages(spark):
    df = generate_web_pages(spark, 2000, seed=42)
    df.cache().count()
    return df


def _stats_stage_reads(spark, monkeypatch, store, group_by=None):
    """What the stats tiers' one stage reads of ``store``: the JVM scan's
    ReadSchema and the column lists requested from the python-side scan."""
    import re

    from varint_simd_spark.operators import encode as E
    from varint_simd_spark.operators import pyscan as P

    requested = []
    real = P.pyscan_map_in_arrow

    def spy(*args, **kwargs):
        requested.append(kwargs["columns"])
        return real(*args, **kwargs)

    monkeypatch.setattr(P, "pyscan_map_in_arrow", spy)
    E._agg_stats_partials(spark.read.parquet(store), group_by)
    os.environ["VSS_PYSCAN"] = "0"
    try:
        stage = E._agg_stats_partials(spark.read.parquet(store), group_by)
        plan = stage._jdf.queryExecution().executedPlan().toString()
    finally:
        os.environ["VSS_PYSCAN"] = "1"
    return re.search(r"ReadSchema: .*", plan).group(0), requested


def test_web_pages_deterministic(spark):
    a = generate_web_pages(spark, 500, seed=42).orderBy("url").collect()
    b = generate_web_pages(spark, 500, seed=42).orderBy("url").collect()
    assert a == b
    c = generate_web_pages(spark.newSession(), 500, seed=7).orderBy("url").collect()
    assert a != c


def test_web_pages_characteristics(web_pages, spark):
    from pyspark.sql import functions as F

    pdf = web_pages.toPandas()
    # negative warc_ts deltas exist in page order (zigzag exercised)
    micros = pdf["warc_ts"].astype("datetime64[us]").astype(np.int64).to_numpy()
    order = pdf["url"].str.extract(r"/p/(\d+)$")[0].astype(int).to_numpy()
    deltas = np.diff(micros[np.argsort(order)])
    assert (deltas < 0).sum() > 0
    # host skew: top host should have many more pages than median host
    hosts = web_pages.select(F.substring_index("url", "/", 3).alias("h")).groupBy("h").count()
    counts = [r["count"] for r in hosts.collect()]
    assert max(counts) > 10 * np.median(counts)
    # lang low cardinality
    assert web_pages.select("lang").distinct().count() <= 8
    # html wraps text
    assert all(
        t.encode() in h for t, h in zip(pdf["text"].head(20), pdf["html"].head(20))
    )


def test_web_pages_roundtrip_bit_identical(web_pages, spark):
    enc = encode_table(web_pages, key="url", n_chunks=8)
    enc.cache()
    dec = decode_table(enc)

    src = web_pages.toPandas().sort_values("url", ignore_index=True)
    out = dec.drop("__chunk").toPandas().sort_values("url", ignore_index=True)

    assert list(out.columns) == list(src.columns)
    assert len(out) == len(src)
    # byte-identical text per url (north rule)
    assert (out["text"] == src["text"]).all()
    assert all(bytes(a) == bytes(b) for a, b in zip(out["html"], src["html"]))
    assert (out["lang"] == src["lang"]).all()
    # bit-identical timestamps
    a = out["warc_ts"].astype("datetime64[us]").astype(np.int64)
    b = src["warc_ts"].astype("datetime64[us]").astype(np.int64)
    assert (a.to_numpy() == b.to_numpy()).all()

    # compressed size <= reference encoder output, per column (BASELINE.md)
    m = chunk_metrics(enc).toPandas()
    assert (m["enc_bytes"] <= m["ref_bytes"]).all(), m[["column", "codec", "enc_bytes", "ref_bytes"]]


def test_lineitem_roundtrip(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    enc = encode_table(li, key="l_orderkey", n_chunks=4)
    dec = decode_table(enc).drop("__chunk")

    sort_cols = ["l_orderkey", "l_linenumber"]
    src = li.toPandas().sort_values(sort_cols, ignore_index=True)
    out = dec.toPandas().sort_values(sort_cols, ignore_index=True)[src.columns.tolist()]
    for col in src.columns:
        a, b = src[col], out[col]
        if a.dtype == np.float64:
            np.testing.assert_array_equal(a.to_numpy().view(np.int64), b.to_numpy().view(np.int64))
        else:
            assert (a == b).all(), col


def test_decode_is_shuffle_lean(web_pages):
    """The encode plan should contain exactly one exchange (the chunk
    groupBy); decode adds one more on chunk_id."""
    enc = encode_table(web_pages, key="url", n_chunks=8)
    plan = enc._jdf.queryExecution().executedPlan().toString()
    final_plan = plan.split("== Initial Plan ==")[0]  # AQE echoes the pre-adaptive plan too
    assert final_plan.count("Exchange") <= 1, final_plan


def test_column_pruning_reaches_scan(spark):
    """Encoding a column subset must prune the parquet scan (ReadSchema
    contains only the requested columns + key) — Catalyst pushdown works
    through the applyInArrow plan."""
    import re

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    enc = encode_table(li, key="l_orderkey", columns=["l_orderkey", "l_quantity"], n_chunks=4)
    plan = enc._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_orderkey", "l_quantity"}, cols


def test_filter_pushdown_reaches_scan(spark):
    """A filter before encode must reach the scan as a PushedFilter."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    from pyspark.sql import functions as F

    enc = encode_table(
        li.filter(F.col("l_orderkey") > 1000), key="l_orderkey", n_chunks=4
    )
    plan = enc._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert "PushedFilters: [IsNotNull(l_orderkey), GreaterThan(l_orderkey,1000)]" in plan, plan


def test_decode_column_pruning(web_pages, spark, tmp_path):
    """decode_table(columns=...) must (a) return only those columns,
    bit-identical, and (b) push an In(column, ...) filter down to the
    encoded-store parquet scan so pruned payloads are never read."""
    from pyspark.sql import functions as F

    from varint_simd_spark.operators import decode_table_colocated

    store = str(tmp_path / "enc")
    encode_table(web_pages, key="url", n_chunks=8).repartition("chunk_id") \
        .write.partitionBy("chunk_id").parquet(store)
    enc = spark.read.parquet(store)

    dec = decode_table(enc, columns=["url", "text"])
    assert [f.name for f in dec.schema.fields] == ["__chunk", "url", "text"]
    out = dec.toPandas().sort_values("url", ignore_index=True)
    src = web_pages.select("url", "text").toPandas().sort_values("url", ignore_index=True)
    assert (out["text"] == src["text"]).all()

    # the column filter must reach the scan (payload skipping at the source)
    plan = dec._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert "PushedFilters" in plan and "In(column" in plan, plan

    # colocated (shuffle-free) variant agrees
    out2 = (
        decode_table_colocated(enc, columns=["url", "text"])
        .toPandas().sort_values("url", ignore_index=True)
    )
    assert (out2["text"] == src["text"]).all()

    with pytest.raises(ValueError, match="unknown columns"):
        decode_table(enc, columns=["nope"])


def test_colocated_decode_falls_back_when_chunks_split(spark):
    """A layout where chunks span scan partitions (e.g. tiny
    maxPartitionBytes splitting a store file) must not error: the default
    layout check detects it and falls back to the shuffled decode_table.
    With the check disabled, the executor-side guard still hard-errors
    rather than silently dropping rows."""
    import warnings

    from varint_simd_spark.operators import decode_table_colocated

    wp = generate_web_pages(spark, 400, seed=11)
    enc = encode_table(wp, key="url", n_chunks=4)
    # round-robin repartition scatters each chunk's 12 column-rows
    scattered = enc.repartition(6)

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        dec = decode_table_colocated(scattered)
        out = dec.toPandas().sort_values("url", ignore_index=True)
    assert any("falling back" in str(x.message) for x in w)
    src = wp.toPandas().sort_values("url", ignore_index=True)
    assert (out["text"] == src["text"]).all() and len(out) == len(src)

    with pytest.raises(Exception, match="not fully co-located|PythonException"):
        decode_table_colocated(scattered, check_layout=False).count()


def test_payload_corruption_detected(spark, tmp_path):
    """A flipped payload byte must fail decode loudly (CRC gate), not
    produce silently wrong data."""
    import pyspark

    from varint_simd_spark.sources.web_pages import generate_web_pages

    wp = generate_web_pages(spark, 300, seed=42)
    enc = encode_table(wp, key="url", n_chunks=2)
    pdf = enc.toPandas()
    target = pdf.index[pdf["column"] == "text"][0]
    payload = bytearray(pdf.at[target, "payload"])
    payload[len(payload) // 2] ^= 0xFF
    pdf.at[target, "payload"] = bytes(payload)
    corrupted = spark.createDataFrame(pdf, schema=encode_table(wp, key="url", n_chunks=2).schema)
    with pytest.raises(Exception, match="corruption|PythonException") as ei:
        decode_table(corrupted).count()
    assert "payload corruption" in str(ei.value)

    # the shuffle-free path applies the same gate
    from varint_simd_spark.operators import decode_table_colocated

    store = str(tmp_path / "corrupt_store")
    corrupted.repartition("chunk_id").write.partitionBy("chunk_id").parquet(store)
    with pytest.raises(Exception, match="corruption|PythonException") as ei2:
        decode_table_colocated(spark.read.parquet(store)).count()
    assert "payload corruption" in str(ei2.value)

    # so do both decode-path aggregates, including partials computed from
    # the payload structure without a decode
    from varint_simd_spark.operators.encode import decode_aggregate

    for kw in ({}, {"group_by": "lang"}):
        with pytest.raises(Exception, match="corruption|PythonException") as ei3:
            decode_aggregate(corrupted, use_stats=False, **kw).collect()
        assert "payload corruption" in str(ei3.value), kw


def test_zone_map_prunes_chunks_and_stays_exact(spark):
    """Zone-map pruning (prune_chunks_by_range) must (a) keep the result
    identical to the unpruned decode+filter, (b) actually eliminate chunks
    when the data is clustered on the filter column, (c) never prune
    string columns or chunks without stats (soundness)."""
    import json

    from pyspark.sql import functions as F

    from varint_simd_spark.operators import prune_chunks_by_range

    # warc_ts is near-sorted by page_id => day-bucket chunking clusters it
    wp = generate_web_pages(spark, 20_000, seed=11).withColumn(
        "__day", F.to_date("warc_ts").cast("string")
    )
    cols = ["url", "warc_ts", "text", "lang"]
    enc = encode_table(wp, key="__day", columns=cols, n_chunks=12).cache()
    total_chunks = enc.select("chunk_id").distinct().count()

    lo = spark.sql("SELECT unix_micros(TIMESTAMP'2024-10-09 00:00:00')").collect()[0][0]
    hi = spark.sql("SELECT unix_micros(TIMESTAMP'2024-10-10 00:00:00')").collect()[0][0]
    pruned = prune_chunks_by_range(enc, "warc_ts", lo=lo, hi=hi)
    kept_chunks = pruned.select("chunk_id").distinct().count()
    assert kept_chunks < total_chunks, (kept_chunks, total_chunks)

    pred = (F.col("warc_ts") >= F.expr("TIMESTAMP'2024-10-09 00:00:00'")) & (
        F.col("warc_ts") < F.expr("TIMESTAMP'2024-10-10 00:00:00'")
    )
    a = (
        decode_table(pruned).filter(pred).drop("__chunk")
        .toPandas().sort_values("url", ignore_index=True)
    )
    b = (
        decode_table(enc).filter(pred).drop("__chunk")
        .toPandas().sort_values("url", ignore_index=True)
    )
    assert len(a) == len(b) > 0
    assert (a["url"] == b["url"]).all() and (a["text"] == b["text"]).all()

    # string column => no zone map => pruning keeps everything (sound)
    keep_all = prune_chunks_by_range(enc, "text", lo=0, hi=1)
    assert keep_all.select("chunk_id").distinct().count() == total_chunks

    # stats sanity: every row carries valid JSON with n_nulls; int-family
    # rows add min/max (the zone map) and an exact decimal sum string
    rows = enc.select("column", "dtype", "stats").collect()
    for r in rows:
        s = json.loads(r["stats"])
        assert s["n_nulls"] >= 0
        if r["dtype"] in ("str", "bin"):
            assert "min" not in s  # strings have no zone map
        else:
            assert s["min"] <= s["max"]
            assert int(s["sum"]) is not None
    enc.unpersist()


def test_bucketed_encode_shuffles_compressed_only(spark, tmp_path):
    """encode_table_bucketed: the encode stage itself has ZERO exchanges
    (raw rows never shuffle); clustering happens on the encoded fragments.
    Roundtrip stays bit-identical through a bucket-partitioned store, and a
    key-equality lookup prunes to one bucket directory."""
    import re

    from varint_simd_spark.operators import decode_table_colocated, encode_table_bucketed

    wp = generate_web_pages(spark, 5000, seed=13)
    inp = str(tmp_path / "bkt_in")
    wp.write.parquet(inp)
    src = spark.read.parquet(inp)

    enc = encode_table_bucketed(src, key="url", n_buckets=8)
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0, plan

    store = str(tmp_path / "bkt_store")
    enc.repartition("bucket").write.partitionBy("bucket").parquet(store)
    st = spark.read.parquet(store)
    out = decode_table_colocated(st).drop("__chunk").toPandas().sort_values("url", ignore_index=True)
    exp = src.toPandas().sort_values("url", ignore_index=True)
    assert len(out) == len(exp)
    assert (out["text"] == exp["text"]).all()
    assert (out["html"].map(bytes) == exp["html"].map(bytes)).all()

    # key-equality lookup prunes to exactly one bucket partition
    from pyspark.sql import functions as F

    url = exp["url"].iloc[7]
    look = st.filter(F.col("bucket") == F.pmod(F.xxhash64(F.lit(url)), F.lit(8)))
    p2 = look._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*bucket", p2), p2[:1500]


def test_lookup_by_key_pruning_cascade(spark, tmp_path):
    """Point lookup must (a) return exactly the requested row bit-identical,
    (b) prune the scan to ONE bucket directory (PartitionFilter), and
    (c) zone-map-prune to a small chunk subset before decode."""
    import re

    from pyspark.sql import functions as F

    from varint_simd_spark.operators import (
        encode_table_bucketed,
        lookup_by_key,
        prune_chunks_by_range,
    )

    wp = generate_web_pages(spark, 4000, seed=21).withColumn(
        "page_id", F.xxhash64("url")
    )
    inp = str(tmp_path / "lk_in")
    wp.write.parquet(inp)
    src = spark.read.parquet(inp)
    store = str(tmp_path / "lk_store")
    encode_table_bucketed(src, key="page_id", n_buckets=16).repartition("bucket") \
        .write.partitionBy("bucket").parquet(store)
    st = spark.read.parquet(store)

    target = src.select("page_id", "url", "text").collect()[17]
    out = lookup_by_key(st, "page_id", target["page_id"], n_buckets=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*bucket", plan), plan[:1500]
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["url"] == target["url"] and rows[0]["text"] == target["text"]

    # zone maps actually eliminate chunks for the probed key
    bucket_enc = st.filter(
        F.col("bucket") == F.pmod(F.xxhash64(F.lit(target["page_id"])), F.lit(16))
    )
    total = bucket_enc.select("chunk_id").distinct().count()
    kept = (
        prune_chunks_by_range(bucket_enc, "page_id", target["page_id"], target["page_id"])
        .select("chunk_id").distinct().count()
    )
    assert kept <= total and kept >= 1

    # missing key -> empty result, not an error
    assert lookup_by_key(st, "page_id", 1, n_buckets=16).count() == 0


def test_per_split_encode_shuffle_free_roundtrip(spark, tmp_path):
    """The ingest encode path (encode_table_per_split) must have ZERO
    exchanges, round-trip bit-identically, and be stable across runs on
    the same layout (deterministic chunk ids)."""
    from pyspark.sql import functions as F

    from varint_simd_spark.operators.encode import encode_table_per_split

    wp = generate_web_pages(spark, 8000, seed=3)
    wp.write.mode("overwrite").parquet(str(tmp_path / "wp"))
    wp = spark.read.parquet(str(tmp_path / "wp"))

    enc = encode_table_per_split(wp, key="url", target_chunk_bytes=1 << 20)
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0, plan

    out = decode_table(enc).drop("__chunk").toPandas().sort_values("url", ignore_index=True)
    src = wp.toPandas().sort_values("url", ignore_index=True)
    assert len(out) == len(src)
    assert (out["text"] == src["text"]).all() and (out["html"] == src["html"]).all()

    # same layout => same chunk ids (deterministic ingest identity)
    ids_a = sorted(r["chunk_id"] for r in enc.select("chunk_id").distinct().collect())
    enc2 = encode_table_per_split(wp, key="url", target_chunk_bytes=1 << 20)
    ids_b = sorted(r["chunk_id"] for r in enc2.select("chunk_id").distinct().collect())
    assert ids_a == ids_b and len(ids_a) > 1


def test_decode_aggregate_pushdown_exact(spark):
    """decode_aggregate computes exact sums/counts without shipping decoded
    rows, including int64-overflowing domains (epoch micros x 20k rows)."""
    from pyspark.sql import functions as F

    from varint_simd_spark.operators.encode import decode_aggregate

    wp = generate_web_pages(spark, 20_000, seed=5)
    enc = encode_table(wp, key="url", n_chunks=8)
    agg = {r["column"]: r for r in decode_aggregate(enc, columns=["warc_ts", "text"]).collect()}

    exp = wp.select(
        # decimal BEFORE the sum: the int64 sum of 20k epoch-micros
        # overflows and ANSI mode (Spark 4 default) would error
        F.sum(F.unix_micros("warc_ts").cast("decimal(38,0)")).alias("ts_sum"),
        F.sum(F.octet_length("text")).alias("text_bytes"),
        F.count("*").alias("n"),
    ).collect()[0]
    assert agg["warc_ts"]["n_rows"] == exp["n"] == agg["text"]["n_rows"]
    assert agg["warc_ts"]["sum_exact"] == str(exp["ts_sum"])
    assert agg["text"]["sum_bytes"] == exp["text_bytes"]
    assert agg["warc_ts"]["n_nulls"] == 0


def test_decode_aggregate_stats_path_matches_decode_and_prunes_payload(
    spark, tmp_path, monkeypatch
):
    """The metadata fast path (per-chunk exact-sum/n_nulls stats written at
    encode) must return exactly what the payload-decode path returns —
    including nullable ts, f64 (fractional zone maps) and all-null columns
    — while its stage never reads the payload column on either scan
    (footer-statistics aggregation: O(chunk count) at any data size)."""
    from pyspark.sql import functions as F

    from varint_simd_spark.operators.encode import decode_aggregate

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id",
        F.when(F.col("value") > 0.5, F.col("value")).alias("v_nullable"),
        F.when(F.col("user_id") % 3 != 0, F.col("ts")).alias("ts_nullable"),
        F.lit(None).cast("long").alias("all_null"),
        "event_type",
    )
    enc = encode_table(ev, key="event_id", n_chunks=4)
    fast = [tuple(r) for r in decode_aggregate(enc).orderBy("column").collect()]
    slow = [tuple(r) for r in decode_aggregate(enc, use_stats=False).orderBy("column").collect()]
    assert fast == slow, (fast, slow)

    store = str(tmp_path / "aggstore")
    enc.write.partitionBy("chunk_id").parquet(store)
    # the stats tier's one stage (which also carries the per-column
    # availability flag) must read WITHOUT the payload column
    rs, requested = _stats_stage_reads(spark, monkeypatch, store)
    assert "payload" not in rs, rs
    assert len(requested) == 1 and "payload" not in requested[0], requested
    agg = decode_aggregate(spark.read.parquet(store))
    assert [tuple(r) for r in agg.orderBy("column").collect()] == fast


def test_decode_aggregate_grouped_stats_matches_decode_and_sql(spark, tmp_path, monkeypatch):
    """Grouped aggregate pushdown: per-chunk per-group partials written at
    encode answer GROUP BY from metadata alone; the grouped stats path,
    the grouped decode path, and a plain Spark groupBy must all agree —
    including null groups, nullable value columns, and an
    int64-overflowing sum domain (epoch micros)."""
    from pyspark.sql import functions as F

    from varint_simd_spark.operators.encode import decode_aggregate

    wp = generate_web_pages(spark, 20_000, seed=7).select(
        "url",
        "warc_ts",
        "text",
        # null groups: every 7th page has no lang
        F.when(F.xxhash64("url") % 7 != 0, F.col("lang")).alias("lang"),
        # nullable value column
        F.when(F.xxhash64("url") % 3 != 0, F.length("text")).alias("n_chars"),
    )
    enc = encode_table(wp, key="url", n_chunks=8, stats_group_by="lang")

    cols = ["warc_ts", "text", "n_chars"]
    fast = [tuple(r) for r in decode_aggregate(enc, columns=cols, group_by="lang").collect()]
    slow = [tuple(r) for r in decode_aggregate(
        enc, columns=cols, group_by="lang", use_stats=False).collect()]
    assert fast == slow, (fast, slow)

    exp = {
        (r["lang"], "warc_ts"): r
        for r in wp.groupBy("lang").agg(
            F.count("*").alias("n"),
            F.sum(F.unix_micros("warc_ts").cast("decimal(38,0)")).alias("s"),
        ).collect()
    }
    got = {(r[0], r[1]): r for r in fast}
    assert set(g for g, _ in got) == set(g for g, _ in exp)
    for (g, _), e in exp.items():
        r = got[(g, "warc_ts")]
        assert r[2] == e["n"] and r[4] == str(e["s"]), (g, tuple(r), dict(e.asDict()))
    # string column: per-group byte totals
    exp_b = {r["lang"]: r for r in wp.groupBy("lang").agg(
        F.sum(F.octet_length("text")).alias("b"), F.count("*").alias("n")).collect()}
    for g, e in exp_b.items():
        r = got[(g, "text")]
        assert r[7] == e["b"] and r[2] == e["n"]
    # nullable ints: per-group null counts + sums + exact min/max
    exp_n = {r["lang"]: r for r in wp.groupBy("lang").agg(
        F.sum("n_chars").alias("s"),
        F.min("n_chars").alias("mn"), F.max("n_chars").alias("mx"),
        F.sum(F.col("n_chars").isNull().cast("long")).alias("nn")).collect()}
    for g, e in exp_n.items():
        r = got[(g, "n_chars")]
        assert r[3] == e["nn"] and r[4] == str(e["s"])
        assert r[5] == str(e["mn"]) and r[6] == str(e["mx"])

    # the grouped stats tier's stage must never read the payload column
    store = str(tmp_path / "gaggstore")
    enc.write.partitionBy("chunk_id").parquet(store)
    rs, requested = _stats_stage_reads(spark, monkeypatch, store, "lang")
    assert "payload" not in rs, rs
    assert len(requested) == 1 and "payload" not in requested[0], requested


def test_decode_aggregate_grouped_falls_back_without_stats(spark):
    """A store encoded WITHOUT stats_group_by still answers grouped
    aggregates (decode-path fallback, flagged by the same metadata job)."""
    from pyspark.sql import functions as F

    from varint_simd_spark.operators.encode import decode_aggregate

    wp = generate_web_pages(spark, 5_000, seed=11)
    enc = encode_table(wp, key="url", n_chunks=4)  # no grouped stats
    got = {
        (r["group"], r["column"]): r
        for r in decode_aggregate(enc, columns=["text"], group_by="lang").collect()
    }
    exp = {r["lang"]: r for r in wp.groupBy("lang").agg(
        F.count("*").alias("n"), F.sum(F.octet_length("text")).alias("b")).collect()}
    assert set(g for g, _ in got) == set(exp)
    for g, e in exp.items():
        r = got[(g, "text")]
        assert r["n_rows"] == e["n"] and r["sum_bytes"] == e["b"]


def test_decode_aggregate_grouped_cap_falls_back(spark, monkeypatch):
    """MAX_COLLECTED_GROUP_ROWS bounds the grouped stats tier's answer,
    not the task rows the driver collects: at a cap between the two the
    stats tier still answers; below the answer's row count the grouped
    decode tier answers instead.  Either way: the same rows as
    ``use_stats=False``."""
    from pyspark.sql import functions as F

    from varint_simd_spark.operators import encode as E

    wp = generate_web_pages(spark, 3000, seed=17)
    enc = encode_table(wp, key="url", n_chunks=4, stats_group_by="lang")
    cols = ["warc_ts", "text"]
    want = [tuple(r) for r in E.decode_aggregate(
        enc, columns=cols, group_by="lang", use_stats=False).collect()]
    sub = enc.filter(F.col("column").isin(cols))
    n_task_rows = len(list(E._collect_partials(E._agg_stats_partials(sub, "lang"))))
    # lang does not follow the url sort, so every task sees most groups
    assert n_task_rows > len(want) > 2
    calls = []
    real = E._agg_decode_path_grouped

    def spy(enc, group_by, out_columns):
        calls.append(list(out_columns))
        return real(enc, group_by, out_columns)

    monkeypatch.setattr(E, "_agg_decode_path_grouped", spy)
    for cap, fallback in [(65536, False), (len(want), False),
                          (len(want) - 1, True), (1, True)]:
        calls.clear()
        monkeypatch.setattr(E, "MAX_COLLECTED_GROUP_ROWS", cap)
        got = [tuple(r) for r in E.decode_aggregate(
            enc, columns=cols, group_by="lang").collect()]
        assert calls == ([cols] if fallback else []), (cap, calls)
        assert got == want, cap


def test_verify_roundtrip_detects_mismatch(spark):
    """verify_roundtrip reports identical=true on a clean round trip and
    flags a corrupted column (and ONLY that column) as non-identical."""
    from pyspark.sql import functions as F

    from varint_simd_spark.operators.verify import verify_roundtrip

    wp = generate_web_pages(spark, 3000, seed=9)
    enc = encode_table(wp, key="url", n_chunks=4)
    dec = decode_table(enc).drop("__chunk")

    clean = {r["column"]: r for r in verify_roundtrip(wp, dec, key="url").collect()}
    assert all(r["identical"] for r in clean.values())
    assert clean["text"]["n_match"] == 3000

    corrupted = dec.withColumn(
        "text", F.when(F.xxhash64("url") % 100 == 0, F.lit("CORRUPT")).otherwise(F.col("text"))
    )
    rep = {r["column"]: r for r in verify_roundtrip(wp, corrupted, key="url").collect()}
    assert not rep["text"]["identical"] and rep["text"]["n_match"] < 3000
    assert rep["lang"]["identical"] and rep["html"]["identical"]

    # duplicate join keys would fan out the join and mask corruption
    dup = wp.limit(10).union(wp.limit(10))
    with pytest.raises(ValueError, match="unique join key"):
        verify_roundtrip(dup, dup, key="url")

    # empty src: zero matches, never a null-sum TypeError
    empty = wp.filter(F.lit(False))
    rep0 = verify_roundtrip(empty, empty, key="url").collect()
    assert all(r["n_match"] == 0 and r["identical"] for r in rep0)


def test_filtered_decode_matches_native_filter_with_nulls(spark):
    """decode_table(where=...) and decode_table_colocated(where=...) must
    agree with Spark's own filter on a NULLABLE predicate column — SQL
    three-valued logic drops NULL comparisons on both sides (the Arrow
    mask's nulls are filled False before filtering), including across the
    selected-decode path for non-predicate columns.  An empty projection
    (``columns=[]``) must still emit one row per MATCHING row."""
    from pyspark.sql import functions as F

    from varint_simd_spark.operators import decode_table_colocated

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id",
        F.when(F.col("user_id") % 3 != 0, F.col("value")).alias("v_nullable"),
        "event_type",
        "props",
    )
    enc = encode_table(ev, key="event_id", n_chunks=4)
    colocated = enc.repartition("chunk_id")
    decoders = [
        ("decode_table", lambda **kw: decode_table(enc, **kw)),
        ("decode_table_colocated", lambda **kw: decode_table_colocated(colocated, **kw)),
    ]
    for (where, native), (name, decode) in itertools.product([
        ([("v_nullable", ">=", 0.5)], F.col("v_nullable") >= 0.5),
        ([("v_nullable", "<", 50.0), ("event_type", "==", "click")],
         (F.col("v_nullable") < 50.0) & (F.col("event_type") == "click")),
        ([("v_nullable", "between", (1.0, 80.0))], F.col("v_nullable").between(1.0, 80.0)),
        ([("event_type", "in", ["click", "view"])], F.col("event_type").isin("click", "view")),
    ], decoders):
        got = sorted(
            tuple(r)
            for r in decode(columns=["event_id", "props"], where=where)
            .drop("__chunk")
            .collect()
        )
        want = sorted(
            tuple(r) for r in ev.filter(native).select("event_id", "props").collect()
        )
        assert got == want, (name, where, len(got), len(want))
        assert len(got) > 0, where  # predicate must actually select rows
        n_empty = decode(columns=[], where=where).count()
        assert n_empty == len(want), (name, where, n_empty, len(want))


def test_decode_aggregate_grouped_adversarial_keys(spark):
    """Grouped stats ride a JSON map keyed by group VALUES — quotes,
    backslashes, unicode, tabs, empty strings, JSON-lookalikes, and null
    groups must all survive the encode-side json.dumps -> stats-stage
    json.loads round trip (and the NUL escape of null and NUL-prefixed
    keys) and agree with the decode path and a plain groupBy."""
    from pyspark.sql import functions as F

    from varint_simd_spark.operators.encode import decode_aggregate

    groups = ['he said "hi"', 'back\\slash', 'unié中', '', 'tab\tsep',
              None, 'a,b', '{"j":1}', '\x00', '\x00deep']
    rows = [
        (
            i,
            groups[i % len(groups)],
            # one group ('a,b', index 6) is ALL NULL: SQL SUM must be NULL
            None if i % len(groups) == 6 else i * 7,
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "id long, g string, v long")
    enc = encode_table(df, key="id", n_chunks=3, stats_group_by="g")
    fast = sorted((tuple(r) for r in
                   decode_aggregate(enc, columns=["v"], group_by="g").collect()), key=str)
    slow = sorted((tuple(r) for r in decode_aggregate(
        enc, columns=["v"], group_by="g", use_stats=False).collect()), key=str)
    exp = sorted(((r["g"], "v", r["n"], r["nn"],
                   None if r["s"] is None else str(r["s"]),
                   None if r["mn"] is None else str(r["mn"]),
                   None if r["mx"] is None else str(r["mx"]), None) for r in
                  df.groupBy("g").agg(F.count("*").alias("n"),
                                      F.sum(F.col("v").isNull().cast("long")).alias("nn"),
                                      F.min("v").alias("mn"), F.max("v").alias("mx"),
                                      F.sum("v").alias("s")).collect()), key=str)
    assert fast == slow == exp


def test_decode_aggregate_grouped_timestamp_group(spark):
    """Timestamp group columns: the encode side sees tz-aware arrow
    timestamps, the decode fallback sees tz-naive ones — both must emit
    the SAME canonical (epoch-micros) group keys, so the stats path, the
    decode path, and the per-column fallback union never mix labels."""
    from pyspark.sql import functions as F

    from varint_simd_spark.operators.encode import decode_aggregate

    df = spark.range(300).select(
        F.col("id"),
        F.timestamp_micros(F.lit(1_600_000_000_000_000) + (F.col("id") % 4) * 86_400_000_000).alias("day"),
        (F.col("id") * 3).alias("v"),
    )
    enc = encode_table(df, key="id", n_chunks=3, stats_group_by="day")
    fast = sorted((tuple(r) for r in
                   decode_aggregate(enc, columns=["v"], group_by="day").collect()), key=str)
    slow = sorted((tuple(r) for r in decode_aggregate(
        enc, columns=["v"], group_by="day", use_stats=False).collect()), key=str)
    assert fast == slow
    exp = {
        str(r["us"]): (r["n"], str(r["s"]))
        for r in df.groupBy(F.unix_micros("day").alias("us"))
        .agg(F.count("*").alias("n"), F.sum("v").alias("s")).collect()
    }
    got = {r[0]: (r[2], r[4]) for r in fast}
    assert got == exp


def test_small_results_collect_without_a_job(spark):
    """The driver-built answers of the aggregates (stats, decode and
    grouped stats) and of verify_roundtrip are local relations: collecting
    them runs no Spark job, and they equal the distributed answers."""
    from varint_simd_spark.operators.encode import decode_aggregate
    from varint_simd_spark.operators.verify import verify_roundtrip

    wp = generate_web_pages(spark, 3000, seed=13)
    enc = encode_table(wp, key="url", n_chunks=4, stats_group_by="lang")
    cols = ["warc_ts", "text"]
    results = {
        "stats": decode_aggregate(enc),
        "decode": decode_aggregate(enc, use_stats=False),
        "grouped": decode_aggregate(enc, columns=cols, group_by="lang"),
        "verify": verify_roundtrip(wp, decode_table(enc).drop("__chunk"), key="url"),
    }
    sc = spark.sparkContext
    got = {}
    for name, df in results.items():
        sc.setJobGroup(f"local_{name}", name)
        try:
            got[name] = [tuple(r) for r in df.collect()]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup(f"local_{name}") == [], name
    assert got["stats"] == got["decode"]
    assert got["grouped"] == [tuple(r) for r in decode_aggregate(
        enc, columns=cols, group_by="lang", use_stats=False).collect()]
    assert [r[0] for r in got["verify"]] == sorted(c for c in wp.columns if c != "url")
    assert all(r[1] == r[2] == 3000 and r[3] for r in got["verify"])


def test_decode_aggregate_exact_at_int64_extremes(spark, tmp_path):
    """Values near +-2**63 spread over several tasks: the per-task and
    driver folds of the decode tier and of the stats tier are exact
    Python-int sums beyond the int64 range and equal plain Spark's
    decimal(38,0) sum and min/max, with nulls, an all-null integer chunk,
    f64 and string columns."""
    from pyspark.sql import functions as F

    from varint_simd_spark.operators.encode import (
        _agg_decode_partials,
        decode_aggregate,
    )

    n_chunks = 4
    top, bottom = 2**63 - 1, -(2**63)
    k = F.col("k")
    df = spark.range(400).withColumnRenamed("id", "k").select(
        k,
        (F.lit(top) - k).alias("hi"),
        (F.lit(bottom) + k * 3).alias("lo"),
        # null in every row of chunk 0 and every 7th row elsewhere
        F.when(
            (F.pmod(F.xxhash64(k), F.lit(n_chunks)) != 0) & (k % 7 != 0),
            F.lit(top) - k * 5,
        ).alias("hole"),
        (k / 3).alias("f"),
        F.when(k % 5 != 0, F.concat(F.lit("s"), k.cast("string"))).alias("s"),
    )
    store = str(tmp_path / "extremes")
    encode_table(
        df, key="k", n_chunks=n_chunks, codecs={"lo": "rle_varint"}
    ).write.partitionBy("chunk_id").parquet(store)
    st = spark.read.parquet(store)
    # the all-null chunk of "hole" is really there
    hole_stats = [
        r["stats"] for r in st.filter(F.col("column") == "hole").collect()
    ]
    assert sum('"min"' not in x for x in hole_stats) == 1, hole_stats

    int_cols = ["k", "hi", "lo", "hole"]
    exp = df.select(
        *[F.sum(F.col(c).cast("decimal(38,0)")).alias(f"{c}_sum") for c in int_cols],
        *[F.min(c).alias(f"{c}_min") for c in int_cols],
        *[F.max(c).alias(f"{c}_max") for c in int_cols],
        *[F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}_nn") for c in df.columns],
        F.sum(F.octet_length("s")).alias("s_bytes"),
    ).collect()[0]
    assert exp["hi_sum"] > 2**63 and exp["lo_sum"] < -(2**63)
    assert exp["hole_sum"] > 2**63
    want = []
    for c in sorted(df.columns):
        if c in int_cols:
            nums = tuple(str(exp[f"{c}_{a}"]) for a in ("sum", "min", "max"))
        else:
            nums = (None, None, None)
        want.append(
            (c, 400, exp[f"{c}_nn"], *nums, exp["s_bytes"] if c == "s" else None)
        )
    for flag in ("0", "1"):
        os.environ["VSS_PYSCAN"] = flag
        try:
            n_partials = _agg_decode_partials(st).count()
            got = [tuple(r) for r in decode_aggregate(st, use_stats=False).collect()]
            got_stats = [tuple(r) for r in decode_aggregate(st).collect()]
        finally:
            os.environ["VSS_PYSCAN"] = "1"
        assert n_partials > len(df.columns), flag  # folded over several tasks
        assert got == want, flag
        assert got_stats == want, flag


def test_decode_aggregate_mixed_tier_sorted(spark, tmp_path):
    """A store where one column has no stats: the stats tier answers the
    others, the decode tier that column, merged on the driver — equal to
    ``use_stats=False`` row for row and sorted by column."""
    from pyspark.sql import functions as F

    from varint_simd_spark.operators.encode import decode_aggregate

    wp = generate_web_pages(spark, 1500, seed=3)
    store = str(tmp_path / "mixed")
    encode_table(wp, key="url", n_chunks=4).write.partitionBy("chunk_id").parquet(store)
    st = spark.read.parquet(store).withColumn(
        "stats",
        F.when(F.col("column") == "warc_ts", F.lit(None)).otherwise(F.col("stats")),
    )
    got = [tuple(r) for r in decode_aggregate(st).collect()]
    assert got == [tuple(r) for r in decode_aggregate(st, use_stats=False).collect()]
    assert [r[0] for r in got] == sorted(wp.columns)
    ts = next(r for r in got if r[0] == "warc_ts")
    assert ts[1] == 1500 and ts[3] is not None


def test_decode_aggregate_store_without_stats_field(spark, tmp_path):
    """A store whose schema predates the stats field: the ungrouped and
    the grouped stats tiers answer every column through the decode tier,
    equal to ``use_stats=False``."""
    from varint_simd_spark.operators.encode import decode_aggregate

    wp = generate_web_pages(spark, 1500, seed=5)
    store = str(tmp_path / "nostats")
    encode_table(wp, key="url", n_chunks=4).drop("stats") \
        .write.partitionBy("chunk_id").parquet(store)
    st = spark.read.parquet(store)
    assert "stats" not in st.columns
    got = [tuple(r) for r in decode_aggregate(st).collect()]
    assert got == [tuple(r) for r in decode_aggregate(st, use_stats=False).collect()]
    assert [r[0] for r in got] == sorted(wp.columns)
    cols = ["text", "warc_ts"]
    got = [tuple(r) for r in decode_aggregate(st, columns=cols, group_by="lang").collect()]
    assert got == [tuple(r) for r in decode_aggregate(
        st, columns=cols, group_by="lang", use_stats=False).collect()]
    assert {r[1] for r in got} == set(cols)


def test_column_meta_sorted_on_driver(spark, tmp_path):
    """column_meta runs at most two jobs (the distinct's shuffle and its
    result; no range-sampling sort) and returns the rows a Spark
    ``orderBy("col_idx")`` gives."""
    from varint_simd_spark.operators import column_meta

    store = str(tmp_path / "meta")
    encode_table(generate_web_pages(spark, 1000, seed=9), key="url", n_chunks=4) \
        .write.partitionBy("chunk_id").parquet(store)
    st = spark.read.parquet(store)
    sc = spark.sparkContext
    sc.setJobGroup("column_meta", "column_meta")
    try:
        got = column_meta(st)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("column_meta")) <= 2
    want = st.select("col_idx", "column", "dtype").distinct().orderBy("col_idx").collect()
    assert got == want and len(got) == len(generate_web_pages(spark, 10).columns)

