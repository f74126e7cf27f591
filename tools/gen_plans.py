"""Capture .explain('formatted') for every bench query shape into
<outdir>/<query>_<suffix>.txt (e.g. plans/r07/<query>_after.txt).  Run from
the repo whose code should produce the plans:
`python tools/gen_plans.py <suffix> <outdir>`.  Spark's expression ids
(``#N``) and ``plan_id=N`` are masked, so two checkouts' dumps of the same
plan are equal even when earlier steps built a different number of plans."""

import os
import re
import shutil
import sys
import tempfile
from urllib.parse import urlparse

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F


def main():
    suffix = sys.argv[1]
    outdir = sys.argv[2]
    os.makedirs(outdir, exist_ok=True)
    from varint_simd_spark.operators import (
        column_meta,
        decode_table_colocated,
        encode_table,
        encode_table_bucketed,
    )
    from varint_simd_spark.operators.encode import (
        _agg_decode_partials,
        _agg_stats_partials,
        decode_aggregate,
        encode_table_per_split,
    )
    from varint_simd_spark.sources.session import get_spark
    from varint_simd_spark.sources.web_pages import generate_web_pages

    spark = get_spark(app_name="plans", master="local[8]", shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    # a fixed work dir keeps the scan locations in the plans comparable
    # between two checkouts
    tmp = os.path.join(tempfile.gettempdir(), "vss_plans")
    shutil.rmtree(tmp, ignore_errors=True)
    wp = generate_web_pages(spark, 50_000, seed=42)
    wp.write.option("maxRecordsPerFile", 10_000).parquet(f"{tmp}/wp")
    wp = spark.read.parquet(f"{tmp}/wp")
    li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")

    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    def cap(name, df):
        p = os.path.join(outdir, f"{name}_{suffix}.txt")
        plan = df._jdf.queryExecution().explainString(jmode)
        plan = re.sub(r"plan_id=\d+", "plan_id=N", re.sub(r"#\d+", "#N", plan))
        with open(p, "w") as f:
            f.write(plan)
        print("wrote", p)

    cap("encode_web_pages", encode_table(wp, key="url", n_chunks=64))
    cap("encode_lineitem", encode_table(li, key="l_orderkey", n_chunks=64))
    # sf1.0 lineitem (6 row groups): the shape where the fragment-merge
    # topology engages (integer-dominated + parallelizable python scan).
    # It sits beside sf0.1 in the test-data tree; skip it when absent.
    li1 = urlparse(li.inputFiles()[0]).path.replace("/sf0.1/", "/sf1.0/")
    if os.path.exists(li1):
        cap("encode_lineitem_sf1",
            encode_table(spark.read.parquet(li1), key="l_orderkey", n_chunks=64))
    else:
        print("skipped encode_lineitem_sf1:", li1, "not found")
    # sf0.1 lineitem as 16 files: the fragment-merge shape without sf1.0
    li.repartition(16).write.parquet(f"{tmp}/li16")
    cap("encode_lineitem_files",
        encode_table(spark.read.parquet(f"{tmp}/li16"), key="l_orderkey", n_chunks=64))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(8 << 20))
    cap("encode_web_pages_per_split", encode_table_per_split(wp, key="url"))
    cap("encode_web_pages_bucketed",
        encode_table_bucketed(wp, key="url", n_buckets=32).repartition("bucket"))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 << 20))

    encode_table(wp, key="url", n_chunks=64).write.partitionBy("chunk_id") \
        .mode("overwrite").parquet(f"{tmp}/enc")
    enc = spark.read.parquet(f"{tmp}/enc")
    meta = column_meta(enc)
    cap("decode_web_pages",
        decode_table_colocated(enc, meta=meta, check_layout=False)
        .agg(F.sum(F.length("text"))))
    cap("decode_web_pages_pruned",
        decode_table_colocated(enc, meta=meta, columns=["text"], check_layout=False)
        .agg(F.sum(F.length("text"))))
    cap("decode_web_pages_filtered",
        decode_table_colocated(enc, meta=meta, columns=["url", "text"],
                               where=[("lang", "==", "de")], check_layout=False)
        .agg(F.sum(F.length("text"))))
    # the ungrouped decode tier's one stage (its answer is a local relation)
    cap("decode_web_pages_agg_pushdown", _agg_decode_partials(enc))
    # the stats tiers' one stage, ungrouped and grouped, on the JVM scan:
    # its ReadSchema shows that the payload is never read
    pyscan = os.environ.get("VSS_PYSCAN")
    os.environ["VSS_PYSCAN"] = "0"
    cap("decode_web_pages_agg_stats", _agg_stats_partials(enc))
    cap("decode_web_pages_agg_grouped_stats", _agg_stats_partials(enc, "lang"))
    if pyscan is None:
        del os.environ["VSS_PYSCAN"]
    else:
        os.environ["VSS_PYSCAN"] = pyscan
    # grouped decode-path aggregate (the use_stats=False grouped tier)
    cap("decode_agg_grouped_decode_path",
        decode_aggregate(enc, columns=["url", "text"], group_by="lang",
                         use_stats=False))
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
