"""SparkSession factory tuned for the engine.

Arrow is mandatory (all codec kernels cross the JVM<->Python boundary as
Arrow record batches — the column-chunk analog of the reference's 16-byte
SIMD window); AQE handles post-shuffle coalescing and skew splitting at
scale (SURVEY.md §3.4 stage 3) for the JVM shuffles.  The Python encode
shuffles of ``encode_table`` pin their partition count instead
(``repartition(n)``, ``n = min(n_chunks, defaultParallelism)``, which AQE
does not coalesce): AQE sizes partitions by bytes, while those stages are
CPU-bound, so they run one wave of core-sized tasks.

On local masters (``local``, ``local[...]``, ``local-cluster[...]``) the
Python workers fork from ``varint_simd_spark._worker_daemon``
(``spark.python.daemon.module``) instead of ``pyspark.daemon``: the stock
worker re-reads the central directory of pyspark.zip, the py4j zip and
the spark-core jar before every task on CPython 3.11, about 0.2 s per
task (see that module).  There the daemon starts with the driver's
working directory and ``PYTHONPATH``, so it imports the package whenever
the engine's UDFs can, since their closures import ``varint_simd_spark``
by reference.  Other masters keep the stock daemon: with the package
shipped through ``spark.submit.pyFiles``, the daemon would start before
the package is on its path.  An ``extra_conf`` entry for
``spark.python.daemon.module`` overrides the choice.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "varint_simd_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # binary columns can make chunks big; keep maxPartitionBytes default
        # (128m) so scan partitions fit executor memory at scale
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # shuffle/spill on tmpfs when available (local stand-in for the NVMe
    # shuffle volumes of a real cluster); override with SPARK_LOCAL_DIRS
    if os.path.isdir("/dev/shm") and "SPARK_LOCAL_DIRS" not in os.environ:
        b = b.config("spark.local.dir", "/dev/shm/vss-spark-local")
    if master.startswith("local"):
        b = b.config("spark.python.daemon.module", "varint_simd_spark._worker_daemon")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
