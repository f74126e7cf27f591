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
task (see that module).  The daemon starts with the driver's working
directory and ``PYTHONPATH``, before any ``pyFiles`` are shipped, so it is
chosen only when the package's parent directory is on that import path: a
site directory, a ``PYTHONPATH`` entry or the working directory
(:func:`_package_on_worker_path`).  A driver that reaches the package only
through its own ``sys.path`` keeps the stock daemon, as do other masters:
a daemon module the workers cannot import fails every Python task of the
session.  An ``extra_conf`` entry for ``spark.python.daemon.module``
overrides the choice.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def _package_on_worker_path() -> bool:
    """True when a Python worker started with the driver's working
    directory and ``PYTHONPATH`` can import this package: its parent
    directory is a site directory, a ``PYTHONPATH`` entry or the working
    directory."""
    parent = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    dirs = site.getsitepackages() + [site.getusersitepackages(), os.getcwd()]
    dirs += [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    real = os.path.realpath(parent)
    return any(os.path.realpath(d) == real for d in dirs)


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
    if master.startswith("local") and _package_on_worker_path():
        b = b.config("spark.python.daemon.module", "varint_simd_spark._worker_daemon")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
