"""Encoded-table store with checkpointed, idempotently-resumable commits.

Production target is an Iceberg table (snapshot isolation, atomic append,
time travel); this sandbox has no Iceberg runtime jar, so the store runs on
the parquet fallback behind the same interface:

* encoded chunks land under ``<root>/encoded/`` partitioned by ``chunk_id``
  with dynamic partition overwrite — re-encoding a chunk atomically
  replaces exactly that chunk's files (crash-safe: a chunk is visible only
  once its manifest row commits);
* ``<root>/manifest/`` is an append-only parquet log of committed chunks
  (chunk_id, snapshot_id, wall time, sizes) — the analog of Iceberg's
  snapshot metadata, and the lineage table required by the north rule;
* a commit is ONE Spark job plus one file written by the driver, the way
  Delta Lake commits: the data write gathers the per-chunk lineage as
  observed metrics while it writes (exactly once: it runs in the write's
  result stage, see :func:`_observe_lineage`), and the driver then writes
  the manifest record under a ``_`` name and renames it into place.  No
  cached copy of the payload, no second pass over it; the driver holds
  O(this run) lineage rows, never O(store);
* resume = :meth:`EncodedStore.pending`, the planned chunk ids without a
  manifest row, collected on the driver: only missing/failed chunks are
  re-encoded (idempotent — chunk membership is a pure function of the
  data, see operators/encode.py);
* a writer whose chunk ids depend on parameters outside the data locks
  them to the store root on first use (:func:`_lock_layout`).

To run on a real cluster with Iceberg, pass ``iceberg_table=`` and the
store uses ``writeTo(...).append()`` under the same API (config documented
in ICEBERG_CONF below; requires the spark-iceberg runtime jar).
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.encode import (
    _check_n_chunks,
    _chunk_exchange,
    _encode_args,
    _local_frame,
    encode_table_per_split,
    make_encode_chunk_fn,
)
from ..operators.pyscan import parquet_scan_info
from ..plans.partitioning import salted_chunk_column

# Config a production deployment would add for the Iceberg path (public
# Iceberg quickstart settings; unusable here without the runtime jar).
ICEBERG_CONF = {
    "spark.sql.extensions": "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
    "spark.sql.catalog.engine": "org.apache.iceberg.spark.SparkCatalog",
    "spark.sql.catalog.engine.type": "hadoop",
    # "spark.sql.catalog.engine.warehouse": "<warehouse path>",
}


def iceberg_runtime_available(spark: SparkSession) -> bool:
    """True when the iceberg-spark-runtime jar is on the session classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


# one manifest row per committed chunk
_MANIFEST_ARROW = pa.schema(
    [
        ("chunk_id", pa.int64()),
        ("n_values", pa.int64()),
        ("raw_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("n_columns", pa.int64()),
        ("snapshot_id", pa.string()),
        ("committed_at", pa.float64()),
    ]
)
_CHUNK_IDS = T.StructType([T.StructField("chunk_id", T.LongType())])


def _observe_lineage(enc: DataFrame, obs: Observation) -> DataFrame:
    """``enc`` with the commit's lineage attached as observed metrics: one
    ``(chunk_id, n_values, raw_bytes, enc_bytes)`` struct per encoded row.

    Exactly once: observed metrics are accumulators, and Spark applies a
    result stage's accumulator updates once per partition, so retried and
    speculative task attempts add nothing.  That holds only while the
    observation runs in the write's result stage: it must stay the last
    operator before the write, after any exchange."""
    return enc.observe(
        obs,
        F.collect_list(F.struct("chunk_id", "n_values", "raw_bytes", "enc_bytes")).alias(
            "rows"
        ),
    )


def _sum(a, b):
    """SQL ``sum`` step: nulls are skipped; all-null sums to null."""
    return a if b is None else b if a is None else a + b


def _lineage_rows(observed: list, expected_chunks: list[int] | None) -> list[tuple]:
    """Per-chunk ``(chunk_id, n_values, raw_bytes, enc_bytes, n_columns)``
    from the observed rows: the sums per chunk and its row count.  With
    ``expected_chunks``, exactly one row per expected chunk (nulls and
    chunks without rows read 0) and none for other chunks."""
    per_chunk: dict = {}
    for cid, nv, raw, enc_b in observed:
        acc = per_chunk.get(cid)
        if acc is None:
            per_chunk[cid] = [nv, raw, enc_b, 1]
        else:
            acc[0], acc[1], acc[2] = _sum(acc[0], nv), _sum(acc[1], raw), _sum(acc[2], enc_b)
            acc[3] += 1
    if expected_chunks is None:
        return [(cid, *acc) for cid, acc in per_chunk.items()]
    zero = (0, 0, 0, 0)
    return [
        (int(c), *(0 if v is None else v for v in per_chunk.get(int(c), zero)))
        for c in expected_chunks
    ]


class EncodedStore:
    """``iceberg_table``: route writes through an Iceberg table (requires
    the iceberg-spark-runtime jar + ICEBERG_CONF catalog settings).  This
    sandbox has no jar, so ONLY the parquet backend is runtime-verified;
    the Iceberg path is interface-checked and fails fast with a clear
    error when the runtime is absent."""

    def __init__(self, spark: SparkSession, root: str, iceberg_table: str | None = None):
        self.spark = spark
        self.root = root.rstrip("/")
        self.enc_path = f"{self.root}/encoded"
        self.manifest_path = f"{self.root}/manifest"
        self.iceberg_table = iceberg_table
        if iceberg_table is not None and not iceberg_runtime_available(spark):
            raise RuntimeError(
                "Iceberg backend requested but the iceberg-spark-runtime jar "
                "is not on the classpath; add it (and ICEBERG_CONF catalog "
                "settings) or use the parquet backend (iceberg_table=None)"
            )

    # -- manifest -----------------------------------------------------------

    def committed_chunks(self) -> DataFrame:
        """Distinct committed chunk ids (empty DataFrame on first run).

        Only a missing manifest path reads as "nothing committed"; any
        other failure (corrupt/unreadable manifest) raises — silently
        treating it as empty would trigger a full re-encode of the store."""
        fs, path = self._hadoop_path(self.manifest_path)
        if not fs.exists(path):
            return self.spark.createDataFrame([], "chunk_id long")
        return self.manifest().select("chunk_id").distinct()

    def pending(self, ids) -> list[int]:
        """The chunk ids of ``ids`` without a manifest row, in ``ids`` order.

        Commit state is small metadata that the driver reads directly: the
        manifest's ``chunk_id`` is semi-joined against a broadcast Arrow
        LocalRelation of ``ids`` and the matches are collected into a set
        (O(len(ids)) on the driver, like a commit's lineage).  A missing
        manifest path runs no job; a corrupt one raises, as in
        :meth:`committed_chunks`."""
        ids = [int(c) for c in ids]
        fs, path = self._hadoop_path(self.manifest_path)
        if not ids or not fs.exists(path):
            return ids
        planned = _local_frame(self.spark, [(c,) for c in ids], _CHUNK_IDS)
        done = {
            r[0]
            for r in self.spark.read.schema(_CHUNK_IDS)
            .parquet(self.manifest_path)
            .join(F.broadcast(planned), "chunk_id", "left_semi")
            .collect()
        }
        return [c for c in ids if c not in done]

    def manifest(self) -> DataFrame:
        return self.spark.read.parquet(self.manifest_path)

    def _hadoop_path(self, path: str):
        """(Hadoop FileSystem, Hadoop Path) of ``path``, under the session's
        Hadoop conf."""
        jpath = self.spark._jvm.org.apache.hadoop.fs.Path(path)
        conf = self.spark._jsparkSession.sessionState().newHadoopConf()
        return jpath.getFileSystem(conf), jpath

    # -- commit -------------------------------------------------------------

    def commit(self, enc: DataFrame, expected_chunks: list[int] | None = None) -> str:
        """Write encoded chunks, then commit them to the manifest: one
        Spark job, then one file written by the driver.

        The job is the dynamic-overwrite ``partitionBy("chunk_id")`` write
        of ``enc`` itself: no cached copy, no re-shuffle.  Engine encodes
        emit each chunk from one task, so each chunk directory gets one
        file; a chunk that an arbitrary ``enc`` splits across tasks gets
        one file per task, which every reader handles.  The same job
        gathers the lineage through an Observation (see
        :func:`_observe_lineage`), and the driver then writes the
        manifest record (:meth:`_write_manifest`).  Data first, manifest
        second: a crash in between leaves orphan data files that the next
        resume simply overwrites.

        ``expected_chunks``: chunk ids this run planned.  Each gets exactly
        one manifest row, a zero row if it produced no rows (empty chunks),
        so resume does not re-plan them forever; emitted chunks outside the
        list get none.

        Memory: the driver holds one small struct per encoded row of THIS
        commit (chunks x columns), O(this run), like the
        ``expected_chunks`` list itself; never O(store)."""
        snapshot_id = uuid.uuid4().hex[:16]
        obs = Observation()
        if self.iceberg_table is not None:
            # Iceberg path (UNVERIFIED: the tests run without the runtime
            # jar; the constructor fails fast when it is absent): atomic
            # partition-overwrite append with snapshot isolation for free.
            # First commit creates the table partitioned by chunk_id;
            # overwritePartitions on a missing table would fail.
            w = _observe_lineage(enc.repartition("chunk_id"), obs).writeTo(
                self.iceberg_table
            )
            if self.spark.catalog.tableExists(self.iceberg_table):
                w.overwritePartitions()
            else:
                w.partitionedBy(F.col("chunk_id")).create()
        else:
            (
                _observe_lineage(enc, obs)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("chunk_id")
                .parquet(self.enc_path)
            )
        rows = _lineage_rows(obs.get["rows"], expected_chunks)
        self._write_manifest(rows, snapshot_id)
        return snapshot_id

    def _write_manifest(self, rows: list[tuple], snapshot_id: str) -> None:
        """Append one manifest record: a parquet file of ``rows`` written by
        the driver through the Hadoop FileSystem of ``manifest_path``.  It
        is written under a ``_``-prefixed name, which Spark's readers skip,
        and renamed into place, so a crash never exposes a partial record.
        A commit with no rows still writes a (zero-row) file."""
        committed_at = time.time()
        table = pa.Table.from_pylist(
            [dict(zip(_MANIFEST_ARROW.names, (*r, snapshot_id, committed_at))) for r in rows],
            schema=_MANIFEST_ARROW,
        )
        buf = pa.BufferOutputStream()
        pq.write_table(table, buf)
        data = buf.getvalue().to_pybytes()

        name = f"{snapshot_id}-{uuid.uuid4().hex}.parquet"
        fs, tmp = self._hadoop_path(f"{self.manifest_path}/_tmp-{name}")
        final = self.spark._jvm.org.apache.hadoop.fs.Path(tmp.getParent(), f"part-{name}")
        out = fs.create(tmp, False)
        try:
            out.write(data)
        finally:
            out.close()
        if not fs.rename(tmp, final):
            fs.delete(tmp, False)
            raise IOError(f"manifest commit failed: could not rename {tmp} to {final}")

    def read_encoded(self, as_of_snapshot: str | None = None) -> DataFrame:
        """Committed encoded chunks only (manifest-gated read).

        ``as_of_snapshot``: restrict to the chunk set committed at or
        before that snapshot (membership time travel — the manifest is the
        snapshot log).  Chunk *content* history is not retained by the
        parquet backend (dynamic overwrite replaces files); full
        content-level time travel is what the Iceberg backend adds."""
        if self.iceberg_table is not None:
            enc = self.spark.table(self.iceberg_table)
        else:
            enc = self.spark.read.parquet(self.enc_path)
        committed = self.manifest() if as_of_snapshot is not None else None
        if as_of_snapshot is not None:
            cutoff = (
                committed.filter(F.col("snapshot_id") == as_of_snapshot)
                .agg(F.max("committed_at"))
                .collect()[0][0]
            )
            if cutoff is None:
                raise ValueError(f"unknown snapshot {as_of_snapshot!r}")
            chunks = (
                committed.filter(F.col("committed_at") <= cutoff)
                .select("chunk_id")
                .distinct()
            )
        else:
            chunks = self.committed_chunks()
        return enc.join(F.broadcast(chunks), on="chunk_id", how="left_semi")


def _lock_layout(store: EncodedStore, name: str, layout: dict) -> None:
    """Lock ``layout``, what a writer's chunk ids depend on besides the
    data, to the store as ``<root>/_<name>_conf.json``: the first run
    writes it (a temp file ``os.replace``d into place), and a later run
    whose layout differs fails fast instead of re-keying a crashed run's
    chunks and duplicating their rows.  The lock uses local-filesystem
    calls, which on a remote root (``s3a://``, ``hdfs://``) would write a
    dead local file, so such roots raise."""
    if "://" in store.root and not store.root.startswith("file:"):
        raise NotImplementedError(
            f"{name} layout lock requires a local store root, got {store.root!r}"
        )
    root = store.root.removeprefix("file:")
    path = os.path.join(root, f"_{name}_conf.json")
    if os.path.exists(path):
        with open(path) as f:
            stored = json.load(f)
        diff = {k: (stored.get(k), v) for k, v in layout.items() if stored.get(k) != v}
        if diff:
            raise ValueError(
                f"{name} layout differs from this store's locked layout "
                f"({diff}); chunk ids are a function of this layout, so a "
                "re-run with a different one would re-key every chunk and "
                "duplicate rows.  Use a fresh store root, or re-run with the "
                "original layout to recover."
            )
        return
    os.makedirs(root, exist_ok=True)
    tmp = os.path.join(root, f"_{name}_conf.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump(layout, f)
    os.replace(tmp, path)


def ingest_to_store(
    store: EncodedStore,
    df: DataFrame,
    key: str = "url",
    codecs: dict[str, str] | None = None,
    target_chunk_bytes: int = 32 << 20,
) -> str:
    """One-shot ingest: shuffle-free per-split encode straight into the
    store (zero exchanges — the 100 TB ingest configuration).

    Crash safety: per-split chunk ids hash (partitionId, ordinal,
    first_key, n_rows), so they are deterministic for a fixed input
    layout, which is locked to the store: the params, the scan-split knobs
    (both the python-side scan and Spark's ``maxSplitBytes`` pack splits
    by ``defaultParallelism``; ``split_packing`` names the packer, and a
    lock written before the balanced packer has none) and the input file
    list.  A re-run with another layout fails fast instead of re-keying
    every chunk; a re-run after a crash overwrites its own partial chunk
    files (dynamic partition overwrite) and commits once, no duplicates.
    Unlike :func:`encode_resumable` there is no chunk-level skip list (ids
    are not known before the encode runs); for incremental arrival use the
    streaming path, and re-cluster with ``compact_store`` when the
    url-hash layout is needed."""
    import hashlib

    layout = {"key": key, "target_chunk_bytes": target_chunk_bytes}
    for k in ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes"):
        layout[k] = store.spark.conf.get(k)  # both have built-in defaults
    layout["defaultParallelism"] = store.spark.sparkContext.defaultParallelism
    layout["split_packing"] = "balanced" if parquet_scan_info(df) is not None else "spark"
    files = sorted(df.inputFiles())
    layout["input_files_sha"] = hashlib.sha256("\n".join(files).encode()).hexdigest()
    layout["n_input_files"] = len(files)
    _lock_layout(store, "ingest", layout)
    enc = encode_table_per_split(
        df, key=key, codecs=codecs, target_chunk_bytes=target_chunk_bytes
    )
    return store.commit(enc)


def encode_resumable(
    store: EncodedStore,
    df: DataFrame,
    key: str = "url",
    n_chunks: int = 32,
    codecs: dict[str, str] | None = None,
    salted: bool = False,
    target_rows_per_chunk: int = 50_000,
) -> tuple[str | None, int]:
    """Encode only the chunks not yet committed; returns (snapshot_id or
    None if nothing to do, number of chunks encoded this run).

    The planned chunks are 0..n_chunks-1, placed as in ``encode_table``.
    :meth:`EncodedStore.pending` returns the ones without a manifest row
    to the driver, which holds O(pending) ids, as the commit's lineage
    already does.  The encode keeps only their rows (``_chunk_exchange``
    with ``only``), and each gets one manifest row, a zero row if it is
    empty, so a resume converges."""
    _check_n_chunks(n_chunks)
    columns, codecs = _encode_args(df.columns, None, codecs, None)
    pending = store.pending(range(n_chunks))
    if not pending:
        return None, 0
    if salted:
        df2 = salted_chunk_column(df, n_chunks, key, target_rows_per_chunk)
    else:
        df2 = df.withColumn(
            "__chunk", F.pmod(F.xxhash64(F.col(key)), F.lit(n_chunks)).cast("int")
        )
    fn = make_encode_chunk_fn(columns, codecs, key)
    enc = _chunk_exchange(df2.select(*columns, "__chunk"), n_chunks, fn, only=pending)
    return store.commit(enc, expected_chunks=pending), len(pending)
