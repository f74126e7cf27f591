"""Python-side parquet scan fast path (guide §4: the JVM->Python boundary).

The engine's operators are ``mapInArrow`` functions over parquet scans.  On
the JVM path every scanned byte is decoded from parquet into Spark's
internal rows, transposed into Arrow batches, and streamed to the Python
worker — measured at ~4.7 s for a 4.9 GB scan on local[32] (noop-sink
scans with and without Arrow IPC; ``perfbench/`` records each operator's
scan path and per-stage time), i.e. the row->Arrow transpose costs
several times the scan itself.  When the operator's input is exactly
a **bare parquet file scan** (the shape ``spark.read.parquet(path)``
produces — no filters, projections or joins), the scan can instead be
executed *inside* the Python task: ship the file list (a few KB), and let
each task read its files straight into Arrow with pyarrow's C++ parquet
reader.  Column pruning moves into the reader (``columns=``), the
JVM->Python boundary carries only paths, and the data is still read from
the parquet inputs on every run — this changes where the scan runs, not
what is computed.

Safety: the fast path engages ONLY when :func:`parquet_scan_info` can prove
the input is a bare local-file parquet relation (analyzed plan is a single
``LogicalRelation`` over ``HadoopFsRelation``/``ParquetFileFormat`` with
integer-typed partition columns, and an integer value for each in every
path); anything else — filters, limits, manifest gates, non-local files,
null partitions — falls back to the JVM scan unchanged.  Disable
globally with ``VSS_PYSCAN=0``.

Layout note for decoders: the colocated decode groups files per parent
directory (one task reads a whole ``chunk_id=…``/``bucket=…`` directory),
so chunk colocation is guaranteed *structurally* when each chunk id's
files sit in one directory (:func:`_dir_per_chunk`) — strictly stronger
than the colocation probe the JVM path needs.  Stages that need no
colocation (the encoders, the aggregate partials) pack files by size
instead; :func:`map_in_arrow_split` is their one choice between this scan
and the JVM's.

Timestamps read as tz-naive microseconds, the codec layer's domain
(encoded stores hold no timestamp columns).
"""

from __future__ import annotations

import json
import os
from urllib.parse import unquote, urlparse

import numpy as np
import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema

__all__ = ["map_in_arrow_split", "parquet_scan_info", "pyscan_map_in_arrow"]

# integer partition-column types we know how to re-attach from dir names
_PART_TYPES = {"long", "integer", "short", "byte"}


def _enabled() -> bool:
    return os.environ.get("VSS_PYSCAN", "1") != "0"


def parquet_scan_info(
    df,
) -> tuple[list[str], list[tuple[str, str]], pa.Schema] | None:
    """(local file paths sorted, [(partition col, spark type)], ``df``'s
    schema in Arrow) when ``df`` is provably a bare parquet scan of local
    files whose every path holds an integer value for each partition
    column; else None.  The schema types the nulls that fill a column a
    file lacks (see :func:`_read_tables`)."""
    if not _enabled():
        return None
    try:
        an = df._jdf.queryExecution().analyzed()
        if an.getClass().getSimpleName() != "LogicalRelation":
            return None
        rel = an.relation()
        if rel.getClass().getSimpleName() != "HadoopFsRelation":
            return None
        if rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat":
            return None
        part = [
            (f.name(), f.dataType().typeName())
            for f in rel.partitionSchema().fields()
        ]
        if any(t not in _PART_TYPES for _, t in part):
            return None
        uris = df.inputFiles()
        if not uris:
            return None
        paths = []
        for u in sorted(uris):
            p = urlparse(u)
            if p.scheme not in ("file", ""):
                return None
            paths.append(unquote(p.path))
            # parse every path's partition values now: a null partition
            # (``__HIVE_DEFAULT_PARTITION__``) must fall back to the JVM
            # scan here, not fail in the task
            _part_values(paths[-1], part)
        return paths, part, to_arrow_schema(df.schema)
    except Exception:
        return None


def byte_array_fraction(paths: list[str], sample: int = 4) -> float:
    """Fraction of uncompressed bytes held by BYTE_ARRAY (string/binary)
    columns, from the parquet footers of up to ``sample`` files — a
    planning heuristic for topology choice (string-heavy tables should
    ship rows once; integer tables can ship compressed fragments).
    Returns 1.0 (string-heavy, the conservative answer) on any error."""
    import pyarrow.parquet as pq

    tot = ba = 0
    try:
        for p in paths[:sample]:
            md = pq.ParquetFile(p).metadata
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    sz = col.total_uncompressed_size
                    tot += sz
                    if col.physical_type == "BYTE_ARRAY":
                        ba += sz
    except Exception:
        return 1.0
    return ba / tot if tot else 1.0


def _total_bytes(paths: list[str]) -> int:
    total = 0
    for p in paths:
        try:
            total += os.path.getsize(p)
        except OSError:
            pass
    return total


def _group_by_dir(paths: list[str]) -> list[list]:
    groups: dict[str, list] = {}
    for p in paths:
        groups.setdefault(os.path.dirname(p), []).append([p, None])
    return [groups[d] for d in sorted(groups)]


def _dir_per_chunk(scan) -> bool:
    """True when ``chunk_id`` is a partition column of ``scan`` and each
    chunk id's files sit in one directory: a task per directory then reads
    every row of its chunks, and no other task reads any of them."""
    paths, part_cols, _ = scan
    names = [name for name, _ in part_cols]
    if "chunk_id" not in names:
        return False
    i = names.index("chunk_id")
    pairs = {(_part_values(p, part_cols)[i], os.path.dirname(p)) for p in paths}
    return len(pairs) == len({chunk for chunk, _ in pairs})


def _group_by_split(spark, paths: list[str]) -> list[list]:
    """:func:`_group_by_size` under the session's default parallelism and
    its ``spark.sql.files.maxPartitionBytes`` and ``openCostInBytes`` as
    Spark parses them, so unit suffixes (``"64m"``, the default
    ``"134217728b"``) count."""
    conf = spark._jsparkSession.sessionState().conf()
    return _group_by_size(
        paths, conf.filesMaxPartitionBytes(), spark.sparkContext.defaultParallelism,
        conf.filesOpenCostInBytes(),
    )


def _group_by_size(
    paths: list[str], max_partition_bytes: int, parallelism: int, open_cost: int = 4 << 20
) -> list[list]:
    """Contiguous balanced packing into ``k * parallelism`` groups, with
    ``k = ceil(total / (parallelism * max_partition_bytes))``: the
    stages are CPU-bound, so the groups are sized to fill the cores in
    whole waves (no one-task tail wave) while no group exceeds about
    ``max_partition_bytes``.  The packing was tuned while each Python
    task also paid about 0.2 s re-reading zip directories, a cost the
    worker daemon (``varint_simd_spark._worker_daemon``) has since
    removed on local masters.  Sizes count ``open_cost`` per file.

    A file larger than 1.5x the group size (at least ``open_cost``, as in
    Spark's ``maxSplitBytes``) is split at ROW-GROUP granularity
    (``[path, [rg, ...]]`` units) — a single-file table must not
    serialize into one task.  Each unit joins the group its
    cumulative-size midpoint falls in, so groups are contiguous runs of
    the input in path order; empty groups are dropped."""
    sizes = []
    for p in paths:
        try:
            sizes.append(os.path.getsize(p) + open_cost)
        except OSError:
            sizes.append(max_partition_bytes)
    total = sum(sizes)
    par = max(parallelism, 1)
    n_groups = par * max(1, -(-total // (par * max_partition_bytes)))
    target = max(open_cost, total / n_groups)
    units: list[tuple] = []  # (path, rg_list_or_None, size)
    for p, sz in zip(paths, sizes):
        if sz > target * 1.5:
            try:
                import pyarrow.parquet as pq

                md = pq.ParquetFile(p).metadata
                for rg in range(md.num_row_groups):
                    rg_sz = sum(
                        md.row_group(rg).column(ci).total_compressed_size
                        for ci in range(md.num_columns)
                    )
                    units.append((p, [rg], rg_sz + open_cost // md.num_row_groups))
                continue
            except Exception:
                pass
        units.append((p, None, sz))
    total = sum(sz for _, _, sz in units)
    groups: list[list] = [[] for _ in range(n_groups)]
    acc = 0
    for p, rgs, sz in units:
        g = groups[min(int((acc + sz / 2) * n_groups / max(total, 1)), n_groups - 1)]
        acc += sz
        # merge adjacent row-group units of the same file into one entry
        if rgs is not None and g and g[-1][0] == p and g[-1][1] is not None:
            g[-1][1].extend(rgs)
        else:
            g.append([p, rgs])
    return [g for g in groups if g]


def _part_values(path: str, part_cols: list[tuple[str, str]]) -> list[int]:
    vals = []
    segs = path.split(os.sep)
    for name, _typ in part_cols:
        pref = name + "="
        v = None
        for s in segs:
            if s.startswith(pref):
                v = int(unquote(s[len(pref):]))
        if v is None:
            raise ValueError(f"partition column {name!r} not in path {path!r}")
        vals.append(v)
    return vals


_PART_ARROW = {
    "long": pa.int64(),
    "integer": pa.int32(),
    "short": pa.int16(),
    "byte": pa.int8(),
}


def _read_tables(
    group: list[str],
    columns: list[str] | None,
    part_cols: list[tuple[str, str]],
    schema: pa.Schema,
    column_filter: list[str] | None,
):
    """Yield one Arrow table per file: parquet read (pruned to ``columns``
    present in the file), partition columns re-attached from the path, a
    requested column of ``schema`` that the file lacks filled with typed
    nulls (as Spark's scan does for schema-evolved files), the optional row
    filter on the ``column`` field applied, timestamps canonicalized to
    naive us (the codec layer's domain)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    for path, rgs in group:
        pf = pq.ParquetFile(path, memory_map=True)
        if columns is not None:
            avail = pf.schema_arrow.names
            want = [c for c in columns if c in avail]
        else:
            want = None
        # use_threads=False: tasks already saturate the cores; Arrow's own
        # pool on top of 32 concurrent tasks only adds contention
        if rgs is not None:
            t = pf.read_row_groups(rgs, columns=want, use_threads=False)
        else:
            t = pf.read(columns=want, use_threads=False)
        if part_cols:
            pv = _part_values(path, part_cols)
            for (name, typ), v in zip(part_cols, pv):
                arr = pa.array(
                    np.full(t.num_rows, v, dtype=np.int64), type=_PART_ARROW[typ]
                )
                t = t.append_column(name, arr)
        if columns is not None:
            for c in columns:
                if c not in t.column_names and schema.get_field_index(c) >= 0:
                    t = t.append_column(c, pa.nulls(t.num_rows, schema.field(c).type))
            t = t.select([c for c in columns if c in t.column_names])
        if column_filter is not None:
            mask = pc.is_in(
                t["column"], value_set=pa.array(column_filter, pa.string())
            )
            t = t.filter(mask)
        if any(pa.types.is_timestamp(c.type) for c in t.columns):
            t = pa.table({
                name: c.cast(pa.timestamp("us")) if pa.types.is_timestamp(c.type) else c
                for name, c in zip(t.column_names, t.columns)
            })
        yield t


def pyscan_map_in_arrow(
    spark,
    scan: tuple[list[str], list[tuple[str, str]]],
    fn,
    out_schema,
    columns: list[str] | None = None,
    column_filter: list[str] | None = None,
    group: str = "dir",
):
    """Equivalent of ``df.mapInArrow(fn, out_schema)`` where the scan runs
    in the Python task: the Spark job maps over the file list, each task
    reads its group with pyarrow and feeds the batches to ``fn``.

    ``group``: 'dir' (one task per partition directory — chunk colocation
    guaranteed) or 'split' (balanced packing into whole waves of
    ``defaultParallelism`` tasks, each at most about
    spark.sql.files.maxPartitionBytes; see :func:`_group_by_size`)."""
    paths, part_cols, schema = scan
    if group == "dir":
        groups = _group_by_dir(paths)
    else:
        groups = _group_by_split(spark, paths)
    cf = sorted(column_filter) if column_filter is not None else None

    def task_fn(batches):
        from pyspark import TaskContext

        for b in batches:  # drain the (one-row) driver side of the range
            pass
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        if pid >= len(groups):
            return

        def gen():
            for t in _read_tables(
                groups[pid], columns, part_cols, schema, cf
            ):
                yield from t.to_batches()

        yield from fn(gen())

    # one native range partition per group: the scan job's input rows are
    # a single long per task (no python pre-stage, no shuffle); the task
    # picks its file group by partition id from the closure
    carrier = spark.range(len(groups), numPartitions=len(groups))
    return carrier.mapInArrow(task_fn, schema=out_schema)


def map_in_arrow_split(df, fn, out_schema, columns: list[str], column_filter=None):
    """``df.select(*columns).mapInArrow(fn, out_schema)`` for a stage that
    needs no chunk colocation: when ``df`` is a bare parquet scan, the
    scan runs in the Python task with files packed by size
    (``group="split"``), else the JVM scan feeds ``fn``.
    ``column_filter``: keep only the rows whose ``column`` field (an
    encoded store's column name) is in it — the python-side scan's row
    filter, or a Spark filter pushed down to the JVM scan."""
    scan = parquet_scan_info(df)
    if scan is not None:
        return pyscan_map_in_arrow(
            df.sparkSession, scan, fn, out_schema,
            columns=columns, column_filter=column_filter, group="split",
        )
    if column_filter is not None:
        df = df.filter(df["column"].isin(list(column_filter)))
    return df.select(*columns).mapInArrow(fn, schema=out_schema)
