"""Incremental encoding via Structured Streaming.

New web-page files appear continuously at crawl scale; this module wires
the encode pipeline into a file-source stream:

    readStream(parquet dir) -> foreachBatch: encode THIS batch's rows only

Chunk-id scheme: every micro-batch owns n_chunks ids
``blake2b("stream", batch_id, n_chunks, slot)`` (63-bit hashes — disjoint
from the batch path's small integer ids and from every other batch);
within the batch, rows are placed by url-hash into slots exactly like the
batch path.  ``n_chunks`` is locked per store via ``_stream_conf.json``:
restarting with a different value would re-key a crashed batch's replay
and duplicate its rows, so the stream fails fast instead.  Consequences:

* **work per batch is O(batch)** — no re-read of the accumulated table, no
  re-encode of historical chunks (a chunk is a function of one batch's
  rows only);
* **the manifest is append-only** — no rewrite window, nothing to swap
  atomically, no crash can lose committed rows;
* **exactly-once at chunk granularity** — foreachBatch replays a crashed
  batch with the same batch_id and the same rows, so the replay targets
  the same chunk ids: ids whose manifest row committed are skipped
  (anti-join), the rest re-encode and atomically overwrite their own
  partition directories.

The trade-off is the classic streaming-ingest one: many small per-batch
chunks instead of few big ones.  :func:`compact_store` is the scheduled
background fix (decode + re-encode into the canonical url-hash chunking),
the same pattern as Iceberg's rewrite_data_files.

``trigger(availableNow=True)`` gives catch-up-then-stop semantics (the
batch-incremental mode a crawl pipeline actually runs); leaving the
default trigger runs continuously.  Spark's checkpointLocation tracks file
progress; the manifest tracks chunk commits — two complementary levels of
resume.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..sources.checkpoint import EncodedStore


def _stream_chunk_id(batch_id: int, n_chunks: int, slot: int) -> int:
    """63-bit chunk id for a (micro-batch, slot) pair — hashed so ids can
    never collide with the batch path's small-integer ids or another
    batch's ids (the old ``batch_id*n_chunks + slot`` range scheme broke as
    soon as a store mixed writers or n_chunks changed)."""
    import hashlib

    h = hashlib.blake2b(
        repr(("stream", int(batch_id), int(n_chunks), int(slot))).encode(),
        digest_size=8,
    )
    return int.from_bytes(h.digest(), "big") >> 1


def _check_stream_conf(store: EncodedStore, n_chunks: int) -> None:
    """Lock n_chunks to the store: a restart with a different value would
    re-key a crashed batch's replay and duplicate its rows."""
    import json
    import os

    # local-path conf for this sandbox; a cluster deployment would keep
    # this in the streaming checkpoint dir or the manifest table instead
    os.makedirs(store.root, exist_ok=True)
    conf_path = f"{store.root}/_stream_conf.json"
    if os.path.exists(conf_path):
        with open(conf_path) as f:
            stored = json.load(f)
        if stored.get("n_chunks") != n_chunks:
            raise ValueError(
                f"stream n_chunks={n_chunks} differs from this store's locked "
                f"value {stored.get('n_chunks')}; changing it between restarts "
                "would duplicate a crashed batch's rows on replay"
            )
    else:
        with open(conf_path, "w") as f:
            json.dump({"n_chunks": n_chunks}, f)


def encode_stream(
    spark: SparkSession,
    input_path: str,
    store: EncodedStore,
    schema: StructType,
    key: str = "url",
    n_chunks: int = 32,
    codecs: dict[str, str] | None = None,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    stats_group_by: str | None = None,
):
    """Start the incremental encode stream; returns the StreamingQuery.

    ``n_chunks`` here is chunks *per micro-batch*; size it so one batch's
    rows / n_chunks is a healthy chunk (~32-64 MB raw at crawl scale).
    The value is locked to the store on first use (fail-fast on mismatch —
    a different value would re-key a crashed batch's replay)."""

    from ..operators.encode import (
        ENCODED_SCHEMA,
        _check_stats_group_by,
        make_encode_chunk_fn,
    )

    _check_stream_conf(store, n_chunks)
    # same driver-side validation every batch encode entry point runs — a
    # typo'd group column must fail here, not as an executor-side KeyError
    # inside the first micro-batch
    _check_stats_group_by(stats_group_by, [f.name for f in schema.fields])

    def process_batch(batch_df, batch_id: int):
        if batch_df.isEmpty():
            return
        slot_ids = [_stream_chunk_id(int(batch_id), n_chunks, i) for i in range(n_chunks)]
        committed = {
            r["chunk_id"]
            for r in store.committed_chunks()
            .filter(F.col("chunk_id").isin(slot_ids))
            .collect()
        }
        pending = [cid for cid in slot_ids if cid not in committed]
        if not pending:
            return  # full replay of an already-committed batch
        columns = [f.name for f in schema.fields]
        fn = make_encode_chunk_fn(columns, codecs or {}, key, stats_group_by)
        # slot (0..n_chunks-1) by url-hash, then map slot -> hashed chunk id
        slot = F.pmod(F.xxhash64(F.col(key)), F.lit(n_chunks))
        id_map = F.map_from_arrays(
            F.array(*[F.lit(i) for i in range(n_chunks)]),
            F.array(*[F.lit(cid) for cid in slot_ids]),
        )
        df2 = batch_df.withColumn("__chunk", F.element_at(id_map, slot.cast("int")))
        # hash groupBy, not _chunk_exchange: these ids are per-batch hashes, not < n_chunks
        enc = (
            df2.select(*columns, "__chunk")
            .filter(F.col("__chunk").isin(pending))
            .groupBy("__chunk")
            .applyInArrow(fn, schema=ENCODED_SCHEMA)
        )
        store.commit(enc, expected_chunks=pending)

    stream = spark.readStream.schema(schema).parquet(input_path)
    writer = stream.writeStream.foreachBatch(process_batch)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_store(
    src: EncodedStore,
    dest: EncodedStore,
    key: str = "url",
    n_chunks: int = 32,
    codecs: dict[str, str] | None = None,
) -> str:
    """Re-chunk an (ingest-fragmented) store into the canonical url-hash
    layout: decode committed chunks, re-encode with ``encode_table``,
    commit to ``dest``.  Run as a scheduled maintenance job — the analog of
    Iceberg's rewrite_data_files; O(store) by design, which is why ingest
    itself never pays it."""
    from ..operators.encode import decode_table, encode_table

    full = decode_table(src.read_encoded()).drop("__chunk")
    enc = encode_table(full, key=key, n_chunks=n_chunks, codecs=codecs)
    return dest.commit(enc, expected_chunks=list(range(n_chunks)))
