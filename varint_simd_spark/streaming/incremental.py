"""Incremental encoding via Structured Streaming.

New web-page files appear continuously at crawl scale; this module wires
the encode pipeline into a file-source stream:

    readStream(parquet dir) -> foreachBatch: encode THIS batch's rows only

Chunk-id scheme: every micro-batch owns n_chunks ids
``blake2b("stream", batch_id, n_chunks, slot)`` (63-bit hashes — disjoint
from the batch path's small integer ids and from every other batch);
within the batch, rows are placed by url-hash into int slots and encoded
by the batch path's exchange, and each slot's chunk id is mapped to its
hash after the encode.  ``n_chunks`` is locked per store via
``_stream_conf.json``: restarting with a different value would re-key a
crashed batch's replay and duplicate its rows, so the stream fails fast
instead.  Consequences:

* **work per batch is O(batch)** — no re-read of the accumulated table, no
  re-encode of historical chunks (a chunk is a function of one batch's
  rows only);
* **the manifest is append-only** — no rewrite window, nothing to swap
  atomically, no crash can lose committed rows;
* **exactly-once at chunk granularity** — foreachBatch replays a crashed
  batch with the same batch_id and the same rows, so the replay targets
  the same chunk ids: ids whose manifest row committed are skipped
  (``EncodedStore.pending``), the rest re-encode and atomically overwrite
  their own partition directories.

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

from ..operators.encode import (
    _check_n_chunks,
    _chunk_exchange,
    _encode_args,
    decode_table,
    encode_table,
    make_encode_chunk_fn,
)
from ..sources.checkpoint import EncodedStore, _lock_layout


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


def _encode_batch(store: EncodedStore, batch_df, batch_id: int, n_chunks: int, key: str, fn):
    """The encode of one micro-batch and the chunk ids it commits, or
    None when every chunk of the batch is committed (a replay).

    Rows go to slot ``pmod(xxhash64(key), n_chunks)`` and are placed and
    encoded by ``_chunk_exchange`` on the int slot, like every batch
    hash-chunk encode; only then is each slot's ``chunk_id`` mapped to its
    hashed :func:`_stream_chunk_id`."""
    slot_ids = [_stream_chunk_id(int(batch_id), n_chunks, i) for i in range(n_chunks)]
    pending = store.pending(slot_ids)
    if not pending:
        return None
    todo = set(pending)
    slot = F.pmod(F.xxhash64(F.col(key)), F.lit(n_chunks)).cast("int")
    enc = _chunk_exchange(
        batch_df.withColumn("__chunk", slot), n_chunks, fn,
        only=[i for i, cid in enumerate(slot_ids) if cid in todo],
    )
    ids = F.array(*[F.lit(cid) for cid in slot_ids])
    slot_id = F.element_at(ids, F.col("chunk_id").cast("int") + 1)
    return enc.withColumn("chunk_id", slot_id), pending


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
    _check_n_chunks(n_chunks)
    # the same driver-side checks every batch encode entry point runs — a
    # typo'd column must fail here, not as an executor-side KeyError inside
    # the first micro-batch
    columns, codecs = _encode_args(schema.fieldNames(), None, codecs, stats_group_by)
    _lock_layout(store, "stream", {"n_chunks": n_chunks})
    fn = make_encode_chunk_fn(columns, codecs, key, stats_group_by)

    def process_batch(batch_df, batch_id: int):
        if batch_df.isEmpty():
            return
        planned = _encode_batch(store, batch_df, batch_id, n_chunks, key, fn)
        if planned is not None:
            store.commit(*planned)  # (encode, its expected chunk ids)

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
    full = decode_table(src.read_encoded()).drop("__chunk")
    enc = encode_table(full, key=key, n_chunks=n_chunks, codecs=codecs)
    return dest.commit(enc, expected_chunks=list(range(n_chunks)))
