"""Partitioning & skew planning: host-locality chunking with hot-host salting.

The north rule: "partitions by url-hash with explicit salting for skewed
hosts".  Chunking by *host* hash gives compression locality (pages of one
host share templates/vocabulary, so dict/RLE/FSST do better) but makes hot
hosts a straggler/oom risk at 100 TB; so:

1. detect hot hosts with ONE aggregate (``groupBy(host).count()``), keeping
   only hosts over the per-chunk row target — a tiny driver-side table even
   at web scale (hosts over a 64 MB threshold are rare);
2. broadcast-join the salt plan back (no shuffle of the big side);
3. chunk id = ``xxhash64(host, salt)`` where ``salt = pmod(xxhash64(url),
   n_salts(host))`` — hot hosts split across ~count/target chunks, cold
   hosts keep locality.

The encode exchange moves whole chunks (chunk ``c`` to reduce partition
``c mod n``, as in ``encode_table``), so neither it nor AQE splits a hot
chunk; this planner bounds *chunk payload* skew before the exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def host_of(url_col: str = "url") -> Column:
    """scheme://host prefix of a url (native, WSCG)."""
    return F.substring_index(F.col(url_col), "/", 3)


def plan_salts(
    df: DataFrame,
    url_col: str = "url",
    target_rows_per_chunk: int = 50_000,
) -> DataFrame:
    """ONE aggregate over the input -> tiny plan table of hot hosts:
    (host, n_rows, n_salts).  Hosts under the target are absent (salt 1)."""
    return (
        df.groupBy(host_of(url_col).alias("__host"))
        .agg(F.count("*").alias("__host_rows"))
        .filter(F.col("__host_rows") > target_rows_per_chunk)
        .withColumn(
            "__n_salts",
            F.ceil(F.col("__host_rows") / F.lit(target_rows_per_chunk)).cast("int"),
        )
    )


def salted_chunk_column(
    df: DataFrame,
    n_chunks: int,
    url_col: str = "url",
    target_rows_per_chunk: int = 50_000,
    salt_plan: DataFrame | None = None,
) -> DataFrame:
    """Attach the salt plan (broadcast join) and return df with a
    ``__chunk`` column.

    chunk = pmod(xxhash64(host, salt), n_chunks) as an int; salt = 0 for
    cold hosts, pmod(xxhash64(url), n_salts) for hot ones.
    """
    plan = salt_plan if salt_plan is not None else plan_salts(df, url_col, target_rows_per_chunk)
    joined = df.join(
        F.broadcast(plan),
        host_of(url_col) == F.col("__host"),
        "left",
    )
    salt = F.when(
        F.col("__n_salts").isNotNull(),
        F.pmod(F.xxhash64(F.col(url_col)), F.col("__n_salts")),
    ).otherwise(F.lit(0))
    chunk = F.pmod(F.xxhash64(host_of(url_col), salt), F.lit(n_chunks)).cast("int")
    return joined.withColumn("__chunk", chunk).drop("__host", "__host_rows", "__n_salts")


def encode_table_salted(
    df: DataFrame,
    n_chunks: int = 32,
    url_col: str = "url",
    target_rows_per_chunk: int = 50_000,
    codecs: dict[str, str] | None = None,
    columns: list[str] | None = None,
):
    """encode_table with host-locality + hot-host salting (the production
    path for the web_pages table): encode_table's plan with the salted
    chunk column; chunks are sorted by ``url_col`` and placed as in
    encode_table, and ``url_col`` is never encoded unless in ``columns``."""
    from ..operators.encode import _check_n_chunks, _encode_args, _hash_chunk_encode

    _check_n_chunks(n_chunks)
    columns, codecs = _encode_args(df.columns, columns, codecs, None)
    df2 = salted_chunk_column(df, n_chunks, url_col, target_rows_per_chunk)
    return _hash_chunk_encode(df2, url_col, n_chunks, columns, codecs, chunk=F.col("__chunk"))


def skew_report(df: DataFrame, url_col: str = "url", top_k: int = 20) -> DataFrame:
    """Top-k hosts by page count (ops/debug view of the skew the planner sees)."""
    return (
        df.groupBy(host_of(url_col).alias("host"))
        .count()
        .orderBy(F.desc("count"))
        .limit(top_k)
    )
