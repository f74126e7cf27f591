"""Distributed bit-identical round-trip verification.

The north rule's correctness criterion — "bit-identical round-trip decode
of every column; byte-identical extracted text per url" — as a first-class
Spark job: decode the encoded table, equi-join back to the source on the
key, and count per-column exact matches.  One shuffle (the join); the
comparison itself is native column equality (null-safe), so the whole
check runs JVM-side after decode.

At 100 TB run it per chunk-subset (the join key is the chunk sort key, so
AQE keeps the join local to matching scan ranges) or sample-gate it;
`tools/run_pipeline.py --verify` wires it into the deploy entrypoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .encode import _local_frame

_VERIFY_SCHEMA = T.StructType(
    [
        T.StructField("column", T.StringType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_match", T.LongType()),
        T.StructField("identical", T.BooleanType()),
    ]
)


def verify_roundtrip(
    src: DataFrame,
    decoded: DataFrame,
    key: str,
    columns: list[str] | None = None,
) -> DataFrame:
    """Per-column exact-match report between ``src`` and ``decoded``.

    Returns one row per column: (column, n_rows, n_match, identical).
    ``eqNullSafe`` counts null==null as a match (the validity bitmap must
    round-trip too).  ``identical`` is true iff every row matched AND the
    row counts agree."""
    columns = columns or [c for c in src.columns if c != key and c in decoded.columns]
    stats = src.agg(
        F.count("*").alias("__n"), F.countDistinct(key).alias("__d")
    ).collect()[0]
    n_src = int(stats["__n"])
    if int(stats["__d"]) != n_src:
        # duplicate keys would fan out the full-outer join, inflating both
        # n_match and the joined row count — corruption could be masked
        raise ValueError(
            f"verify_roundtrip requires a unique join key: {key!r} has "
            f"{n_src - int(stats['__d'])} duplicate value(s) in src"
        )
    a = src.select(key, *columns)
    b = decoded.select(key, *[F.col(c).alias(f"__b_{c}") for c in columns])
    joined = a.join(b, key, "full_outer")
    aggs = []
    for c in columns:
        # coalesce: an empty frame sums to null, which must read as 0 matches
        aggs.append(
            F.coalesce(
                F.sum(F.col(c).eqNullSafe(F.col(f"__b_{c}")).cast("long")), F.lit(0)
            ).alias(f"__m_{c}")
        )
    row = joined.agg(F.count("*").alias("__n"), *aggs).collect()[0]
    out = [
        (c, int(n_src), int(row[f"__m_{c}"]), bool(row[f"__m_{c}"] == n_src == row["__n"]))
        for c in sorted(columns)
    ]
    return _local_frame(src.sparkSession, out, _VERIFY_SCHEMA)
