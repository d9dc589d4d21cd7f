"""Hash functions.

``djb2`` reproduces the reference partitioner (mapreduce.c:154-160:
``h = 5381; h = h*33 + c`` over the key bytes, mod num_partitions) for
byte-exact output-shard parity (SURVEY.md Q3 / risk #1). It exists in two
forms: a plain Python function (parity layer / tests) and a pure Column
expression built from ``aggregate`` over the key's bytes — JVM-side, no
Python UDF, so the parity sink stays inside whole-stage codegen. It is one
parsed SQL string (functions/vectors.py says why): 3 py4j commands
(0.20 ms) a call, against 70 (5.3 ms) spelled with ``F.aggregate`` and a
lambda.
Both forms hash the key's UTF-8 bytes as UNSIGNED values 0-255, so they
agree on every string key. The C reference adds each byte as a ``char``,
whose signedness the platform decides: where ``char`` is signed (x86-64),
a non-ASCII byte adds a negative value, so its shards match ours only on
ASCII keys (all of the reference's fixtures).

Everything else in the engine uses Spark's built-in Murmur3
``HashPartitioning`` (the scale-correct default); djb2 is opt-in.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.functions.vectors import quote

_U32 = 1 << 32


def djb2(key: str, num_partitions: int | None = None) -> int:
    """Reference partitioner (mapreduce.c:154-160), Python form."""
    h = 5381
    for ch in key.encode("utf-8"):
        h = (h * 33 + ch) % _U32
    return h % num_partitions if num_partitions else h


def djb2_expr(col: str, num_partitions: int | None = None) -> Column:
    """djb2 as a JVM-side Column expression (no Python UDF), equal to
    :func:`djb2` on every key.

    Decoding the key's UTF-8 bytes as ISO-8859-1 maps each byte to the
    character of the same code point, so ``ascii()`` of each character is
    the unsigned byte. ``split`` gives the empty key one empty piece,
    which ``array_remove`` drops.
    """
    latin1 = f"decode(encode({quote(col)}, 'UTF-8'), 'ISO-8859-1')"
    h = (
        f"aggregate(array_remove(split({latin1}, ''), ''), CAST(5381 AS BIGINT),"
        f" (acc, ch) -> (acc * 33 + ascii(ch)) % {_U32})"
    )
    return F.expr(f"CAST({h} % {num_partitions} AS INT)" if num_partitions else h)


def md5_salted(col: Column | str, salt: int | str) -> Column:
    """Deterministic keyed hash family: md5(salt || '|' || value) as hex.

    Fixed-width lowercase hex compares lexicographically exactly like the
    128-bit integer it encodes, so MIN/MAX over these strings is a valid
    min-hash — and both Spark and DuckDB compute identical md5 hex, which
    makes every sketch built on this family oracle-checkable in SQL.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.concat(F.lit(str(salt)), F.lit("|"), c))
