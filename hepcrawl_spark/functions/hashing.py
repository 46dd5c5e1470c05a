"""Hash columns for URL identity and dedup sketches.

Two tiers:
- ``url_hash64``: Spark-native ``xxhash64`` — JVM-side, whole-stage-codegen
  friendly, used for all engine-internal paths (bloom/cuckoo membership,
  shuffle keys). This is the "murmur3-hashed URLs" role from the north rule
  (xxhash64 chosen over F.hash because 32 bits collide at 10^10 URLs).
- ``portable_hash64``: md5-prefix → bigint, bit-identical in Spark SQL and
  DuckDB — used only where a DuckDB oracle must reproduce values.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def url_hash64(col: Column | str) -> Column:
    """Engine-internal 64-bit hash (JVM xxhash64, codegen'd)."""
    return F.xxhash64(col)


def portable_hash64(col: Column | str) -> Column:
    """md5-based bigint identical in Spark and DuckDB.

    15 hex chars = 60 bits, always non-negative, fits BIGINT in both.
    DuckDB twin: ``('0x' || substr(md5(x), 1, 15))::BIGINT``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def portable_hash32(col: Column | str) -> Column:
    """28-bit md5-based hash — small enough that k-permutation arithmetic
    (h*a+b mod p) never overflows int64 even under ANSI mode, in Spark or
    DuckDB. Twin: ``('0x' || substr(md5(x), 1, 7))::BIGINT``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 7), 16, 10).cast("bigint")
