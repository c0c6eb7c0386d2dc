"""md5-derived integer hashes, computed identically in Spark and DuckDB."""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def md5_long(c: Column) -> Column:
    """First 60 bits of md5 as a non-negative int64 — computed
    identically in Spark (conv base16) and DuckDB
    (``CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT)``)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")
