"""md5-derived int64 hashes: one format, three twins.

The format is the first 15 hex digits (60 bits) of the md5 of a UTF-8
string, read as a non-negative int64. It keys most synthetic inputs of
the catalog (link graphs, splits, samples, sketch cells, corruption
masks), and every DuckDB oracle replays it, so this module is the only
one that spells it out. The three twins give equal ints for equal
strings:

- the Spark ``Column`` form: ``md5_long``, plus the tagged
  ``md5_long_tag`` and the unit-interval ``md5_u01`` built on it;
- the SQL-text form, ``md5_long_sql`` and the tagged ``md5_tag_sql``,
  for the two dialects the code writes: DuckDB (``'0x'`` cast, the
  default) and Spark SQL (``conv(…, 16, 10)``);
- the Python form, ``md5_long_py``, for pandas/Arrow UDF bodies.

Not this format: ``kmv_set_similarity``'s 11-digit hash, and the
``F.md5`` hex digests used as fingerprints rather than int64 keys.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, functions as F

_UNIT = float(1 << 60)


def md5_long(c: Column) -> Column:
    """The format as a Spark ``Column`` over a string column."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def md5_long_tag(tag: str, key_col: Column) -> Column:
    """``md5_long`` of ``tag`` || the key cast to string."""
    return md5_long(F.concat(F.lit(tag), key_col.cast("string")))


def md5_u01(tag: str, key_col: Column) -> Column:
    """Uniform [0, 1) double from the tagged hash."""
    return md5_long_tag(tag, key_col) / F.lit(_UNIT)


def md5_long_sql(x: str, dialect: str = "duckdb") -> str:
    """SQL text of the format over the string expression ``x``."""
    if dialect == "spark":
        return f"CAST(conv(substring(md5({x}), 1, 15), 16, 10) AS BIGINT)"
    return f"CAST(concat('0x', substr(md5({x}), 1, 15)) AS BIGINT)"


def md5_tag_sql(tag: str, col: str, dialect: str = "duckdb") -> str:
    """SQL twin of ``md5_long_tag``: the hash of ``tag`` || ``col``
    cast to the dialect's string type."""
    s = "STRING" if dialect == "spark" else "VARCHAR"
    return md5_long_sql(f"concat('{tag}', CAST({col} AS {s}))", dialect)


def md5_long_py(s: str) -> int:
    """The format in plain Python."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
