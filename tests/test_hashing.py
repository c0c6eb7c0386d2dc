"""The md5 -> int64 format's twins in functions/hashing.py give equal ints
for equal strings, and the link graph's DuckDB twin yields the same
links as its Spark builder. hashlib is the independent reference."""

from __future__ import annotations

import hashlib
from collections import Counter

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from datamunging_spark.functions.hashing import md5_long, md5_long_py, md5_long_sql
from datamunging_spark.ml_ops import _md5_links, _md5_links_sql
from datamunging_spark.queries import t
from datamunging_spark.rulesets.loader import load_rulesets

FIXED = [
    "",
    "a",
    "pr0:42",
    "split:123456789",
    "The quick brown fox jumps over the lazy dog",
    "x" * 1000,
] + [src for src, _ in load_rulesets().char_map]


def _reference(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def _all_four(spark, strings: list[str]) -> dict[str, list[int]]:
    pdf = pd.DataFrame({"i": range(len(strings)), "s": strings})
    rows = (
        spark.createDataFrame(pdf, "i long, s string")
        .select(
            "i",
            md5_long(F.col("s")).alias("col"),
            F.expr(md5_long_sql("s", "spark")).alias("sql"),
        )
        .orderBy("i")
        .collect()
    )
    con = duckdb.connect()
    con.register("strs", pdf)
    duck = con.sql(f"SELECT {md5_long_sql('s')} AS h FROM strs ORDER BY i")
    return {
        "spark_column": [r.col for r in rows],
        "spark_sql": [r.sql for r in rows],
        "duckdb_sql": [h for (h,) in duck.fetchall()],
        "python": [md5_long_py(s) for s in strings],
    }


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(st.lists(st.text(max_size=30), min_size=100, max_size=150))
def test_md5_twins_agree(spark, drawn):
    strings = FIXED + drawn
    want = [_reference(s) for s in strings]
    for form, got in _all_four(spark, strings).items():
        bad = [s for s, g, w in zip(strings, got, want) if g != w]
        assert not bad, f"{form} differs on {bad[:3]!r}"


@pytest.mark.parametrize("tag,drop_dangling", [("pr", True), ("ht", False)])
def test_md5_links_sql_twin_equals_spark_builder(spark, sf_dir, tag, drop_dangling):
    docs = t(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    got = Counter(
        (r.src, r.dst) for r in _md5_links(docs, n, tag, drop_dangling).collect()
    )
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT doc_id "
        f"FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = Counter(
        con.sql(
            f"WITH {_md5_links_sql(tag, drop_dangling)} SELECT src, dst FROM cand"
        ).fetchall()
    )
    assert got == want
    assert sum(got.values()) > n  # about 3 links per doc
