"""README.md's catalog counts must match the driver registry: the
``queries()`` and ``oracle_sql()`` of ``__spark_entry__``. Importing the
registry builds the catalog dicts only; no SparkSession starts."""

from __future__ import annotations

import re
from pathlib import Path

import __spark_entry__ as entry

README = (Path(__file__).resolve().parents[1] / "README.md").read_text("utf-8")


def test_readme_catalog_counts_match_registry():
    n_queries, n_oracle = len(entry.queries()), len(entry.oracle_sql())
    claims = re.findall(r"(\d+) queries \((\d+)\s+oracle-checked\)", README)
    claims += re.findall(
        r"\((\d+) total with ml_ops\.py; (\d+) fully oracle-checked\)", README
    )
    assert len(claims) == 2, claims
    for total, checked in claims:
        assert (int(total), int(checked)) == (n_queries, n_oracle), claims
