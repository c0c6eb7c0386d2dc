"""The first 50 catalog entries of ``__spark_entry__`` and bench.py's
headline list, checked against the merged catalog. Importing the registries builds the catalog
dicts only; no SparkSession starts."""

from __future__ import annotations

import json
from pathlib import Path

import __spark_entry__ as entry
import bench

ROOT = Path(__file__).resolve().parents[1]


def test_first_50_catalog_entries_are_frozen():
    r05 = json.loads((ROOT / "CORRECTNESS_r05.json").read_text("utf-8"))
    assert list(entry.queries())[:50] == list(r05)


def test_bench_headline_names_are_unique_catalog_keys():
    dupes = sorted({n for n in bench.HEADLINE if bench.HEADLINE.count(n) > 1})
    assert not dupes, dupes
    stale = [n for n in bench.HEADLINE if n not in entry.queries()]
    assert not stale, stale
