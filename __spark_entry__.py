"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The catalogs live in ``datamunging_spark.queries`` (relational surface,
SURVEY.md §2.2) and ``datamunging_spark.ml_ops`` (dedup / similarity /
clustering+curation / ANN+k-means / text-analytics / decontamination /
packing+chunking / multimodal / the flagship extraction cascade). All
50 window entries carry exact-value DuckDB oracles; the few rows-only
catalog queries (the raw munge/extract cascades, the multimodal decode
stub, approximate aggregates) are verified by pytest invariants
(tests/test_ml_ops.py, tests/test_munge_spark.py) instead.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from datamunging_spark.ml_ops import ML_QUERIES, extract_munge  # noqa: E402
from datamunging_spark.queries import RELATIONAL_QUERIES  # noqa: E402

# The driver records correctness for the first 50 catalog entries, so the
# window is curated explicitly: one representative per relational category
# (SURVEY.md §2.2), then the flagship training-data ops. The window is
# frozen: its names and order equal CORRECTNESS_r05.json's keys
# (tests/test_registry.py pins that), and git log keeps how each slot was
# chosen. Everything after the window stays in the catalog and is
# exact-value-checked by pytest (test_queries_oracle.py, test_ml_ops.py)
# and CORRECTNESS_local.json — same oracles, same comparison.
DRIVER_PRIORITY = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "broadcast_part_revenue",
    "semi_customers_with_urgent",
    "anti_customers_without_orders",
    "full_outer_balance",
    "range_join_bins",
    "asof_join",
    "window_topk_orders",
    "rollup_lineitem",
    "topk_parts",
    "stats_aggregates",
    "set_ops_segments",
    "string_funcs",
    "pagerank_links",
    "hof_embeddings",
    "boilerplate_relational",
    "sessionize_events",
    "scalar_subquery",
    "salted_heavy_hitters",
    "extract_munge_metrics",
    "dedup_exact",
    "dedup_minhash_lsh",
    "span_interval_merge",
    "dedup_clusters",
    "zorder_layout",
    "curate_corpus",
    "dedup_embedding_cosine",
    "ann_cosine_topk",
    "ann_ivf_sq8",
    "kmeans_embeddings",
    "anchor_text_agg",
    "multimodal_resize",
    "lang_id_stopword",
    "graph_components_lss",
    "pq_adc_topk",
    "bootstrap_ci",
    "decontaminate_ngrams",
    "record_linkage_fs",
    "hll_distinct",
    "header_detect_relational",
    "lm_kn_bigram",
    "redact_pii",
    "label_propagation",
    "substring_dedup",
    "gopher_quality",
    "bpe_learn",
    "decontaminate_bloom",
    "pack_shards_bfd",
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the full OCR-munge extraction cascade over an
    interleaved text+media spans table synthesized from sf0.001
    documents — one pass of ``munge``'s ``mapInArrow`` (BASELINE.json:6)."""
    return extract_munge(spark, "/root/testdata/sf0.001")


def _catalog() -> dict[str, tuple]:
    merged = {**RELATIONAL_QUERIES, **ML_QUERIES}
    missing = [n for n in DRIVER_PRIORITY if n not in merged]
    if missing:  # not assert: must survive python -O
        raise KeyError(f"DRIVER_PRIORITY names not in catalog: {missing}")
    ordered = {n: merged[n] for n in DRIVER_PRIORITY}
    ordered.update({n: v for n, v in merged.items() if n not in ordered})
    return ordered


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in _catalog().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: sql for name, (_fn, sql) in _catalog().items() if sql is not None
    }
