"""Monster-document chunking (SURVEY.md §4 item 1 / §7 hard part 3).

A single document row with 10^4+ spans is DATA skew inside one task —
AQE cannot split a row, so one straggler task pins a whole stage. Every
document therefore passes through the same three JVM-side steps around
the one Python pass (``operators.munge.munge``):

- **split** (``split_chunks``): a normal document becomes one chunk row
  ``(doc_id, row, chunk=0, spans, lo=0, hi=0)``, ``row`` an id of its
  input row. A monster (more than ``monster_threshold`` spans) becomes
  one row per ``chunk_pages`` pages: the spans it owns (media spans ride
  with their preceding page; media before the first page belong to chunk
  0), plus up to ``HALO`` page-only spans from each neighbour.
  ``lo``/``hi`` count those halo pages. The header/footer detector (R3)
  is the only cross-page stage and its window is exactly ±2 pages, so the
  halo gives every owned page its full comparison context; halo pages
  emit no output;
- **shuffle**: the caller's repartition hashes the chunk rows on
  ``(doc_id, chunk)`` (``run_pipeline`` adds its salt) into one
  partition per core, so the chunks of a 10^5-span monster spread over
  every core. The repartition is
  explicit because chunk rows are few BYTES but much CPU: AQE coalesces
  exchanges by byte size, and left to itself it folds every chunk of a
  monster into one task. A user repartition is never coalesced.
  ``partition_id`` is taken right after it, so it names the munge task;
- **munge**: one ``mapInArrow`` runs ``_Munger.munge_doc`` on every row,
  chunk or whole document alike;
- **reassemble** (``reassemble``): one ``groupBy(doc_id, row)`` puts the
  owned spans back in chunk order and sums the per-chunk metrics. Keying
  on the input row keeps one output row per input row, so input rows
  that share a ``doc_id`` (a file ingested twice) are not merged.

All of a document's chunk structs are built in ONE projection from the
page-position array and then ``inline_outer``-d, so the generator carries
only ``doc_id`` and ``row``; a generator that carried ``spans`` on every
row it emits is quadratic in the monster's size. ``inline_outer``, not
``inline``: for a non-outer generator the optimizer infers a
``size(chunks) > 0`` filter and pushes it below the projections with the
whole chunk expression substituted in, which recomputes the page
positions once per chunk (quadratic again). The chunk array is never
empty, so the two agree.

Equality with the whole-document operator and the oracle is
pytest-asserted (tests/test_chunked.py).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .munge import METRIC_FIELDS, munge

HALO = 2  # must equal the R3 comparison window (SPEC.md §3)
# Docs with more spans than this are split into chunks. Outputs are the
# same at any threshold; only the task sizes change.
MONSTER_THRESHOLD = 256
CHUNK_PAGES = 64


def split_chunks(df: DataFrame, monster_threshold: int, chunk_pages: int) -> DataFrame:
    """(doc_id, spans) -> chunk rows (doc_id, row, chunk, spans, lo, hi)."""
    cp = chunk_pages
    spans = F.col("spans")
    pp = F.col("pp")  # 0-based positions of the page spans
    n_pages = F.size(pp)
    n_spans = F.size(spans)
    n_chunks = F.greatest(F.ceil(n_pages / cp).cast("int"), F.lit(1))

    def halo(positions: Column) -> Column:
        return F.transform(positions, lambda k: F.get(spans, k))

    def chunk(c: Column) -> Column:
        # chunk c owns pages [first, end) and the spans from its first page
        # (span 0 for chunk 0) up to the next chunk's first page
        first = c * cp
        end = F.least(first + cp, n_pages)
        start = F.when(c == 0, 0).otherwise(F.get(pp, first))
        stop = F.when(end == n_pages, n_spans).otherwise(F.get(pp, end))
        low = F.slice(pp, F.greatest(first - HALO, F.lit(0)) + 1, F.least(first, F.lit(HALO)))
        high = F.slice(pp, end + 1, F.least(n_pages - end, F.lit(HALO)))
        return F.struct(
            c.alias("chunk"),
            F.concat(halo(low), F.slice(spans, start + 1, stop - start), halo(high)).alias("spans"),
            F.size(low).alias("lo"),
            F.size(high).alias("hi"),
        )

    whole = F.array(F.struct(
        F.lit(0).alias("chunk"), spans.alias("spans"), F.lit(0).alias("lo"), F.lit(0).alias("hi")
    ))
    chunks = F.when(
        n_spans > monster_threshold,
        F.transform(F.sequence(F.lit(0), n_chunks - 1), chunk),
    ).otherwise(whole)
    page_positions = F.filter(
        F.transform(spans, lambda s, i: F.when(s["kind"] == "page", i)),
        lambda i: i.isNotNull(),
    )
    return (
        df.select(
            "doc_id",
            F.monotonically_increasing_id().alias("row"),
            "spans",
            page_positions.alias("pp"),
        )
        .select("doc_id", "row", chunks.alias("chunks"))
        .select("doc_id", "row", F.inline_outer("chunks"))
    )


def reassemble(df: DataFrame) -> DataFrame:
    """Munged chunk rows -> one row per input row: spans in chunk order,
    the metrics and ``munge_us`` summed. Any other column
    (``partition_id``) takes its chunk-0 value."""
    sums = [*METRIC_FIELDS, "munge_us"]
    carried = [c for c in df.columns if c not in ("doc_id", "row", "chunk", "spans", *sums)]
    parts = F.array_sort(F.collect_list(F.struct("chunk", "spans")))
    return df.groupBy("doc_id", "row").agg(
        F.flatten(F.transform(parts, lambda p: p["spans"])).alias("spans"),
        *[F.sum(f).alias(f) for f in sums],
        *[F.min_by(c, "chunk").alias(c) for c in carried],
    ).drop("row")


def munge_chunks(
    df: DataFrame,
    spark: SparkSession,
    monster_threshold: int,
    chunk_pages: int,
    shuffle: Callable[..., DataFrame],
    rulesets_bc=None,
) -> DataFrame:
    """(doc_id, spans) -> OUTPUT_SCHEMA + ``partition_id``: split, then
    ``shuffle(rows, "doc_id", "chunk")``, munge and reassemble.
    ``partition_id`` is the shuffled partition that munged the doc's
    chunk 0."""
    rows = shuffle(split_chunks(df, monster_threshold, chunk_pages), "doc_id", "chunk")
    rows = rows.withColumn("partition_id", F.spark_partition_id())
    return reassemble(munge(rows, spark, rulesets_bc=rulesets_bc))


def _munge_repartitioned(
    df: DataFrame, spark: SparkSession, monster_threshold: int, chunk_pages: int, rulesets_bc
) -> DataFrame:
    n = spark.sparkContext.defaultParallelism
    return munge_chunks(
        df, spark, monster_threshold, chunk_pages,
        lambda rows, *keys: rows.repartition(n, *keys), rulesets_bc,
    ).drop("partition_id")


def munge_auto(
    df: DataFrame,
    spark: SparkSession,
    monster_threshold: int = MONSTER_THRESHOLD,
    chunk_pages: int = CHUNK_PAGES,
) -> DataFrame:
    """(doc_id, spans) -> OUTPUT_SCHEMA; docs above ``monster_threshold``
    spans are munged in chunks of ``chunk_pages`` pages."""
    return _munge_repartitioned(df, spark, monster_threshold, chunk_pages, None)


def munge_chunked(
    df: DataFrame,
    spark: SparkSession,
    chunk_pages: int = CHUNK_PAGES,
    rulesets_bc=None,
) -> DataFrame:
    """(doc_id, spans) -> OUTPUT_SCHEMA with every doc munged in chunks of
    ``chunk_pages`` pages."""
    return _munge_repartitioned(df, spark, 0, chunk_pages, rulesets_bc)
