"""The end-to-end extraction pipeline (SURVEY.md §3.2):

    spans table ──read──► anti-join(state) ──split into chunk rows──►
        salted repartition ──► munge (ONE Arrow mapInArrow) ──►
        reassemble per input row ──► output table (= checkpoint)
                             └──► per-partition lineage table

Resumability protocol (BASELINE.json:14 "resumable from checkpoint with
per-partition lineage + metrics"):

- The OUTPUT table is the checkpoint. Every output row carries the doc's
  metrics, its processing partition id, run id, and wall time, so "done"
  is simply ``output.select(doc_id).distinct()`` and resume is a
  left-anti join of the input against it — no separate bookkeeping that
  can drift from the data.
- Output writes use the Hadoop FileOutputCommitter **algorithm v2**: each
  task's files become visible at task commit, so a job killed halfway
  leaves the finished partitions durable — that is the per-partition
  checkpoint granularity. The cost is that a retried task can leave
  duplicate docs; ``read_output`` dedupes by doc_id (safe: munge is
  deterministic, duplicate rows are byte-identical).
- A compact per-partition lineage summary (run_id, partition_id, docs,
  pages, tokens_corrected, wall_ms) is appended to the state table after
  the output commit. It is derived telemetry — if the job dies between
  the two writes the state table is merely behind, never wrong, and
  ``rebuild_state`` reconstructs it from the output table.
- On Iceberg (catalog.py), the output append is a single atomic snapshot
  commit and the v2-committer caveat disappears.

Skew (BASELINE.json:6 "explicit salting for skewed multi-page volumes"):
a monster volume is one ROW, so join-skew tools don't apply. Monsters are
split into page-range chunk rows of at most 64 pages first
(operators/chunked.py), and the unit of balance is the partition's bag of
chunk rows. We repartition on ``xxhash64(doc_id, chunk, salt)`` into
``partitions`` (default: ``defaultParallelism``, one Python task per core)
so the chunks of a monster spread across the cores; more partitions buy
no balance, because each Python task costs ≈0.2 s of worker CPU to start
whatever its data (PySpark 4.1, measured on a 4-core host). The Arrow
batch size is capped (session.py) so one batch never holds many monsters.
AQE splits neither a row nor a Python task — this is the hand-built part
(SURVEY.md §4). ``partition_id`` records the partition that munged a doc
(its chunk 0), not the reassembly's.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from .catalog import ParquetTableIO, default_io
from .operators.chunked import CHUNK_PAGES, MONSTER_THRESHOLD, munge_chunks

STATE_SUFFIX = "_state"


@dataclass
class RunResult:
    run_id: str
    docs_processed: int
    pages: int
    tokens_corrected: int


def _done_docs(spark: SparkSession, io: ParquetTableIO, output_path: str):
    if not io.exists(spark, output_path):
        return None
    return io.read(spark, output_path).select("doc_id").distinct()


def _run_stage(
    spark: SparkSession,
    input_df: DataFrame,
    output_path: str,
    run_id: str,
    apply_op,
    lineage_sums: tuple[str, ...],
    us_col: str,
    partitions: int | None,
    salt: int,
    io: ParquetTableIO | None,
):
    """Shared resume/salt/lineage machinery for any (doc_id, spans) →
    (doc_id, spans', metrics…) Arrow operator. ``apply_op(todo, shuffle)``
    returns the processed rows with their ``partition_id``;
    ``shuffle(df, *keys)`` is the salted repartition on those key columns.
    Returns the run's output DataFrame (rows of this run only)."""
    io = io or default_io()
    spark.conf.set("mapreduce.fileoutputcommitter.algorithm.version", "2")

    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism

    todo = input_df
    done = _done_docs(spark, io, output_path)
    if done is not None:
        todo = input_df.join(done, "doc_id", "left_anti")

    # Salted hash repartition: spreads skewed monster docs; `salt` varies
    # per deployment to dodge pathological co-location of hot doc_ids.
    def shuffle(df: DataFrame, *keys: str) -> DataFrame:
        return df.repartition(partitions, F.xxhash64(*keys, F.lit(salt)))

    processed = apply_op(todo, shuffle)
    processed = processed.select(
        *[c for c in processed.columns if c != "partition_id"],
        F.lit(run_id).alias("run_id"),
        "partition_id",
    )
    # Run totals ride the WRITE job via the Observation API (CollectMetrics
    # accumulators, retry-safe per committed task) — at 100 TB this saves
    # the separate read-back aggregation scan the totals used to cost.
    from pyspark.sql import Observation

    obs = Observation(f"stage-{run_id}")
    processed = processed.observe(
        obs,
        F.count(F.lit(1)).alias("docs"),
        *[F.coalesce(F.sum(c), F.lit(0)).alias(c) for c in lineage_sums],
    )
    io.append(processed, output_path)
    stage_totals = obs.get

    # Per-partition lineage summary (derived; output table remains the
    # source of truth — see module docstring).
    out = io.read(spark, output_path).where(F.col("run_id") == run_id)
    lineage = out.groupBy("run_id", "partition_id").agg(
        F.count("*").alias("docs"),
        *[F.sum(c).alias(c) for c in lineage_sums],
        (F.sum(us_col) / F.lit(1000)).cast("long").alias("wall_ms"),
    )
    io.append(lineage, output_path + STATE_SUFFIX)
    return out, stage_totals


def run_pipeline(
    spark: SparkSession,
    input_df: DataFrame,
    output_path: str,
    run_id: str,
    partitions: int | None = None,
    salt: int = 0,
    io: ParquetTableIO | None = None,
    monster_threshold: int = MONSTER_THRESHOLD,
) -> RunResult:
    """Process all not-yet-done docs from ``input_df`` into ``output_path``.

    Idempotent: rerunning after success is a no-op; rerunning after a
    mid-job kill processes only the missing docs.
    """
    # monsters (> monster_threshold spans) are split into bounded chunks
    # with halo pages (operators/chunked.py) so no single task carries a
    # 10^4-span row; every chunk and normal doc goes through one munge pass
    def apply_op(todo: DataFrame, shuffle) -> DataFrame:
        return munge_chunks(todo, spark, monster_threshold, CHUNK_PAGES, shuffle)

    _out, totals = _run_stage(
        spark,
        input_df,
        output_path,
        run_id,
        apply_op,
        ("pages", "tokens_total", "tokens_corrected"),
        "munge_us",
        partitions,
        salt,
        io,
    )
    return RunResult(
        run_id, totals["docs"], totals["pages"], totals["tokens_corrected"]
    )


@dataclass
class ExtractRunResult:
    run_id: str
    docs_processed: int
    html_blocks_kept: int
    pdf_lines_kept: int
    chars_out: int


def run_extract_pipeline(
    spark: SparkSession,
    input_df: DataFrame,
    output_path: str,
    run_id: str,
    partitions: int | None = None,
    salt: int = 0,
    io: ParquetTableIO | None = None,
) -> ExtractRunResult:
    """Main-content extraction (SPEC part II) under the same
    output-table-as-checkpoint / anti-join-resume / salted-repartition
    protocol as the munge cascade. Monster docs route through the
    span-level exploded path (extraction is span-local, so no halo is
    needed — see operators/extract.extract_exploded)."""
    from .operators.extract import extract_auto

    _out, totals = _run_stage(
        spark,
        input_df,
        output_path,
        run_id,
        lambda todo, shuffle: extract_auto(shuffle(todo, "doc_id"), spark).withColumn(
            "partition_id", F.spark_partition_id()
        ),
        ("html_blocks_kept", "pdf_lines_kept", "pdf_lines_dropped", "chars_out"),
        "extract_us",
        partitions,
        salt,
        io,
    )
    return ExtractRunResult(
        run_id,
        totals["docs"],
        totals["html_blocks_kept"],
        totals["pdf_lines_kept"],
        totals["chars_out"],
    )


def read_output(spark: SparkSession, output_path: str, io=None) -> DataFrame:
    """Final corrected table, deduped across task retries / overlapping runs."""
    io = io or default_io()
    df = io.read(spark, output_path)
    # Duplicates (same doc processed by a retried task) are byte-identical
    # payloads; keep exactly one row per doc.
    return df.dropDuplicates(["doc_id"])


def read_state(spark: SparkSession, output_path: str, io=None) -> DataFrame:
    io = io or default_io()
    return io.read(spark, output_path + STATE_SUFFIX)


def rebuild_state(spark: SparkSession, output_path: str, io=None) -> None:
    """Reconstruct the lineage table from the output table (disaster path)."""
    io = io or default_io()
    out = io.read(spark, output_path)
    lineage = out.groupBy("run_id", "partition_id").agg(
        F.count("*").alias("docs"),
        F.sum("pages").alias("pages"),
        F.sum("tokens_total").alias("tokens_total"),
        F.sum("tokens_corrected").alias("tokens_corrected"),
        (F.sum("munge_us") / F.lit(1000)).cast("long").alias("wall_ms"),
    )
    io.overwrite(lineage, output_path + STATE_SUFFIX)
