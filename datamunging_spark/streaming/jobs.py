"""Structured Streaming surface.

The north rule is batch-with-checkpointing (the reference is batch
scripts — SURVEY.md §2.2), but the engine exposes the streaming shapes a
continuous ingest of the same data would need:

- windowed aggregation with a watermark (late-data tolerant counts over
  the events stream);
- stateful sessionization via ``applyInPandasWithState`` (the custom
  stateful operator path);
- streaming munge ingest: ``foreachBatch`` feeding the SAME batch munge
  operator + append sink, so a continuously-arriving spans table is
  processed incrementally with exactly-once per micro-batch (checkpoint
  = Spark's streaming offsets + our output-table dedupe).

All jobs are testable offline: file source + ``availableNow`` trigger
drains the input deterministically.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream over a directory of events parquet files."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )


def windowed_event_counts(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour windows per event_type, 2-hour watermark for late
    rows; append-mode compatible (window closes when watermark passes)."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            F.round("total", 4).alias("total"),
        )
    )


def sliding_event_counts(events: DataFrame) -> DataFrame:
    """Hopping 6-hour windows sliding every 2 hours per event_type
    (streaming twin of queries.q_sliding_window_events), 2-hour
    watermark; append-mode compatible. Each event lands in size/hop = 3
    open windows — Spark's multi-assignment runs inside the stateful
    agg, and a window's state is evicted when the watermark passes its
    END, so peak state is 3x the tumbling job's (the scale note: state
    grows with size/hop, not with input rate)."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "6 hours", "2 hours").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            F.round("total", 4).alias("total"),
        )
    )


SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)
SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)

SESSION_GAP_S = 1800


def _sessionize(key, pdfs, state):
    """applyInPandasWithState fn: emit a session row when the 30-min gap
    timeout fires; otherwise fold the batch into state.

    Late-row contract (fuzz seed 20260821, two real bugs at one seed):
    Spark's BUILT-IN late filter for this operator lags — within one
    availableNow run it filters against the run-start watermark while
    the eviction watermark advances per batch — so a row hours older
    than the open session can still reach this function. Unhandled,
    that (a) walks last_us backwards past start_us (sessions with
    end < start) and (b) computes a gap timeout below the eviction
    watermark, where setTimeoutTimestamp throws
    INVALID_TIMEOUT_TIMESTAMP and kills the stream. So this function
    applies its OWN late filter against getCurrentWatermarkMs() — the
    per-batch eviction watermark, i.e. exactly the one-batch-lag
    watermark the driver simulation (tools/fuzz_streaming.py) models —
    making drop decisions deterministic per batch. Surviving
    out-of-order rows (>= watermark but older than state) MERGE into
    the open session: start_us = min, last_us = max, n += 1 — bounded
    (start, last, n) state cannot retro-split an interior gap, and the
    gap rule applies to the forward edge only. Sessions are therefore
    always well-formed (start <= end)."""
    import datetime

    def session_row(start_us, last_us, n):
        return pd.DataFrame(
            {
                "user_id": [user_id],
                "session_start": [datetime.datetime.utcfromtimestamp(start_us / 1e6)],
                "session_end": [datetime.datetime.utcfromtimestamp(last_us / 1e6)],
                "n_events": [n],
            }
        )

    (user_id,) = key
    if state.hasTimedOut:
        start_us, last_us, n = state.get
        state.remove()
        yield session_row(start_us, last_us, n)
        return
    wm_ms = state.getCurrentWatermarkMs()  # 0 before any watermark
    rows = pd.concat(list(pdfs))
    ts_us = (rows["ts"].astype("int64") // 1000).sort_values()
    ts_us = ts_us[ts_us >= wm_ms * 1000]
    if state.exists:
        start_us, last_us, n = state.get
    elif len(ts_us) == 0:
        return  # every row was late and there is no open session
    else:
        start_us, last_us, n = int(ts_us.iloc[0]), int(ts_us.iloc[0]), 0
    for t_us in ts_us:
        if t_us - last_us > SESSION_GAP_S * 1_000_000:
            yield session_row(start_us, last_us, n)
            start_us, last_us, n = int(t_us), int(t_us), 0
        else:
            start_us = min(start_us, int(t_us))
            last_us = max(last_us, int(t_us))
        n += 1
    timeout_ms = last_us // 1000 + SESSION_GAP_S * 1000
    if wm_ms > timeout_ms:
        # Reachable only when every batch row for an OPEN session was
        # dropped as late (surviving rows satisfy last >= row >= wm, so
        # timeout = last + gap > wm): the registered timer must be
        # re-set on every invocation, but re-registering an expired
        # timestamp throws INVALID_TIMEOUT_TIMESTAMP — the session is
        # over (any future surviving row has ts >= wm > last + gap and
        # starts a NEW session), so emit it now and drop the state.
        # Strict > keeps the timeout==watermark boundary on the timeout
        # path, matching the driver simulation's strict gap rule.
        state.remove()
        yield session_row(start_us, last_us, n)
        return
    state.update((start_us, last_us, n))
    state.setTimeoutTimestamp(timeout_ms)


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator: gap-based sessions per user."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )


def _drain(
    spark: SparkSession,
    schema,
    src_dir: str,
    max_files: int,
    process_batch,
    checkpoint_dir: str,
) -> None:
    """Feed every file under ``src_dir`` (a parquet file source of
    ``schema``, at most ``max_files`` per micro-batch) to
    ``process_batch(df, epoch_id)``, then return (``availableNow``). The
    checkpoint makes a rerun resume after the last committed batch."""
    (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(src_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _run_streaming_span_job(
    spark: SparkSession,
    op,
    spans_dir: str,
    output_path: str,
    checkpoint_dir: str,
) -> None:
    """Incremental span-pipeline ingest: each micro-batch of
    newly-arrived span documents goes through the SAME batch operator
    (munge or extract) and is appended to the same output table the
    batch pipeline uses. Spark's streaming checkpoint gives
    at-least-once per file; the output table's dedupe-on-read
    (pipeline.read_output) upgrades it to effectively exactly-once."""
    from ..operators.munge import INPUT_SCHEMA

    def process_batch(df: DataFrame, epoch_id: int) -> None:
        out = op(df, spark).withColumn("run_id", F.lit(f"stream-{epoch_id}"))
        out = out.withColumn("partition_id", F.spark_partition_id())
        out.write.mode("append").parquet(output_path)

    _drain(spark, INPUT_SCHEMA, spans_dir, 4, process_batch, checkpoint_dir)


def run_streaming_munge(
    spark: SparkSession,
    spans_dir: str,
    output_path: str,
    checkpoint_dir: str,
) -> None:
    from ..operators.munge import munge

    _run_streaming_span_job(spark, munge, spans_dir, output_path, checkpoint_dir)


def run_streaming_extract(
    spark: SparkSession,
    spans_dir: str,
    output_path: str,
    checkpoint_dir: str,
) -> None:
    """Incremental main-content extraction — the extract twin of
    run_streaming_munge (same checkpoint/append/dedupe-on-read
    protocol, html/pdf spans instead of OCR pages)."""
    from ..operators.extract import extract

    _run_streaming_span_job(spark, extract, spans_dir, output_path, checkpoint_dir)


def dedup_stream(events: DataFrame) -> DataFrame:
    """Streaming exact dedup: the streaming form of the batch
    ``dedup_exact`` training-data op. Rows are keyed by a content hash
    and deduped with ``dropDuplicatesWithinWatermark``, so the state
    store only retains keys until the 2-hour watermark passes — bounded
    memory regardless of stream length, which is the property that makes
    this viable on an unbounded 10^12-doc ingest (a plain
    ``dropDuplicates`` would grow state forever)."""
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    keyed = events.withColumn(
        "content_key",
        F.sha2(F.concat_ws("|", *[F.col(c).cast("string") for c in cols]), 256),
    )
    return keyed.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["content_key"]
    )


def correlate_streams(events: DataFrame) -> DataFrame:
    """Stream-stream inner join with an event-time range condition: each
    `view` joins the same user's `purchase` events landing within 30
    minutes AFTER it. Both sides carry a 1-hour watermark, so the join
    state for a view expires once the purchase-side watermark passes
    view_ts + 30min — bounded state on an unbounded stream, which is the
    whole trick (an un-watermarked stream-stream join buffers forever)."""
    views = (
        events.where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return views.join(
        purchases,
        F.expr(
            "v_user = p_user AND "
            "purchase_ts >= view_ts AND "
            "purchase_ts <= view_ts + interval 30 minutes"
        ),
    ).select(
        "v_user", "view_id", "view_ts", "purchase_ts", "purchase_value"
    )


def enrich_stream(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment: broadcast-join each micro-batch against
    a static dimension table (here: per-user segment labels). The static
    side is planned as a broadcast hash join inside every micro-batch —
    no state, no watermark needed (static side is immutable for the
    query's lifetime; swap-in of a refreshed dim is a query restart, or
    use foreachBatch + a re-read for slowly-changing dims)."""
    return events.join(F.broadcast(dim), "user_id").select(
        "event_id", "ts", "user_id", "event_type", "value", "segment"
    )


# ---------------------------------------------------------------------------
# End-to-end streaming curation (r4): the streaming twin of the batch
# curate_corpus quality+dedup stages, composed in ONE foreachBatch job.
# ---------------------------------------------------------------------------

DOCS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def run_streaming_curate(
    spark: SparkSession,
    docs_dir: str,
    output_path: str,
    checkpoint_dir: str,
) -> None:
    """Streaming corpus curation: each micro-batch of newly-landed
    documents is (1) quality-gated with the SAME thresholds the batch
    ``curate_corpus`` uses, (2) exact-deduped within the batch (keep
    min doc_id per sha2(text)), (3) anti-joined against everything
    already emitted — the output table IS the dedup state
    (output-as-checkpoint, the pipeline.py resumability pattern) — and
    appended. The file-source checkpoint gives at-least-once per input
    file; a crash between the append and the checkpoint commit can
    replay a batch, so ``read_curated`` dedupes on read — together:
    effectively exactly-once, restart-safe.

    Scale shape: the anti-join is keyed on a 64-hex sha2 — bounded
    width; at 10^12 docs the emitted-hash table lives in Iceberg,
    bucketed by hash prefix, and the anti-join prunes to matching
    buckets (or becomes a MERGE INTO). No Python, no unbounded state
    store — the dedup state is the durable output, not executor memory.
    """
    from ..functions.text import tokens_distinct
    from ..ml_ops import CURATE_MIN_DISTINCT_RATIO, CURATE_MIN_TOKENS
    from pyspark.sql.window import Window

    def process_batch(df: DataFrame, epoch_id: int) -> None:
        n_toks = F.size(F.split(F.col("text"), " "))
        # tokens_distinct (lowercased) — the SAME expression the batch
        # curate_corpus gate uses, so streaming and batch keep identical
        # verdicts on mixed-case docs
        gated = df.where(
            (n_toks >= CURATE_MIN_TOKENS)
            & (
                F.size(tokens_distinct(F.col("text"))) / n_toks
                >= CURATE_MIN_DISTINCT_RATIO
            )
        ).withColumn("h", F.sha2(F.col("text"), 256))
        first = Window.partitionBy("h").orderBy("doc_id")
        cand = (
            gated.withColumn("rn", F.row_number().over(first))
            .where(F.col("rn") == 1)
            .drop("rn")
        )
        seen = _read_output_or_none(spark, output_path)
        if seen is not None:
            cand = cand.join(seen.select("h"), "h", "left_anti")
        (
            cand.withColumn("batch_id", F.lit(epoch_id))
            .write.mode("append")
            .parquet(output_path)
        )

    _drain(spark, DOCS_SCHEMA, docs_dir, 2, process_batch, checkpoint_dir)


def _read_output_or_none(spark: SparkSession, output_path: str):
    """Read an output-as-checkpoint table, or None if no batch has
    written yet. ONLY the missing-path error may be swallowed — any
    other read failure must surface, or duplicates would silently land
    (shared by every output-as-checkpoint job; the guard used to be
    copy-pasted per job and had already started to drift)."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(output_path)
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" not in msg and "Path does not exist" not in msg:
            raise
        return None


def _dedupe_on_read(df: DataFrame, key_cols: list, order_cols: list) -> DataFrame:
    """Keep the first row per key in order_cols order — the replay
    safety net for output-as-checkpoint appends."""
    from pyspark.sql.window import Window

    first = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("rn", F.row_number().over(first))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Streaming embedding near-dup (r5): the streaming twin of the
# embedding-space dedup family (builder handoff "streaming semantic
# dedup").
# ---------------------------------------------------------------------------

EMB_SCHEMA = "vec_id bigint, embedding array<float>, label int"
EMB_DEDUP_THRESHOLD = 0.92


def run_streaming_embedding_dedup(
    spark: SparkSession,
    emb_dir: str,
    output_path: str,
    checkpoint_dir: str,
    threshold: float = EMB_DEDUP_THRESHOLD,
) -> None:
    """Streaming embedding near-dup: each micro-batch of newly-landed
    vectors is bucketed by the SAME stateless hyperplane LSH cells the
    batch embedding near-dup uses (a streaming job must not refit
    centroids mid-stream; a frozen k-means centroid table is a drop-in
    for the bucket expression), then greedily deduped in vec_id order
    against (a) this batch's earlier keepers and (b) every
    already-emitted representative of the same bucket — the output
    table IS the dedup state (output-as-checkpoint, the
    run_streaming_curate pattern). A vector is dropped iff cosine >=
    threshold against any earlier keeper in its bucket; recall across
    bucket boundaries is probabilistic by design (multi-probe raises
    it), but the KEEP RULE itself is exact and deterministic, which is
    what the differential tests check.

    Scale shape: bucketing is a codegen projection; the per-bucket
    greedy runs as ONE applyInPandas call over (batch rows + that
    bucket's emitted reps) — the same custom-operator escape hatch as
    pack_shards_bfd, with a numpy G.G^T per group. The rep re-read is
    pruned to the buckets present in the batch (at 10^9 vectors the
    output lives bucket-partitioned, so this is partition pruning).
    Restart-safe: file-source checkpoint + dedupe-on-read by vec_id.
    """
    import numpy as np

    from ..functions.vectors import hyperplane_bucket
    from ..ml_ops import HYPERPLANES

    out_schema = (
        "vec_id long, bucket int, embedding array<float>, batch_id long"
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        """Greedy keep in (is_rep DESC, vec_id) order: reps (earlier
        batches) are always earlier than this batch's rows."""
        pdf = pdf.sort_values(["is_rep", "vec_id"],
                              ascending=[False, True])
        mat = np.array([np.asarray(v, dtype=np.float64)
                        for v in pdf["embedding"]])
        norms = np.sqrt((mat * mat).sum(axis=1))
        kept_idx: list[int] = []
        out_rows: list[int] = []
        for i in range(len(pdf)):
            if pdf["is_rep"].iloc[i]:
                kept_idx.append(i)
                continue
            dup = False
            if kept_idx and norms[i] > 0:
                sims = mat[kept_idx] @ mat[i]
                kn = norms[kept_idx]
                ok = kn > 0
                if ok.any() and (
                    sims[ok] / (kn[ok] * norms[i]) >= threshold
                ).any():
                    dup = True
            if not dup:
                kept_idx.append(i)
                out_rows.append(i)
        keep = pdf.iloc[out_rows]
        return pd.DataFrame(
            {
                "vec_id": keep["vec_id"].astype("int64"),
                "bucket": keep["bucket"].astype("int32"),
                "embedding": keep["embedding"],
                "batch_id": keep["batch_id"].astype("int64"),
            }
        )

    def process_batch(df: DataFrame, epoch_id: int) -> None:
        batch = df.withColumn(
            "bucket", hyperplane_bucket(F.col("embedding"), HYPERPLANES)
        ).select(
            "vec_id", "bucket", "embedding",
            F.lit(int(epoch_id)).alias("batch_id"),
            F.lit(False).alias("is_rep"),
        )
        reps = _read_output_or_none(spark, output_path)
        if reps is not None:
            # prune the rep re-read to buckets present in this batch
            bks = [r.bucket for r in batch.select("bucket").distinct().collect()]
            reps = reps.where(F.col("bucket").isin(bks)).select(
                "vec_id", "bucket", "embedding",
                F.col("batch_id"), F.lit(True).alias("is_rep"),
            )
            batch = batch.unionByName(reps)
        (
            batch.groupBy("bucket")
            .applyInPandas(greedy, out_schema)
            .write.mode("append")
            .parquet(output_path)
        )

    _drain(spark, EMB_SCHEMA, emb_dir, 1, process_batch, checkpoint_dir)


def read_embedding_deduped(spark: SparkSession, output_path: str) -> DataFrame:
    """Dedupe-on-read (replayed-batch safety): min batch_id per vec_id."""
    return _dedupe_on_read(
        spark.read.parquet(output_path), ["vec_id"], ["batch_id"]
    )


def read_curated(spark: SparkSession, output_path: str) -> DataFrame:
    """Dedupe-on-read for the streaming curation output: a replayed
    batch (crash between append and checkpoint commit) appends the same
    rows twice; keep min (doc_id, batch_id) per content hash — the
    deterministic representative regardless of replay or arrival
    interleaving."""
    return _dedupe_on_read(
        spark.read.parquet(output_path), ["h"], ["doc_id", "batch_id"]
    )


# ---------------------------------------------------------------------------
# Streaming funnel: the incremental twin of queries.funnel_events, with
# EXACT late/out-of-order handling. A late stage-1 event can
# retroactively change a user's whole funnel (it resets t1, which gates
# t2, which gates t3), so flag state alone is NOT a sufficient
# statistic — the job keeps the per-user STAGE-EVENT history (stage
# events only: a bounded fraction of the firehose) as an
# output-as-checkpoint table and recomputes flags ONLY for users
# touched by the micro-batch, through the SAME funnel_user_flags
# expressions the batch query uses. Scale shape per batch: one
# semi-join of history against the batch's distinct users (broadcast —
# batch-sized), one window pass over those users' events, two appends.
# The triangle is derived on read from the latest flags per user, so a
# replayed batch (crash between append and checkpoint commit) is
# neutralized by dedupe-on-read: stage events by event_id, flags by
# (user, latest batch).
# ---------------------------------------------------------------------------

FUNNEL_EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string"
)


def run_streaming_funnel(
    spark: SparkSession,
    events_dir: str,
    output_path: str,
    checkpoint_dir: str,
) -> None:
    from ..queries import FUNNEL_STAGES, funnel_user_flags

    state_dir = f"{output_path}/stage_events"
    flags_dir = f"{output_path}/flags"

    def process_batch(df: DataFrame, epoch_id: int) -> None:
        new = df.where(F.col("event_type").isin(FUNNEL_STAGES)).select(
            "user_id", "event_id", "ts", "event_type"
        )
        touched = new.select("user_id").distinct()
        prior = _read_output_or_none(spark, state_dir)
        hist = new
        if prior is not None:
            hist = (
                prior.select("user_id", "event_id", "ts", "event_type")
                .join(F.broadcast(touched), "user_id", "left_semi")
                .unionByName(new)
            )
        # replay safety: the same input file can re-deliver after a
        # crash; event_id is the idempotency key
        hist = _dedupe_on_read(hist, ["event_id"], [F.col("ts")])
        flags = funnel_user_flags(hist).withColumn("batch_id", F.lit(epoch_id))
        new.withColumn("batch_id", F.lit(epoch_id)).write.mode("append").parquet(
            state_dir
        )
        flags.write.mode("append").parquet(flags_dir)

    _drain(spark, FUNNEL_EVENTS_SCHEMA, events_dir, 2, process_batch,
           checkpoint_dir)


def read_funnel(spark: SparkSession, output_path: str) -> DataFrame:
    """The streaming funnel's current triangle: latest flags per user
    (a replayed flags append is identical, so any latest row is the
    right one), fed through the SAME presentation half as the batch
    query."""
    from ..queries import funnel_triangle

    raw = _read_output_or_none(spark, f"{output_path}/flags")
    if raw is None:
        # no stage-relevant user yet: zero completions, not an error
        raw = spark.createDataFrame(
            [], "user_id long, r1 int, r2 int, r3 int, batch_id long"
        )
    flags = _dedupe_on_read(raw, ["user_id"], [F.col("batch_id").desc()])
    return funnel_triangle(flags.select("user_id", "r1", "r2", "r3"))


# ---------------------------------------------------------------------------
# Streaming semantic decontamination (third-resume batch): the streaming
# twin of the batch decontaminate_semantic.
# ---------------------------------------------------------------------------


def run_streaming_semantic_decon(
    spark: SparkSession,
    emb_dir: str,
    eval_src_dir: str,
    output_path: str,
    checkpoint_dir: str,
) -> None:
    """Streaming decontamination: the quantized benchmark matrix is
    FROZEN at job start from the static eval source (a production
    stream must not grow its benchmark mid-flight — a new benchmark
    release is a new job; the frozen-centroid argument of
    run_streaming_embedding_dedup), then every micro-batch of newly
    landed vectors is scored with the EXACT integer max-cos contract of
    the batch op — the scorer function is shared verbatim
    (ml_ops._sdecon_score), so streaming and batch verdicts are
    bit-identical per vector. Decontamination is stateless across
    batches (each vector's verdict depends only on itself and the
    frozen benchmark), so the union of batch outputs IS the batch
    answer — the differential test checks row-for-row equality, not a
    simulation. Restart-safe: file-source checkpoint gives
    at-least-once per input file; dedupe-on-read by vec_id (min
    batch_id) absorbs a replayed batch.

    Scale shape per batch: one Arrow int64-matmul pass + a broadcast
    norms join — no shuffle keyed on the corpus, no state store; the
    benchmark matrix re-broadcasts per job start, not per batch.
    """
    from ..ml_ops import (
        _sdecon_eval_from_df,
        _sdecon_quantize_train,
        _sdecon_score,
    )

    eval_rows = _sdecon_eval_from_df(
        spark.read.schema(EMB_SCHEMA).parquet(eval_src_dir)
    ).collect()

    def process_batch(df: DataFrame, epoch_id: int) -> None:
        scored = _sdecon_score(_sdecon_quantize_train(df), eval_rows)
        (
            scored.withColumn("batch_id", F.lit(int(epoch_id)))
            .write.mode("append")
            .parquet(output_path)
        )

    _drain(spark, EMB_SCHEMA, emb_dir, 1, process_batch, checkpoint_dir)


def read_semantic_decon(spark: SparkSession, output_path: str) -> DataFrame:
    """Dedupe-on-read (replayed-batch safety): min batch_id per vec_id."""
    return _dedupe_on_read(
        spark.read.parquet(output_path), ["vec_id"], ["batch_id"]
    )


# ---------------------------------------------------------------------------
# Streaming CUSUM drift monitor (resumed r5) — the sequential-drift twin:
# the batch cusum_changepoint aggregates the whole corpus per run; a
# monitor wants the statistic maintained INCREMENTALLY as events land.
# ---------------------------------------------------------------------------


def run_streaming_cusum(
    spark: SparkSession,
    events_dir: str,
    output_path: str,
    checkpoint_dir: str,
) -> None:
    """Streaming drift monitor: each micro-batch of newly-landed events
    is collapsed to (event_type, day, cnt) partials and appended to a
    daily-count state table keyed by (epoch, event_type, day); the full
    CUSUM table is then re-scored from that state with the EXACT batch
    scorer (``ml_ops.cusum_from_daily`` — shared code, not a copy) and
    published atomically as a new version (``publish_cusum``). The
    file-source checkpoint gives at-least-once per input file; a crash
    between the append and the checkpoint commit replays a batch with
    IDENTICAL partial rows, so the re-score dedupes by (epoch,
    event_type, day) — max of identical counts — before summing:
    effectively exactly-once.

    Scale shape: the per-batch work is one map-side-combinable groupBy
    of the micro-batch plus a re-score over the DAILY table (types x
    days rows — thousands, not events); at 10^12 events the state
    table lives in Iceberg partitioned by day and the re-score reads
    only the per-type daily rollup. No Python, no executor-memory
    state — the durable state IS the partials table (the
    output-as-checkpoint pattern of run_streaming_curate).
    """
    partials_path = f"{output_path}/daily_partials"

    def process_batch(df: DataFrame, epoch_id: int) -> None:
        partial = (
            df.where(F.col("ts").isNotNull()
                     & F.col("event_type").isNotNull())
            .groupBy(
                "event_type",
                F.date_format("ts", "yyyy-MM-dd").alias("day"),
            )
            .agg(F.count("*").cast("long").alias("cnt"))
            .withColumn("epoch", F.lit(epoch_id).cast("long"))
        )
        partial.write.mode("append").parquet(partials_path)
        publish_cusum(spark, output_path, epoch_id)

    _drain(spark, EVENTS_SCHEMA, events_dir, 2, process_batch, checkpoint_dir)


def publish_cusum(spark: SparkSession, output_path: str, epoch_id: int) -> None:
    """Re-score the CUSUM table from the daily partials and publish it
    as ``cusum/v=<epoch_id>``. The version becomes visible to
    ``read_cusum`` only once its ``_SUCCESS`` marker lands, so a reader
    never sees a half-written table: until then it reads the previous
    version, which is kept. Older versions are then removed."""
    from ..ml_ops import cusum_from_daily

    daily = _daily_from_partials(spark, f"{output_path}/daily_partials")
    cusum_from_daily(daily).write.mode("overwrite").parquet(
        f"{output_path}/cusum/v={epoch_id}"
    )
    fs, versions = _cusum_versions(spark, output_path)
    older = [p for v, p in versions if v < epoch_id]
    for p in older[:-1]:
        fs.delete(p, True)


def _cusum_versions(spark: SparkSession, output_path: str):
    """The Hadoop FileSystem of ``cusum/`` and its ``(v, Path)`` version
    directories in ascending ``v``."""
    jvm = spark.sparkContext._jvm
    root = jvm.org.apache.hadoop.fs.Path(f"{output_path}/cusum")
    fs = root.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return fs, []
    versions = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("v=") and name[2:].isdigit():
            versions.append((int(name[2:]), st.getPath()))
    return fs, sorted(versions, key=lambda vp: vp[0])


def _daily_from_partials(spark: SparkSession, partials_path: str) -> DataFrame:
    """Replay-safe daily counts: a replayed epoch appends byte-identical
    partial rows, so max() over the (epoch, type, day) key collapses
    them before the cross-epoch sum."""
    partials = spark.read.parquet(partials_path)
    return (
        partials.groupBy("epoch", "event_type", "day")
        .agg(F.max("cnt").alias("cnt"))
        .groupBy("event_type", "day")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def read_cusum(spark: SparkSession, output_path: str) -> DataFrame:
    """The current drift table: the highest published version that has
    its ``_SUCCESS`` marker."""
    fs, versions = _cusum_versions(spark, output_path)
    jvm = spark.sparkContext._jvm
    for _, p in reversed(versions):
        if fs.exists(jvm.org.apache.hadoop.fs.Path(p, "_SUCCESS")):
            return spark.read.parquet(p.toString())
    raise FileNotFoundError(f"no published CUSUM table under {output_path}/cusum")
