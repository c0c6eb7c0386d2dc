"""Structured Streaming: windowed agg with watermark, stateful
sessionization, and the incremental munge ingest — all driven offline
with file sources + availableNow."""

from __future__ import annotations

import shutil

import pytest

from pyspark.sql import functions as F

from datamunging_spark.generator import corpus_to_rows, generate_corpus
from datamunging_spark.operators.munge import INPUT_SCHEMA
from datamunging_spark.pipeline import read_output, run_pipeline
from datamunging_spark.streaming.jobs import (
    EVENTS_SCHEMA,
    read_events_stream,
    run_streaming_munge,
    sessionize_stream,
    windowed_event_counts,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Split the events table into several files so the file source has
    multiple micro-batches to trigger on."""
    out = str(tmp_path_factory.mktemp("stream") / "events")
    # chronological ARRIVAL: the file source orders micro-batches by file
    # modification time, so write each time-quartile sequentially and
    # force increasing mtimes — otherwise the watermark may advance past
    # windows whose rows haven't arrived (correct streaming semantics,
    # wrong fixture).
    import glob
    import os
    import time as _time

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = ev.withColumn("_us", F.unix_micros(F.col("ts").cast("timestamp")))
    bounds_us = ev.approxQuantile("_us", [0.25, 0.5, 0.75], 0.0)
    bounds = [int(b) for b in bounds_us]
    base = _time.time() - 1000
    lo = None
    seen: set[str] = set()
    for i, hi in enumerate([*bounds, None]):
        part = ev
        if lo is not None:
            part = part.where(F.col("_us") > lo)
        if hi is not None:
            part = part.where(F.col("_us") <= hi)
        part.drop("_us").coalesce(1).write.mode("append").parquet(out)
        new = set(glob.glob(f"{out}/part-*.parquet")) - seen
        for f in new:
            os.utime(f, (base + i * 10, base + i * 10))
        seen |= new
        lo = hi
    return out


def _drain(df, name, mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def test_windowed_counts_match_batch(spark, sf_dir, events_dir):
    stream = read_events_stream(spark, events_dir)
    _drain(windowed_event_counts(stream), "win_counts")
    got = spark.sql("SELECT * FROM win_counts")

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = (
        batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            F.round("total", 4).alias("total"),
        )
    )
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    # availableNow + watermark: every window the stream emitted must be
    # correct, and all but the trailing (still-open) windows must appear.
    assert g <= w
    assert len(g) >= len(w) - 8 * len(
        batch.select("event_type").distinct().collect()
    )


def test_late_data_dropped_matches_batch_emulation(spark, tmp_path_factory):
    """Watermark-eviction equivalence: an event arriving AFTER the
    watermark has passed its window must be dropped by the stream, and
    the stream's closed-window output must equal a batch aggregation
    over the on-time events restricted to closed windows — dropping the
    late row in both worlds yields the same table.

    Arrival script (mtime-ordered files, maxFilesPerTrigger=1):
    batch 0 carries windows h0 (3 rows) / h1 (2 rows) plus a 10:00 row
    that advances the 2-hour watermark to 08:00; batch 1 delivers an
    11:30 row (watermark → 09:30, h0/h1 emitted + state evicted); batch
    2 then delivers the LATE 00:40 row, which the watermark filter
    drops (asserted via numRowsDroppedByWatermark). Emitted set =
    {h0 n=3, h1 n=2}: the late row increments nothing, h10/h11 stay
    open (end > final watermark 09:30). NOTE the late row must arrive
    ≥2 batches after its window's data: Spark filters batch N's input
    with the watermark computed before batch N-1 (one-batch lag), so a
    row arriving in the very batch that first carries a
    window-expiring watermark still merges before eviction."""
    import datetime as dt
    import glob
    import os
    import time as _time

    out = str(tmp_path_factory.mktemp("late") / "events")
    day = dt.datetime(2024, 1, 1)

    def ev(i, h, m):
        return (i, day + dt.timedelta(hours=h, minutes=m), 1, "e", 1.0, "{}")

    file1 = [ev(1, 0, 10), ev(2, 0, 20), ev(3, 0, 30),
             ev(4, 1, 15), ev(5, 1, 30), ev(6, 10, 0)]
    file2 = [ev(8, 11, 30)]
    file3 = [ev(7, 0, 40)]  # the late arrival
    base = _time.time() - 1000
    seen: set[str] = set()
    for i, rows in enumerate([file1, file2, file3]):
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(out)
        new = set(glob.glob(f"{out}/part-*.parquet")) - seen
        for f in new:
            os.utime(f, (base + i * 10, base + i * 10))
        seen |= new

    stream = read_events_stream(spark, out)
    q = _drain(windowed_event_counts(stream), "late_win")
    dropped = sum(
        so["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        for so in p["stateOperators"]
    )
    assert dropped == 1  # the eviction actually fired
    got = {tuple(r) for r in spark.sql("SELECT * FROM late_win").collect()}

    final_wm = day + dt.timedelta(hours=9, minutes=30)  # 11:30 − 2h
    batch = spark.createDataFrame(file1 + file2, EVENTS_SCHEMA)
    on_time = batch.where(F.col("event_id") != 7)
    want = {
        tuple(r)
        for r in (
            on_time.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
            .where(F.col("w.end") <= F.lit(final_wm))
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n",
                F.round("total", 4).alias("total"),
            )
        ).collect()
    }
    assert got == want
    assert len(got) == 2
    assert (day, "e", 3, 3.0) in got  # late row did NOT become n=4


def test_sessionize_stream_emits_valid_sessions(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    _drain(sessionize_stream(stream), "sessions")
    rows = spark.sql("SELECT * FROM sessions").collect()
    assert len(rows) > 0
    for r in rows:
        assert r.session_end >= r.session_start
        assert r.n_events >= 1


def _drive_sessionize(spark, base, waves):
    """Write each wave as one mtime-ordered parquet file (one micro-batch
    each under maxFilesPerTrigger=1), drain with availableNow, and return
    the emitted session set as (user, start, end, n)."""
    import glob
    import os
    import time as _time

    events_dir, out, ckpt = (
        str(base / "ev"), str(base / "out"), str(base / "ckpt")
    )
    now = _time.time() - 100
    for i, rows in enumerate(waves):
        df = spark.createDataFrame(
            [(e, ts, u, "view", 0.0, "{}")
             for e, (ts, u) in enumerate(rows, start=i * 100)],
            schema=EVENTS_SCHEMA,
        )
        before = set(glob.glob(f"{events_dir}/part-*.parquet"))
        df.coalesce(1).write.mode("append").parquet(events_dir)
        for f in set(glob.glob(f"{events_dir}/part-*.parquet")) - before:
            os.utime(f, (now + i * 10, now + i * 10))
    q = (
        sessionize_stream(read_events_stream(spark, events_dir))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(out).collect()
    }


def test_sessionize_drops_row_behind_eviction_watermark(
    spark, tmp_path_factory
):
    """Regression (fuzz seed 20260821): Spark's BUILT-IN late filter for
    applyInPandasWithState lags within an availableNow run (it holds the
    run-start watermark) while the per-batch eviction watermark advances
    one batch behind the data — so a row hours past the watermark horizon
    still reaches the state fn. Unhandled, its gap timeout lands below
    the eviction watermark and setTimeoutTimestamp aborts the stream
    (INVALID_TIMEOUT_TIMESTAMP). The engine's own in-function filter
    must drop it against getCurrentWatermarkMs().

    batch 0: u9 @ 100s    -> eviction wm for batch 1 = 0
    batch 1: u9 @ 40000s  -> gap-splits (100,100,1); wm for batch 2 = 32800
    batch 2: u1 @ 10000s  -> builtin filter (run-start wm 0) passes it,
             10000 < 32800 so the engine must drop it (pre-fix: crash,
             then one intermediate build emitted a (10000,10000,1)
             ghost session for it).
    Final wm 32800 < u9's open timeout 41800 -> only one emission."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    got = _drive_sessionize(
        spark,
        tmp_path_factory.mktemp("sess_late"),
        [[(at(100), 9)], [(at(40000), 9)], [(at(10000), 1)]],
    )
    assert got == {(9, at(100), at(100), 1)}


def test_sessionize_merges_out_of_order_survivor(spark, tmp_path_factory):
    """An out-of-order row that is NOT late (>= the eviction watermark,
    older than the open session's last event) must MERGE into the open
    session — start = min, end = max — never walk the session end
    backwards past its start (the second seed-20260821 bug: emitted
    sessions with end < start).

    batch 0: u1 @ 10000s, u9 @ 10000s   -> eviction wm for batch 1 = 2800
    batch 1: u1 @ 9000s (out-of-order survivor: 9000 >= 2800),
             u9 @ 50000s (gap-splits u9; drives the final wm to 42800)
    Final wm 42800 fires u1's timeout (11800): the merged session must
    be (9000, 10000, n=2) with start <= end."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    got = _drive_sessionize(
        spark,
        tmp_path_factory.mktemp("sess_ooo"),
        [
            [(at(10000), 1), (at(10000), 9)],
            [(at(9000), 1), (at(50000), 9)],
        ],
    )
    assert got == {
        (1, at(9000), at(10000), 2),
        (9, at(10000), at(10000), 1),
    }


def test_streaming_munge_matches_batch_pipeline(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("smunge")
    spans_dir = str(base / "spans")
    out_stream = str(base / "out_stream")
    out_batch = str(base / "out_batch")
    ckpt = str(base / "ckpt")

    docs = generate_corpus(seed=11, n_docs=12, body_lines=(6, 10))
    df = spark.createDataFrame(corpus_to_rows(docs), schema=INPUT_SCHEMA)
    df.repartition(6).write.parquet(spans_dir)

    run_streaming_munge(spark, spans_dir, out_stream, ckpt)
    run_pipeline(spark, df, out_batch, run_id="b", partitions=6)

    got = {
        r.doc_id: [tuple(s) for s in r.spans]
        for r in read_output(spark, out_stream).collect()
    }
    want = {
        r.doc_id: [tuple(s) for s in r.spans]
        for r in read_output(spark, out_batch).collect()
    }
    assert got == want

    # restart with same checkpoint: no new files -> no duplicates
    run_streaming_munge(spark, spans_dir, out_stream, ckpt)
    raw = spark.read.parquet(out_stream)
    assert raw.count() == raw.select("doc_id").distinct().count()
    shutil.rmtree(ckpt, ignore_errors=True)


@pytest.fixture(scope="module")
def doubled_events_dir(spark, sf_dir, tmp_path_factory):
    """Events written TWICE into each file: every row has exactly one
    duplicate arriving in the same micro-batch."""
    out = str(tmp_path_factory.mktemp("stream_dup") / "events")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.unionAll(ev).coalesce(1).write.mode("overwrite").parquet(out)
    return out


def test_dedup_stream_removes_duplicates(spark, sf_dir, doubled_events_dir):
    from datamunging_spark.streaming.jobs import dedup_stream

    stream = read_events_stream(spark, doubled_events_dir)
    q = _drain(dedup_stream(stream), "dedup_stream_t")
    got = spark.sql("SELECT event_id FROM dedup_stream_t")
    n_orig = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert got.count() == n_orig  # every duplicate dropped, no original lost
    assert got.distinct().count() == n_orig
    q.stop()


def test_stream_stream_join_matches_batch(spark, sf_dir, events_dir):
    from datamunging_spark.streaming.jobs import correlate_streams

    stream = read_events_stream(spark, events_dir)
    q = _drain(correlate_streams(stream), "ss_join_t")
    got = spark.sql("SELECT v_user, view_id, purchase_ts FROM ss_join_t")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = correlate_streams(ev)  # same logic, batch semantics
    assert got.count() == want.count() > 0
    assert got.exceptAll(
        want.select("v_user", "view_id", "purchase_ts")
    ).count() == 0
    q.stop()


def test_stream_static_enrichment_matches_batch(spark, sf_dir, events_dir):
    from datamunging_spark.streaming.jobs import enrich_stream

    dim = spark.range(0, 200).select(
        F.col("id").alias("user_id"),
        F.when(F.col("id") % 3 == 0, "a").otherwise("b").alias("segment"),
    )
    stream = read_events_stream(spark, events_dir)
    q = _drain(enrich_stream(stream, dim), "enrich_t")
    got = spark.table("enrich_t")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = enrich_stream(ev, dim)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    q.stop()


def test_streaming_extract_matches_batch(spark, tmp_path_factory):
    from datamunging_spark.generator_web import generate_web_corpus
    from datamunging_spark.operators.extract import extract
    from datamunging_spark.streaming.jobs import run_streaming_extract

    base = tmp_path_factory.mktemp("sextract")
    spans_dir = str(base / "spans")
    out_stream = str(base / "out_stream")
    ckpt = str(base / "ckpt")

    docs = generate_web_corpus(seed=13, n_docs=12)
    df = spark.createDataFrame(corpus_to_rows(docs), schema=INPUT_SCHEMA)
    df.repartition(6).write.parquet(spans_dir)

    run_streaming_extract(spark, spans_dir, out_stream, ckpt)
    got = {
        r.doc_id: [tuple(s) for s in r.spans]
        for r in read_output(spark, out_stream).collect()
    }
    want = {
        r.doc_id: [tuple(s) for s in r.spans]
        for r in extract(df, spark).collect()
    }
    assert got == want and len(got) == 12
    shutil.rmtree(ckpt, ignore_errors=True)


def test_streaming_curate_matches_batch(spark, sf_dir, tmp_path_factory):
    """End-to-end streaming curation (quality gate + cross-batch exact
    dedup in one foreachBatch job) equals the batch computation on the
    same corpus — including across a mid-stream restart and a simulated
    replayed batch (crash between append and checkpoint commit)."""
    from pyspark.sql.window import Window as W

    from datamunging_spark.ml_ops import (
        CURATE_MIN_DISTINCT_RATIO,
        CURATE_MIN_TOKENS,
    )
    from datamunging_spark.streaming.jobs import (
        read_curated,
        run_streaming_curate,
    )

    base = tmp_path_factory.mktemp("scurate")
    docs_dir = str(base / "docs")
    out = str(base / "out")
    ckpt = str(base / "ckpt")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # inject duplicates that arrive LATER (higher doc_id => later file):
    # keep-first must drop every one of them
    dupes = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    full = docs.unionByName(dupes)
    # files partitioned BY ARRIVAL ORDER (doc_id ranges): batch
    # keep-min-doc_id == streaming keep-first-arrival
    lo = full.where(F.col("doc_id") < 30).coalesce(1)
    mid = full.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 100000))
    hi = full.where(F.col("doc_id") >= 100000).coalesce(1)

    # phase 1: first tranche only
    lo.write.parquet(docs_dir)
    run_streaming_curate(spark, docs_dir, out, ckpt)
    n_phase1 = spark.read.parquet(out).count()
    assert n_phase1 > 0

    # phase 2: rest lands; SAME checkpoint resumes without reprocessing
    mid.coalesce(1).write.mode("append").parquet(docs_dir)
    hi.write.mode("append").parquet(docs_dir)
    run_streaming_curate(spark, docs_dir, out, ckpt)

    # simulated replay: re-append one emitted batch verbatim
    replay = spark.read.parquet(out).where(F.col("batch_id") == 0)
    replay.write.mode("append").parquet(out)

    got = read_curated(spark, out)
    # batch twin: same gate, keep min doc_id per content hash
    toks = F.split(F.col("text"), " ")
    gated = full.where(
        (F.size(toks) >= CURATE_MIN_TOKENS)
        & (F.size(F.array_distinct(toks)) / F.size(toks)
           >= CURATE_MIN_DISTINCT_RATIO)
    ).withColumn("h", F.sha2(F.col("text"), 256))
    first = W.partitionBy("h").orderBy("doc_id")
    want = (
        gated.withColumn("rn", F.row_number().over(first))
        .where(F.col("rn") == 1)
    )

    got_ids = {r.doc_id for r in got.select("doc_id").collect()}
    want_ids = {r.doc_id for r in want.select("doc_id").collect()}
    assert got_ids == want_ids
    # every late-arriving duplicate was dropped
    assert not any(i >= 100000 for i in got_ids)
    # replayed rows are invisible through read_curated
    assert got.count() == len(got_ids)
    shutil.rmtree(ckpt, ignore_errors=True)


def test_streaming_embedding_dedup_matches_simulation(spark, sf_dir, tmp_path_factory):
    """Streaming embedding near-dup (r5): greedy keep-first per
    hyperplane bucket, cross-batch state = the output table. Checked
    against a driver-side numpy simulation replaying the exact same
    file-arrival order — including across a mid-stream restart and a
    replayed batch."""
    import glob
    import os
    import time as _time

    import numpy as np

    from datamunging_spark.functions.vectors import hyperplane_bucket
    from datamunging_spark.ml_ops import HYPERPLANES
    from datamunging_spark.streaming.jobs import (
        EMB_DEDUP_THRESHOLD,
        read_embedding_deduped,
        run_streaming_embedding_dedup,
    )

    base = tmp_path_factory.mktemp("sembdedup")
    emb_dir = str(base / "emb")
    out = str(base / "out")
    ckpt = str(base / "ckpt")

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # inject near-duplicates that arrive LATER (perturbed copies of every
    # 5th vector, +100000 ids): the stream must drop them against the
    # originals already emitted in earlier batches
    pert = emb.where(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x: (x * 1.001 + F.lit(0.0001)).cast("float"),
        ).alias("embedding"),
        F.col("label"),
    )
    rows = emb.unionByName(pert).orderBy("vec_id").collect()
    cut1, cut2 = len(rows) // 3, 2 * len(rows) // 3
    waves = [rows[:cut1], rows[cut1:cut2], rows[cut2:]]
    base_mt = _time.time() - 1000
    for i, w in enumerate(waves[:2]):
        df = spark.createDataFrame(w, emb.schema)
        before = set(glob.glob(f"{emb_dir}/part-*.parquet"))
        df.coalesce(1).write.mode("append").parquet(emb_dir)
        for f in set(glob.glob(f"{emb_dir}/part-*.parquet")) - before:
            os.utime(f, (base_mt + i * 10, base_mt + i * 10))
    run_streaming_embedding_dedup(spark, emb_dir, out, ckpt)

    df = spark.createDataFrame(waves[2], emb.schema)
    before = set(glob.glob(f"{emb_dir}/part-*.parquet"))
    df.coalesce(1).write.mode("append").parquet(emb_dir)
    for f in set(glob.glob(f"{emb_dir}/part-*.parquet")) - before:
        os.utime(f, (base_mt + 20, base_mt + 20))
    run_streaming_embedding_dedup(spark, emb_dir, out, ckpt)  # restart

    # simulated replay: re-append one emitted batch verbatim
    replay = spark.read.parquet(out).where(F.col("batch_id") == 0)
    replay.write.mode("append").parquet(out)

    got = {r.vec_id for r in read_embedding_deduped(spark, out).collect()}
    n_raw = spark.read.parquet(out).count()

    # driver simulation: same buckets (computed by the SAME Spark
    # expression), same greedy order (batch by arrival wave, vec_id
    # within), same cosine rule
    bk = {
        r.vec_id: r.bucket
        for r in spark.createDataFrame(rows, emb.schema)
        .withColumn("bucket", hyperplane_bucket(F.col("embedding"), HYPERPLANES))
        .collect()
    }
    kept: dict[int, list[tuple[int, np.ndarray, float]]] = {}
    want = set()
    for wave in waves:
        for r in sorted(wave, key=lambda r: r.vec_id):
            v = np.asarray(r.embedding, dtype=np.float64)
            nv = float(np.sqrt(v @ v))
            b = bk[r.vec_id]
            dup = False
            if nv > 0:
                for _, kv, kn in kept.get(b, ()):
                    if kn > 0 and float(kv @ v) / (kn * nv) >= EMB_DEDUP_THRESHOLD:
                        dup = True
                        break
            if not dup:
                kept.setdefault(b, []).append((r.vec_id, v, nv))
                want.add(r.vec_id)
    assert got == want
    assert any(i >= 100000 for i in {r.vec_id for r in rows})  # fixture sane
    # near-dup injections were actually dropped (originals kept)
    dropped = {r.vec_id for r in rows} - got
    assert any(i >= 100000 for i in dropped)
    # replayed rows are invisible through read_embedding_deduped
    assert len(got) < n_raw


def test_streaming_funnel_matches_batch(spark, sf_dir, tmp_path_factory):
    """Streaming funnel equals the batch funnel_events on the same
    corpus — with deliberately hostile arrival order (each user's
    events split across micro-batches by event_id parity, so stage-1
    events routinely arrive AFTER the stage-2/3 events they gate: flag
    state alone would get this wrong, the kept stage-event history
    makes it exact), across a mid-stream restart, and across a
    simulated replayed batch (crash between append and checkpoint
    commit)."""
    from datamunging_spark.queries import (
        funnel_triangle,
        funnel_user_flags,
    )
    from datamunging_spark.streaming.jobs import (
        read_funnel,
        run_streaming_funnel,
    )

    base = tmp_path_factory.mktemp("sfunnel")
    events_dir = str(base / "events")
    out = str(base / "out")
    ckpt = str(base / "ckpt")

    full = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type"
    )
    # hostile arrival order: parity split interleaves every user's
    # timeline across the two tranches
    a = full.where(F.col("event_id") % 2 == 0).coalesce(1)
    b = full.where(F.col("event_id") % 2 == 1).coalesce(1)

    a.write.parquet(events_dir)
    run_streaming_funnel(spark, events_dir, out, ckpt)
    phase1 = {r.stage: r.users for r in read_funnel(spark, out).collect()}
    assert phase1[1] > 0

    # simulated replay of batch 0 (stage events AND flags re-append)
    se0 = spark.read.parquet(f"{out}/stage_events").where(F.col("batch_id") == 0)
    se0.write.mode("append").parquet(f"{out}/stage_events")
    fl0 = spark.read.parquet(f"{out}/flags").where(F.col("batch_id") == 0)
    fl0.write.mode("append").parquet(f"{out}/flags")

    # restart: the rest lands, SAME checkpoint resumes; recomputation
    # over the duplicated state must stay exact (event_id idempotency)
    b.write.mode("append").parquet(events_dir)
    run_streaming_funnel(spark, events_dir, out, ckpt)

    got = [tuple(r) for r in read_funnel(spark, out).collect()]
    want = [
        tuple(r)
        for r in funnel_triangle(funnel_user_flags(full)).collect()
    ]
    assert got == want


def test_sliding_counts_match_batch(spark, sf_dir, events_dir):
    """Hopping-window streaming agg equals the batch hopping agg on
    every window it emits (append mode emits only watermark-closed
    windows; each event lives in 3 overlapping windows so the trailing
    open set is up to 3x the tumbling case)."""
    from datamunging_spark.streaming.jobs import (
        read_events_stream,
        sliding_event_counts,
    )

    stream = read_events_stream(spark, events_dir)
    _drain(sliding_event_counts(stream), "slide_counts")
    got = spark.sql("SELECT * FROM slide_counts")

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = (
        batch.groupBy(
            F.window("ts", "6 hours", "2 hours").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            F.round("total", 4).alias("total"),
        )
    )
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g <= w
    n_types = len(batch.select("event_type").distinct().collect())
    # trailing open windows: up to (watermark 2h + window 6h) / hop 2h
    # = 4 starts per type, plus the same boundary slack the tumbling
    # test allows
    assert len(g) >= len(w) - 8 * n_types


def test_streaming_semantic_decon_matches_batch(spark, sf_dir, tmp_path_factory):
    """Streaming semantic decontamination equals the batch op
    row-for-row (shared integer scorer + frozen benchmark), across a
    mid-stream restart and a simulated replayed batch."""
    from datamunging_spark.ml_ops import decontaminate_semantic
    from datamunging_spark.streaming.jobs import (
        read_semantic_decon,
        run_streaming_semantic_decon,
    )

    base = tmp_path_factory.mktemp("sdecon")
    emb_dir = str(base / "emb")
    eval_src = str(base / "eval_src")
    out = str(base / "out")
    ckpt = str(base / "ckpt")

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    # the frozen benchmark source is the FULL static table (the batch
    # twin derives its eval set from the same table)
    emb.coalesce(1).write.parquet(eval_src)
    # batch twin reads <dir>/embeddings.parquet
    batch_dir = base / "batch"
    batch_dir.mkdir()
    emb.coalesce(1).write.parquet(str(batch_dir / "embeddings.parquet"))

    # wave 1 arrives, job runs
    emb.where(F.col("vec_id") % 3 == 0).coalesce(1).write.parquet(emb_dir)
    run_streaming_semantic_decon(spark, emb_dir, eval_src, out, ckpt)
    n1 = spark.read.parquet(out).count()
    assert n1 > 0

    # waves 2+3 land; SAME checkpoint resumes without reprocessing
    emb.where(F.col("vec_id") % 3 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(emb_dir)
    emb.where(F.col("vec_id") % 3 == 2).coalesce(1).write.mode(
        "append"
    ).parquet(emb_dir)
    run_streaming_semantic_decon(spark, emb_dir, eval_src, out, ckpt)

    # simulated replay: re-append one emitted batch verbatim
    replay = spark.read.parquet(out).where(F.col("batch_id") == 0)
    replay.write.mode("append").parquet(out)

    got = read_semantic_decon(spark, out).drop("batch_id").toPandas()
    want = decontaminate_semantic(spark, str(batch_dir)).toPandas()
    got = got.sort_values("vec_id").reset_index(drop=True)[want.columns]
    assert got.equals(want.reset_index(drop=True))
    assert want.contaminated.sum() > 0  # positives flowed through


def test_read_cusum_reads_the_highest_finished_version(spark, tmp_path):
    """read_cusum skips a higher ``v=`` directory that has no
    ``_SUCCESS`` marker (a publish still being written), and each
    publish removes the versions older than the previous one."""
    import os

    from datamunging_spark.streaming.jobs import publish_cusum, read_cusum

    out = str(tmp_path / "out")
    spark.createDataFrame(
        [("a", "2024-03-01", 3, 0), ("a", "2024-03-02", 9, 0),
         ("b", "2024-03-01", 4, 0)],
        "event_type string, day string, cnt long, epoch long",
    ).write.parquet(f"{out}/daily_partials")
    for epoch in range(3):
        publish_cusum(spark, out, epoch)
    assert sorted(os.listdir(f"{out}/cusum")) == ["v=1", "v=2"]
    want = sorted(map(tuple, read_cusum(spark, out).collect()))
    assert len(want) == 3

    # a later publish that has written its files but not its marker
    spark.range(5).write.parquet(f"{out}/cusum/v=7")
    os.remove(f"{out}/cusum/v=7/_SUCCESS")
    assert sorted(map(tuple, read_cusum(spark, out).collect())) == want


def test_streaming_cusum_matches_batch(spark, sf_dir, tmp_path_factory):
    """The incremental drift monitor equals the batch cusum_changepoint
    on the same events — including across a mid-stream restart and a
    simulated replayed batch (crash between append and checkpoint
    commit)."""
    from datamunging_spark.ml_ops import cusum_changepoint
    from datamunging_spark.streaming.jobs import (
        read_cusum,
        run_streaming_cusum,
    )

    base = tmp_path_factory.mktemp("scusum")
    events_dir = str(base / "events")
    out = str(base / "out")
    ckpt = str(base / "ckpt")

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # phase 1: first half of the timeline lands
    cut = ev.selectExpr("percentile(event_id, 0.5) AS m").collect()[0].m
    ev.where(F.col("event_id") <= cut).coalesce(2).write.parquet(
        events_dir
    )
    run_streaming_cusum(spark, events_dir, out, ckpt)
    assert read_cusum(spark, out).count() > 0

    # phase 2: the rest lands; SAME checkpoint resumes incrementally
    ev.where(F.col("event_id") > cut).coalesce(2).write.mode(
        "append"
    ).parquet(events_dir)
    run_streaming_cusum(spark, events_dir, out, ckpt)

    # simulated replay: re-append one epoch's partials verbatim, then
    # re-publish the scored table the way the next batch would
    from datamunging_spark.streaming.jobs import publish_cusum

    partials = f"{out}/daily_partials"
    partial_rows = spark.read.parquet(partials)
    next_epoch = partial_rows.agg(F.max("epoch")).first()[0] + 1
    replay = partial_rows.where(F.col("epoch") == 0)
    replay.write.mode("append").parquet(partials)
    publish_cusum(spark, out, next_epoch)

    got = {
        (r.event_type, r.day): (r.cnt, r.cusum, r.flag)
        for r in read_cusum(spark, out).collect()
    }
    want = {
        (r.event_type, r.day): (r.cnt, r.cusum, r.flag)
        for r in cusum_changepoint(spark, sf_dir).collect()
    }
    assert got == want
