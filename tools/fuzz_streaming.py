#!/usr/bin/env python
"""Differential fuzzing for the STREAMING surface (r5; VERDICT r4 item 4).

tools/fuzz_correctness.py covers the 95 batch oracle pairs; this harness
covers the streaming jobs, which have no DuckDB twin — their oracle is
the BATCH computation plus a faithful driver-side simulation of the
watermark/timeout machinery. Every trial includes a MID-STREAM RESTART
(input lands in two waves; the second run resumes the same checkpoint)
and, for the curate job, a simulated replayed batch (crash between
append and checkpoint commit).

Per trial (seeded):
  1. run_streaming_curate  — hostile documents (same HOSTILE_TEXTS pool
     as fuzz_correctness, so MiXeD-case/unicode/empty docs hit the
     quality gate) + later-arriving duplicates, two waves + restart +
     replay; read_curated must equal the batch gate+keep-first twin.
  2. run_streaming_munge   — randomized spans corpus (monster fraction,
     body size drawn per trial) in two waves + restart + an idempotent
     third run; read_output must equal the batch pipeline goldens.
  3. sessionize_stream     — burst/tie/boundary-gap events (gaps of
     exactly SESSION_GAP_S land on the strict-> boundary) + clearly-late
     rows, four chronological files + restart. Emitted sessions are
     sandwiched between two driver simulations of the
     applyInPandasWithState machine: LOWER = sessions certainly emitted
     (gap-rule closures + timeouts that fired before the last batch),
     UPPER = lower + final sessions whose timeout passed the final
     watermark (whether Spark runs a timeout-only batch after the last
     file is version-dependent; both bounds are exact session rows, so
     any content divergence still fails).

Usage:  python tools/fuzz_streaming.py [n_trials] [base_seed]
Exit 1 on any divergence (per-trial detail printed).
"""

from __future__ import annotations

import datetime
import glob
import os
import random
import shutil
import sys
import tempfile
import time as _time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from datamunging_spark.session import get_spark  # noqa: E402
from tools.fuzz_correctness import HOSTILE_TEXTS, WORDS  # noqa: E402

N_TRIALS = int(sys.argv[1]) if len(sys.argv) > 1 else 3
BASE_SEED = int(sys.argv[2]) if len(sys.argv) > 2 else 20260818

DOCS_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


def _write_wave(spark, rows, schema, out_dir: str, mtime: float,
                sort_cols=None) -> None:
    """One parquet file per wave with a pinned mtime — the file source
    orders micro-batches by modification time, so this IS the arrival
    order."""
    df = spark.createDataFrame(rows, schema)
    if sort_cols:
        df = df.sort(*sort_cols)
    before = set(glob.glob(f"{out_dir}/part-*.parquet"))
    df.coalesce(1).write.mode("append").parquet(out_dir)
    for f in set(glob.glob(f"{out_dir}/part-*.parquet")) - before:
        os.utime(f, (mtime, mtime))


def _hostile_docs(rng: random.Random, n: int, id0: int = 0):
    docs = []
    for i in range(n):
        roll = rng.random()
        if roll < 0.3:
            text = rng.choice(HOSTILE_TEXTS)
        elif roll < 0.4 and docs:
            text = docs[rng.randrange(len(docs))][1]
        else:
            toks = [rng.choice(WORDS) for _ in range(rng.randint(1, 60))]
            if rng.random() < 0.3:
                toks = toks + toks
            text = " ".join(toks)
        docs.append((id0 + i, text, rng.choice(["en", "de", "xx"]),
                     f"src{rng.randrange(3)}", len(text)))
    return docs


# ---------------------------------------------------------------------------
# 1. streaming curate vs batch twin
# ---------------------------------------------------------------------------


def fuzz_curate(spark, tmp: Path, rng: random.Random) -> list[str]:
    from datamunging_spark.functions.text import tokens_distinct
    from datamunging_spark.ml_ops import (
        CURATE_MIN_DISTINCT_RATIO,
        CURATE_MIN_TOKENS,
    )
    from datamunging_spark.streaming.jobs import (
        read_curated,
        run_streaming_curate,
    )
    from pyspark.sql.window import Window as W

    docs_dir, out, ckpt = str(tmp / "docs"), str(tmp / "out"), str(tmp / "ck")
    n = rng.randint(20, 40)
    docs = _hostile_docs(rng, n)
    cut = rng.randint(5, n - 5)
    # later-arriving duplicates of earlier docs (higher ids, later wave):
    # streaming keep-first-arrival == batch keep-min-doc_id because waves
    # and files are doc_id-ordered
    dupes = [
        (100000 + j, docs[rng.randrange(cut)][1], "en", "dup", 0)
        for j in range(rng.randint(1, 5))
    ]
    base = _time.time() - 1000
    _write_wave(spark, docs[:cut], DOCS_SCHEMA, docs_dir, base, ["doc_id"])
    run_streaming_curate(spark, docs_dir, out, ckpt)

    _write_wave(spark, docs[cut:], DOCS_SCHEMA, docs_dir, base + 10,
                ["doc_id"])
    _write_wave(spark, dupes, DOCS_SCHEMA, docs_dir, base + 20, ["doc_id"])
    run_streaming_curate(spark, docs_dir, out, ckpt)  # restart + resume

    # simulated replay: crash between append and checkpoint commit
    replay = spark.read.parquet(out).where(F.col("batch_id") == 0)
    if replay.count():
        replay.write.mode("append").parquet(out)

    try:
        got = {
            (r.doc_id, r.h) for r in read_curated(spark, out).collect()
        }
    except Exception as e:  # no output at all is legal if nothing passed
        if ("PATH_NOT_FOUND" not in str(e)
                and "Path does not exist" not in str(e)):
            return [f"curate: read_curated raised {e!r:.200}"]
        got = set()

    full = spark.createDataFrame(docs + dupes, DOCS_SCHEMA)
    n_toks = F.size(F.split(F.col("text"), " "))
    gated = full.where(
        (n_toks >= CURATE_MIN_TOKENS)
        & (F.size(tokens_distinct(F.col("text"))) / n_toks
           >= CURATE_MIN_DISTINCT_RATIO)
    ).withColumn("h", F.sha2(F.col("text"), 256))
    first = W.partitionBy("h").orderBy("doc_id")
    want = {
        (r.doc_id, r.h)
        for r in gated.withColumn("rn", F.row_number().over(first))
        .where(F.col("rn") == 1).select("doc_id", "h").collect()
    }
    if got != want:
        return [
            f"curate: emitted {sorted(i for i, _ in got)} "
            f"!= batch twin {sorted(i for i, _ in want)}"
        ]
    return []


# ---------------------------------------------------------------------------
# 2. streaming munge vs batch pipeline
# ---------------------------------------------------------------------------


def fuzz_munge(spark, tmp: Path, rng: random.Random) -> list[str]:
    from datamunging_spark.generator import corpus_to_rows, generate_corpus
    from datamunging_spark.operators.munge import INPUT_SCHEMA
    from datamunging_spark.pipeline import read_output, run_pipeline
    from datamunging_spark.streaming.jobs import run_streaming_munge

    spans_dir = str(tmp / "spans")
    out_s, out_b, ckpt = str(tmp / "os"), str(tmp / "ob"), str(tmp / "ckm")
    n_docs = rng.randint(8, 16)
    docs = generate_corpus(
        seed=rng.randrange(1 << 30),
        n_docs=n_docs,
        monster_frac=rng.choice([0.0, 0.1, 0.3]),
        body_lines=rng.choice([(2, 6), (6, 12), (20, 30)]),
    )
    rows = corpus_to_rows(docs)
    cut = rng.randint(2, n_docs - 2)
    base = _time.time() - 1000
    _write_wave(spark, rows[:cut], INPUT_SCHEMA, spans_dir, base)
    run_streaming_munge(spark, spans_dir, out_s, ckpt)
    _write_wave(spark, rows[cut:], INPUT_SCHEMA, spans_dir, base + 10)
    run_streaming_munge(spark, spans_dir, out_s, ckpt)  # restart + resume
    run_streaming_munge(spark, spans_dir, out_s, ckpt)  # idempotent re-run

    df = spark.createDataFrame(rows, schema=INPUT_SCHEMA)
    run_pipeline(spark, df, out_b, run_id="b", partitions=4)
    got = {
        r.doc_id: [tuple(s) for s in r.spans]
        for r in read_output(spark, out_s).collect()
    }
    want = {
        r.doc_id: [tuple(s) for s in r.spans]
        for r in read_output(spark, out_b).collect()
    }
    fails = []
    if set(got) != set(want):
        fails.append(
            f"munge: doc sets differ: {sorted(set(got) ^ set(want))}"
        )
    else:
        bad = [d for d in got if got[d] != want[d]]
        if bad:
            fails.append(f"munge: span divergence on docs {bad[:3]}")
    raw = spark.read.parquet(out_s)
    if raw.count() != raw.select("doc_id").distinct().count():
        fails.append("munge: idempotent re-run produced duplicates")
    return fails


# ---------------------------------------------------------------------------
# 3. stateful sessionization vs driver simulation (sandwich bounds)
# ---------------------------------------------------------------------------

WM_DELAY_S = 7200  # sessionize_stream's withWatermark("ts", "2 hours")


def _simulate_sessions(batches, gap_s: int):
    """Replay the applyInPandasWithState machine over per-file batches.

    Returns (lower, upper): session sets as (user, start_us, end_us, n).
    lower = emissions guaranteed by any conforming engine (gap-rule
    closures + timeouts fired before the final batch); upper adds final
    sessions whose timeout passed the final watermark (fired only if the
    engine runs a timeout-only batch after the last file)."""
    state: dict[int, tuple[int, int, int]] = {}
    emitted: list[tuple] = []
    wm_us = None  # watermark, microseconds
    max_seen_us = None
    gap_us = gap_s * 1_000_000
    for rows in batches:
        # (a) fire timeouts for keys with no data this batch
        users_with_data = {u for u, _ in rows}
        for u in list(state):
            if u in users_with_data:
                continue
            s, last, n = state[u]
            if wm_us is not None and wm_us > last + gap_us:
                emitted.append((u, s, last, n))
                del state[u]
        # (b) late filter + fold, per user in event-time order
        for u in sorted(users_with_data):
            ts_list = sorted(
                ts for uu, ts in rows
                if uu == u and (wm_us is None or ts >= wm_us)
            )
            if not ts_list:
                continue
            if u in state:
                s, last, n = state[u]
            else:
                s, last, n = ts_list[0], ts_list[0], 0
            for ts in ts_list:
                if ts - last > gap_us:
                    emitted.append((u, s, last, n))
                    s, last, n = ts, ts, 0
                else:
                    # out-of-order survivor (>= watermark, older than
                    # state): MERGE — bounded state cannot retro-split,
                    # gap rule applies to the forward edge only (same
                    # rule as _sessionize; keeps start <= end)
                    s, last = min(s, ts), max(last, ts)
                n += 1
            state[u] = (s, last, n)
        # (c) watermark update from the batch's raw max event time
        batch_max = max((ts for _, ts in rows), default=None)
        if batch_max is not None:
            max_seen_us = (
                batch_max if max_seen_us is None
                else max(max_seen_us, batch_max)
            )
            wm_us = max_seen_us - WM_DELAY_S * 1_000_000
    lower = set(emitted)
    upper = set(emitted)
    if wm_us is not None:
        for u, (s, last, n) in state.items():
            if wm_us > last + gap_us:
                upper.add((u, s, last, n))
    return lower, upper


def fuzz_sessionize(spark, tmp: Path, rng: random.Random) -> list[str]:
    from datamunging_spark.streaming.jobs import (
        SESSION_GAP_S,
        read_events_stream,
        sessionize_stream,
    )

    events_dir, out, ckpt = (
        str(tmp / "ev"), str(tmp / "sess_out"), str(tmp / "cks")
    )
    # epoch micros of 2024-01-01T00:00Z, TZ-independent (datetime
    # .timestamp() on a naive datetime would apply the OS-local zone)
    base_us = int(
        datetime.datetime(
            2024, 1, 1, tzinfo=datetime.timezone.utc
        ).timestamp() * 1e6
    )
    n_users = rng.randint(3, 6)
    rows = []
    eid = 0
    for u in range(n_users):
        t_us = rng.randint(0, 600) * 1_000_000
        for _ in range(rng.randint(5, 25)):
            # boundary-hostile gaps: exact ties, exactly-at-gap (1800 s),
            # one-MILLISECOND-past-gap, plus bursts and long jumps. All
            # gaps are whole milliseconds: the engine floors both the
            # timeout timestamp and the watermark to ms (jobs.py
            # setTimeoutTimestamp last_us//1000 + gap*1000), so a sub-ms
            # remainder opens a legitimate engine-vs-simulation window
            # at the boundary (review catch) — ms-aligned inputs keep
            # the µs simulation exact without weakening the boundary
            # coverage (the 1 ms overshoot still lands one unit past).
            t_us += rng.choice(
                [0, 0, 1_000_000, SESSION_GAP_S * 1_000_000,
                 SESSION_GAP_S * 1_000_000 + 1_000,
                 (SESSION_GAP_S - 1) * 1_000_000,
                 (SESSION_GAP_S + 1) * 1_000_000,
                 3 * 3600 * 1_000_000,
                 rng.randint(1, 900) * 1_000_000]
            )
            rows.append((eid, base_us + t_us, u))
            eid += 1
    rows.sort(key=lambda r: r[1])
    # one clearly-late row per trial: 5 h behind the stream tail, landing
    # in the final file — must be dropped by the watermark filter
    late_ts = rows[-1][1] - 5 * 3600 * 1_000_000
    rows_late = []
    if late_ts > rows[0][1]:
        rows_late.append((eid, late_ts, rng.randrange(n_users)))
        eid += 1
    # plus 1-2 STRAGGLER rows per trial, gap-to-horizon behind the tail
    # (whole seconds, keeping ms alignment): out-of-order arrivals that
    # land right around the final eviction watermark, so across trials
    # they exercise BOTH the in-function late drop AND the min/max
    # merge-into-open-session path of _sessionize (seed-20260821 bug
    # pair; the simulation decides drop-vs-merge per trial)
    for _ in range(rng.randint(1, 2)):
        back_s = rng.randint(WM_DELAY_S // 4, WM_DELAY_S + 1800)
        strag_ts = rows[-1][1] - back_s * 1_000_000
        if strag_ts > rows[0][1]:
            rows_late.append((eid, strag_ts, rng.randrange(n_users)))
            eid += 1

    k = 4
    per = (len(rows) + k - 1) // k
    files = [rows[i * per:(i + 1) * per] for i in range(k)]
    files = [f for f in files if f]
    files[-1] = files[-1] + rows_late

    # timestamps go in and come out as epoch MICROS converted inside
    # Spark (timestamp_micros / unix_micros): driver-side naive-datetime
    # conversion runs through the OS-LOCAL timezone, which silently
    # shifts every session on a non-UTC host (review catch)
    def write_events_wave(chunk, mtime):
        df = spark.createDataFrame(
            [(e, ts, u, "view", 0.0, "{}") for e, ts, u in chunk],
            "event_id bigint, ts_us bigint, user_id bigint, "
            "event_type string, value double, props string",
        ).select(
            "event_id", F.timestamp_micros("ts_us").alias("ts"),
            "user_id", "event_type", "value", "props",
        )
        before = set(glob.glob(f"{events_dir}/part-*.parquet"))
        df.coalesce(1).write.mode("append").parquet(events_dir)
        for f in set(glob.glob(f"{events_dir}/part-*.parquet")) - before:
            os.utime(f, (mtime, mtime))

    base_mt = _time.time() - 1000
    restart_after = max(1, len(files) // 2)

    def drain():
        stream = read_events_stream(spark, events_dir)
        q = (
            sessionize_stream(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    for i, chunk in enumerate(files[:restart_after]):
        write_events_wave(chunk, base_mt + i * 10)
    drain()
    for i, chunk in enumerate(files[restart_after:]):
        write_events_wave(chunk, base_mt + (restart_after + i) * 10)
    drain()  # restart: state + watermark resume from the checkpoint

    try:
        got = {
            (r.user_id, r.s_us, r.e_us, r.n_events)
            for r in spark.read.parquet(out).select(
                "user_id",
                F.unix_micros("session_start").alias("s_us"),
                F.unix_micros("session_end").alias("e_us"),
                "n_events",
            ).collect()
        }
    except Exception as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            got = set()
        else:
            return [f"sessionize: read raised {e!r:.200}"]

    batches = [[(u, ts) for _, ts, u in chunk] for chunk in files]
    lower, upper = _simulate_sessions(batches, SESSION_GAP_S)
    fails = []
    if not got <= upper:
        fails.append(
            f"sessionize: emitted sessions outside simulation: "
            f"{sorted(got - upper)[:3]}"
        )
    if not lower <= got:
        fails.append(
            f"sessionize: guaranteed sessions missing: "
            f"{sorted(lower - got)[:3]}"
        )
    return fails


# ---------------------------------------------------------------------------
# 4. streaming embedding near-dup vs driver simulation
# ---------------------------------------------------------------------------


def fuzz_embedding_dedup(spark, tmp: Path, rng: random.Random) -> list[str]:
    import numpy as np

    from datamunging_spark.functions.vectors import hyperplane_bucket
    from datamunging_spark.ml_ops import HYPERPLANES
    from datamunging_spark.streaming.jobs import (
        EMB_DEDUP_THRESHOLD,
        read_embedding_deduped,
        run_streaming_embedding_dedup,
    )

    emb_dir, out, ckpt = str(tmp / "emb"), str(tmp / "eo"), str(tmp / "ec")
    dim = 64  # MUST match HYPERPLANES' dim: shorter vectors null-pad the
    # zip_with dot product and every bucket collapses to 0, silently
    # un-fuzzing the per-bucket machinery (review catch)
    vecs = []
    for i in range(rng.randint(15, 35)):
        roll = rng.random()
        if roll < 0.1:
            v = [0.0] * dim  # zero vector: cosine 0, always kept
        elif roll < 0.3 and vecs:
            v = list(vecs[rng.randrange(len(vecs))][1])  # exact duplicate
        elif roll < 0.5 and vecs:
            src = vecs[rng.randrange(len(vecs))][1]
            v = [x * 1.002 + 0.0005 for x in src]  # near-duplicate
        else:
            v = [round(rng.uniform(-1, 1), 3) for _ in range(dim)]
        vecs.append((i, [float(x) for x in v], rng.randrange(3)))
    schema = "vec_id bigint, embedding array<float>, label int"
    cut = rng.randint(4, len(vecs) - 4)
    waves = [vecs[:cut], vecs[cut:]]
    base = _time.time() - 1000
    _write_wave(spark, waves[0], schema, emb_dir, base, ["vec_id"])
    run_streaming_embedding_dedup(spark, emb_dir, out, ckpt)
    _write_wave(spark, waves[1], schema, emb_dir, base + 10, ["vec_id"])
    run_streaming_embedding_dedup(spark, emb_dir, out, ckpt)  # restart
    replay = spark.read.parquet(out).where(F.col("batch_id") == 0)
    if replay.count():
        replay.write.mode("append").parquet(out)

    got = {r.vec_id for r in read_embedding_deduped(spark, out).collect()}
    # simulation — float32 round-trip mirrors the parquet storage
    bk = {
        r.vec_id: r.bucket
        for r in spark.createDataFrame(vecs, schema).withColumn(
            "bucket", hyperplane_bucket(F.col("embedding"), HYPERPLANES)
        ).collect()
    }
    kept: dict[int, list] = {}
    want = set()
    for wave in waves:
        for vid, v, _ in sorted(wave):
            x = np.asarray(v, dtype=np.float32).astype(np.float64)
            nx = float(np.sqrt(x @ x))
            b = bk[vid]
            dup = False
            if nx > 0:
                for kv, kn in kept.get(b, ()):
                    if kn > 0 and float(kv @ x) / (kn * nx) >= EMB_DEDUP_THRESHOLD:
                        dup = True
                        break
            if not dup:
                kept.setdefault(b, []).append((x, nx))
                want.add(vid)
    if got != want:
        return [f"embdedup: kept {sorted(got)} != sim {sorted(want)}"]
    return []


def fuzz_funnel(spark, tmp: Path, rng: random.Random) -> list[str]:
    """Streaming funnel vs the batch funnel on a randomized corpus:
    random users/types (stage and non-stage), random timestamps WITH
    forced ties, arrival order randomized independently of event time
    (late stage-1 events routinely gate already-arrived stage-2/3
    events), two waves + restart + a simulated replayed batch."""
    from datamunging_spark.queries import (
        FUNNEL_STAGES,
        funnel_triangle,
        funnel_user_flags,
    )
    from datamunging_spark.streaming.jobs import (
        FUNNEL_EVENTS_SCHEMA,
        read_funnel,
        run_streaming_funnel,
    )

    ev_dir, out, ckpt = str(tmp / "ev"), str(tmp / "out"), str(tmp / "ck")
    n_users = rng.randint(2, 6)
    n_ev = rng.randint(15, 50)
    types = list(FUNNEL_STAGES) + ["error", "other"]
    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for eid in range(n_ev):
        # coarse minute grid + small range forces same-ts ties
        ts = t0 + datetime.timedelta(minutes=rng.randint(0, 900))
        rows.append((eid, ts, rng.randrange(n_users), rng.choice(types)))

    arrival = rows[:]
    rng.shuffle(arrival)
    cut = rng.randint(3, n_ev - 3)
    base = _time.time() - 1000
    _write_wave(spark, arrival[:cut], FUNNEL_EVENTS_SCHEMA, ev_dir, base,
                ["event_id"])
    run_streaming_funnel(spark, ev_dir, out, ckpt)

    # simulated replay of batch 0 (stage events AND flags re-append)
    for sub in ("stage_events", "flags"):
        try:
            b0 = spark.read.parquet(f"{out}/{sub}").where(
                F.col("batch_id") == 0
            )
            if b0.count():
                b0.write.mode("append").parquet(f"{out}/{sub}")
        except Exception as e:
            if ("PATH_NOT_FOUND" not in str(e)
                    and "Path does not exist" not in str(e)):
                raise

    _write_wave(spark, arrival[cut:], FUNNEL_EVENTS_SCHEMA, ev_dir, base + 10,
                ["event_id"])
    run_streaming_funnel(spark, ev_dir, out, ckpt)  # restart + resume

    got = [tuple(r) for r in read_funnel(spark, out).collect()]
    want = [
        tuple(r)
        for r in funnel_triangle(
            funnel_user_flags(spark.createDataFrame(rows, FUNNEL_EVENTS_SCHEMA))
        ).collect()
    ]
    if got != want:
        return [f"funnel: {got} != {want}"]
    return []



def fuzz_semantic_decon(spark, tmp: Path, rng: random.Random) -> list[str]:
    """Streaming semantic decon vs the batch op on a randomized vector
    corpus (zero vectors, exact and near duplicates of eval sources,
    random vectors): the scorer is shared verbatim, so the union of
    streaming batch outputs must equal the batch answer ROW-FOR-ROW —
    including across a restart and a replayed batch. NULL vectors are
    out of contract here (dropped at ingestion; covered by the batch
    fuzzer's NULL sweep)."""
    from datamunging_spark.ml_ops import decontaminate_semantic
    from datamunging_spark.streaming.jobs import (
        read_semantic_decon,
        run_streaming_semantic_decon,
    )

    emb_dir, out, ckpt = str(tmp / "emb"), str(tmp / "so"), str(tmp / "sc")
    dim = rng.choice([8, 64])
    vecs = []
    for i in range(rng.randint(15, 40)):
        roll = rng.random()
        if roll < 0.1:
            v = [0.0] * dim
        elif roll < 0.3 and vecs:
            v = list(vecs[rng.randrange(len(vecs))][1])
        elif roll < 0.5 and vecs:
            src_v = vecs[rng.randrange(len(vecs))][1]
            v = [x * 1.003 + 0.0007 for x in src_v]
        else:
            v = [round(rng.uniform(-1, 1), 3) for _ in range(dim)]
        vecs.append((i, [float(x) for x in v], rng.randrange(3)))
    schema = "vec_id bigint, embedding array<float>, label int"

    batch_dir = tmp / "batch"
    batch_dir.mkdir(parents=True)
    full = spark.createDataFrame(vecs, schema)
    full.coalesce(1).write.parquet(str(batch_dir / "embeddings.parquet"))
    eval_src = str(tmp / "eval_src")
    full.coalesce(1).write.parquet(eval_src)

    cut = rng.randint(4, len(vecs) - 4)
    base = _time.time() - 1000
    _write_wave(spark, vecs[:cut], schema, emb_dir, base, ["vec_id"])
    run_streaming_semantic_decon(spark, emb_dir, eval_src, out, ckpt)
    _write_wave(spark, vecs[cut:], schema, emb_dir, base + 10, ["vec_id"])
    run_streaming_semantic_decon(spark, emb_dir, eval_src, out, ckpt)
    replay = spark.read.parquet(out).where(F.col("batch_id") == 0)
    if replay.count():
        replay.write.mode("append").parquet(out)

    got = {
        (r.vec_id, r.nearest_eval_id, r.cos2_ppm, r.contaminated)
        for r in read_semantic_decon(spark, out).collect()
    }
    want = {
        (r.vec_id, r.nearest_eval_id, r.cos2_ppm, r.contaminated)
        for r in decontaminate_semantic(spark, str(batch_dir)).collect()
    }
    if got != want:
        return [f"sdecon: {sorted(got ^ want)[:6]}"]
    return []


def fuzz_cusum(spark, tmp: Path, rng: random.Random) -> list[str]:
    """Incremental drift monitor vs the batch scorer on hostile events
    (NULL ts / NULL type rows, ragged day coverage), across a restart
    and a replayed epoch."""
    from datetime import datetime, timedelta

    from datamunging_spark.ml_ops import cusum_from_daily
    from datamunging_spark.streaming.jobs import (
        EVENTS_SCHEMA,
        publish_cusum,
        read_cusum,
        run_streaming_cusum,
    )

    ev_dir, out, ckpt = str(tmp / "ev"), str(tmp / "out"), str(tmp / "ck")
    t0 = datetime(2024, 3, 1)
    types = ["a", "b", None]
    n = rng.randint(40, 120)
    rows = [
        (
            i,
            None if rng.random() < 0.05
            else t0 + timedelta(hours=rng.randrange(0, 24 * 9)),
            rng.randrange(5),
            rng.choice(types),
            rng.random() * 100,
            "{}",
        )
        for i in range(n)
    ]
    cut = rng.randint(10, n - 10)
    base = _time.time() - 1000
    _write_wave(spark, rows[:cut], EVENTS_SCHEMA, ev_dir, base,
                ["event_id"])
    run_streaming_cusum(spark, ev_dir, out, ckpt)
    _write_wave(spark, rows[cut:], EVENTS_SCHEMA, ev_dir, base + 10,
                ["event_id"])
    run_streaming_cusum(spark, ev_dir, out, ckpt)  # restart + resume

    # simulated replay of epoch 0's partials + re-publish
    partials = f"{out}/daily_partials"
    partial_rows = spark.read.parquet(partials)
    replay = partial_rows.where(F.col("epoch") == 0)
    if replay.count():
        next_epoch = partial_rows.agg(F.max("epoch")).first()[0] + 1
        replay.write.mode("append").parquet(partials)
        publish_cusum(spark, out, next_epoch)

    got = {
        (r.event_type, r.day): (r.cnt, r.cusum, r.flag)
        for r in read_cusum(spark, out).collect()
    }
    full = spark.createDataFrame(rows, EVENTS_SCHEMA)
    daily = (
        full.where(F.col("ts").isNotNull()
                   & F.col("event_type").isNotNull())
        .groupBy("event_type",
                 F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    want = {
        (r.event_type, r.day): (r.cnt, r.cusum, r.flag)
        for r in cusum_from_daily(daily).collect()
    }
    if got != want:
        return [f"cusum: {len(got)} scored rows != batch {len(want)}"
                f" (or values diverged)"]
    return []


def main() -> int:
    spark = get_spark(app_name="fuzz-streaming")
    failures: list[str] = []
    n_checked = 0
    for trial in range(N_TRIALS):
        seed = BASE_SEED + trial
        rng = random.Random(seed)
        tmp = Path(tempfile.mkdtemp(prefix=f"sfuzz_{seed}_"))
        try:
            for name, fn in (
                ("curate", fuzz_curate),
                ("munge", fuzz_munge),
                ("sessionize", fuzz_sessionize),
                ("embdedup", fuzz_embedding_dedup),
                ("funnel", fuzz_funnel),
                ("sdecon", fuzz_semantic_decon),
                ("cusum", fuzz_cusum),
            ):
                fs = fn(spark, tmp / name, rng)
                n_checked += 1
                failures.extend(f"[seed {seed}] {m}" for m in fs)
                print(f"[seed {seed}] {name}: "
                      f"{'DIVERGED' if fs else 'ok'}")
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    print(f"\nchecked {n_checked} streaming-pair runs over "
          f"{N_TRIALS} trials")
    if failures:
        print(f"{len(failures)} DIVERGENCES:")
        for f in failures:
            print("  " + f)
        return 1
    print("all streaming pairs agree")
    return 0


if __name__ == "__main__":
    sys.exit(main())
