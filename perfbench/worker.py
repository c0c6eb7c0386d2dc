"""The measured process: one SparkSession, warm-up, a timed closed loop,
output checks and, with ``--trace 1``, the per-layer probes.

Started by ``run.py``, which owns input preparation, memory sampling and
clean-up; this file writes one JSON result to ``--result``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
from pathlib import Path
from typing import NamedTuple

T_PROCESS = time.monotonic()

from pyspark.sql import functions as F  # noqa: E402

import inputs  # noqa: E402
import proctree  # noqa: E402
from stagemetrics import group_metrics, job_group  # noqa: E402

from datamunging_spark.session import get_spark  # noqa: E402

# Two of the host's four cores: local[4] measured 2-3x less steady, and
# the default local[32] oversubscribes a 4-core host.
MASTER = "local[2]"
MONSTER_THRESHOLD = inputs.MONSTER_THRESHOLD
# Warm-up calls over the small warm-up corpus, the first one cold. The JVM's
# CPU per call keeps falling for several calls whatever the corpus size
# (JIT compilation of the per-call planning and scheduling paths), and
# while it is high the process keeps nearly all four cores busy, so a timed
# call soon after the cold one spreads with every stall of the host. Five
# full-corpus calls after the cold one took 11.9, 9.2, 7.1, 7.0 and 5.2 s of
# JVM CPU on the 4-core test host; a warm-up-corpus call costs 1-2 s less
# than a full one.
WARM_CALLS = 3
LADDER_REPEATS = 3
REPLAY_PAGES = 400
REPLAY_REPEATS = 3


def log(msg: str) -> None:
    print(f"perfbench[{time.monotonic() - T_PROCESS:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _med(xs):
    return statistics.median(xs) if xs else 0.0


class Op(NamedTuple):
    """One timed operation: a pipeline call or a catalog query."""

    key: str
    wall: float
    traced: bool
    ok: bool
    g: dict | None  # job-group stage metrics, traced ops only


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class OcrPipeline:
    """``run_pipeline`` over the whole corpus into a fresh output, per op."""

    keys = ("call",)
    min_units = 3

    def __init__(self, spark, data: Path, work: Path, seed: int):
        from datamunging_spark.pipeline import read_output, read_state, run_pipeline

        self.spark, self.work = spark, work
        self.run_pipeline, self.read_output, self.read_state = (
            run_pipeline, read_output, read_state)
        self.meta = json.loads((data / "meta.json").read_text())
        self.corpus = str(data / self.meta["corpus"])
        self.warm_corpus = str(data / self.meta["warm"])
        self.digests = json.loads((data / "digests.json").read_text())
        self.n = 0
        self.last_out: str | None = None

    def _call(self, corpus: str):
        self.n += 1
        out = self.work / f"out{self.n}"
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
            shutil.rmtree(self.last_out + "_state", ignore_errors=True)
        self.last_out = str(out)
        t0 = time.perf_counter()
        inp = self.spark.read.parquet(corpus)
        res = self.run_pipeline(self.spark, inp, str(out), f"run{self.n}",
                                monster_threshold=MONSTER_THRESHOLD)
        return time.perf_counter() - t0, res

    def warm(self) -> bool:
        """``WARM_CALLS`` calls over the warm-up corpus, the first one cold,
        each checked."""
        ids = self.meta["warm_docs"]
        oks = []
        for _ in range(WARM_CALLS):
            wall, res = self._call(self.warm_corpus)
            log(f"warm call {wall:.2f}s")
            oks.append(self._check(res, ids))
        return all(oks)

    def _check(self, res, ids: list[str] | None = None) -> bool:
        """Every doc's span digest equals the oracle's, and so do the
        RunResult totals (for a warm-up call, over ``ids``: its doc count)."""
        if ids is None:
            want = self.meta["totals"]
            if (res.docs_processed, res.pages, res.tokens_corrected) != (
                    want["docs"], want["pages"], want["tokens_corrected"]):
                return False
            want_digests = self.digests
        else:
            if res.docs_processed != len(ids):
                return False
            want_digests = {d: self.digests[d] for d in ids}
        rows = (self.read_output(self.spark, self.last_out)
                .select("doc_id", "spans").toArrow().to_pylist())
        got = {r["doc_id"]: inputs.span_digest(r["spans"]) for r in rows}
        return got == want_digests

    def next_key(self) -> str:
        return "call"

    def op(self, key: str, traced: bool) -> Op:
        if traced:
            group = f"call#{self.n + 1}"
            with job_group(self.spark, group):
                wall, res = self._call(self.corpus)
            g = group_metrics(self.spark, group)
        else:
            (wall, res), g = self._call(self.corpus), None
        return Op("call", wall, traced, self._check(res), g)

    # ---------------------------------------------------------------- layers

    def layers(self, ops: list[Op]) -> dict:
        traced = [o for o in ops if o.traced]
        walls = [o.wall for o in traced]
        m: dict[str, float] = {}
        m.update(self._ladder())
        m.update(self._replay())
        m.update(self._output_layers())
        run_s = _med(walls)
        m["pipeline.run_s"] = run_s
        m["pipeline.overhead_s"] = run_s - m["munge.spark_s"]
        m["pipeline.call_p50_s"] = run_s
        m["pipeline.call_max_s"] = max(walls)
        m["pipeline.pages_per_s"] = m["munge.pages"] / run_s
        m["pipeline.jobs_per_call"] = _med([len(o.g["jobs"]) for o in traced])
        write, lineage = zip(*(_write_jobs(o.g["jobs"]) for o in traced))
        m["pipeline.write_job_s"] = _med(write)
        m["pipeline.lineage_job_s"] = _med(lineage)
        return m

    def _ladder(self) -> dict:
        from datamunging_spark.operators.chunked import munge_auto

        def identity(batches):
            yield from batches

        spark, corpus = self.spark, self.corpus
        rungs = {
            "spark.scan_s": lambda: _noop(spark.read.parquet(corpus)),
            "arrow.identity_s": lambda: _noop(spark.read.parquet(corpus).mapInArrow(
                identity, spark.read.parquet(corpus).schema)),
            "munge.spark_s": lambda: _noop(munge_auto(
                spark.read.parquet(corpus), spark, monster_threshold=MONSTER_THRESHOLD)),
        }
        out = {}
        for name, fn in rungs.items():
            walls = []
            for _ in range(LADDER_REPEATS):
                t0 = time.perf_counter()
                fn()
                walls.append(time.perf_counter() - t0)
            out[name] = _med(walls)
        out["arrow.boundary_s"] = out["arrow.identity_s"] - out["spark.scan_s"]
        out["munge.spark_self_s"] = out["munge.spark_s"] - out["arrow.identity_s"]
        return out

    def _replay(self) -> dict:
        """Single-thread replay of the cascade steps over a fixed page
        sample: whole normal docs, in corpus order, up to REPLAY_PAGES."""
        import pyarrow.parquet as pq

        from datamunging_spark.operators.munge import METRIC_FIELDS, _Munger
        from datamunging_spark.rulesets.loader import load_rulesets

        sample, n_pages = [], 0
        for row in pq.read_table(self.corpus).to_pylist():
            if n_pages >= REPLAY_PAGES:
                break
            if len(row["spans"]) <= MONSTER_THRESHOLD:
                pages = [s["text"] for s in row["spans"] if s["kind"] == "page"]
                sample.append(pages)
                n_pages += len(pages)

        loads = []
        for _ in range(REPLAY_REPEATS):
            t0 = time.perf_counter()
            rs = load_rulesets()
            loads.append(time.perf_counter() - t0)
        mu = _Munger(rs)
        steps = {k: [] for k in ("translate", "strip_headers", "pagenum",
                                 "rejoin", "correct_line", "cascade")}
        clock = time.perf_counter
        for _ in range(REPLAY_REPEATS):
            acc = dict.fromkeys(steps, 0.0)
            for texts in sample:
                t0 = clock()
                pages = [rs.translate(t).split("\n") for t in texts]
                t1 = clock()
                pages, _removed = mu.strip_headers(pages)
                t2 = clock()
                acc["translate"] += t1 - t0
                acc["strip_headers"] += t2 - t1
                for lines in pages:
                    pm = dict.fromkeys(METRIC_FIELDS, 0)
                    t0 = clock()
                    kept = [ln for ln in lines if not mu.is_pagenum(ln)]
                    t1 = clock()
                    kept = mu.rejoin(kept)
                    t2 = clock()
                    for ln in kept:
                        mu.correct_line(ln, pm)
                    t3 = clock()
                    acc["pagenum"] += t1 - t0
                    acc["rejoin"] += t2 - t1
                    acc["correct_line"] += t3 - t2
                t0 = clock()
                mu.munge_pages(texts)
                acc["cascade"] += clock() - t0
            for k, v in acc.items():
                steps[k].append(v)
        m = {"rulesets.load_s": _med(loads),
             "rulesets.translate_s": _med(steps.pop("translate"))}
        for k, v in steps.items():
            m[f"munge.{k}_s"] = _med(v)
        return m

    def _output_layers(self) -> dict:
        """Counts and per-doc times from the last call's output."""
        out = self.read_output(self.spark, self.last_out)
        monster = F.size("spans") > MONSTER_THRESHOLD
        r = out.agg(
            F.count("*").alias("docs"),
            *[F.sum(c).alias(c) for c in (
                "pages", "tokens_total", "tokens_corrected",
                "header_lines_removed", "pagenum_lines_removed", "munge_us")],
            F.max("munge_us").alias("us_max"),
            F.sum(F.when(monster, 1).otherwise(0)).alias("monsters"),
            F.sum(F.when(monster, F.col("munge_us")).otherwise(0)).alias("monster_us"),
        ).first()
        walls = [x.wall_ms for x in self.read_state(self.spark, self.last_out)
                 .where(F.col("wall_ms") > 0).select("wall_ms").collect()]
        out_dir, state_dir = Path(self.last_out), Path(self.last_out + "_state")
        out_bytes = sum(p.stat().st_size for p in out_dir.glob("*.parquet"))
        m = {f"munge.{c}": r[c] for c in (
            "pages", "tokens_total", "tokens_corrected",
            "header_lines_removed", "pagenum_lines_removed")}
        m.update({
            "munge.doc_us_sum_s": r["munge_us"] / 1e6,
            "munge.doc_us_max_ms": r["us_max"] / 1e3,
            "chunked.monster_docs": r["monsters"],
            "chunked.monster_us_share": r["monster_us"] / max(r["munge_us"], 1),
            "pipeline.docs_processed": r["docs"],
            "pipeline.partition_skew": (max(walls) / _med(walls)) if walls else 1.0,
            "catalog.output_files": len(list(out_dir.glob("*.parquet"))),
            "catalog.state_files": len(list(state_dir.glob("*.parquet"))),
            "catalog.output_bytes_per_input_byte":
                out_bytes / self.meta["corpus_bytes"],
        })
        return m


def _write_jobs(jobs) -> tuple[float, float]:
    """Summed job walls of the output-write and lineage parts of one
    ``run_pipeline`` call. Jobs run in id order; the lineage part starts
    with the ``parquet`` read of the freshly written output, the last
    ``parquet at`` call site of the call (the first is the input scan)."""
    reads = [i for i, (_j, _w, name) in enumerate(jobs) if name.startswith("parquet at")]
    cut = reads[-1] if len(reads) > 1 else len(jobs)
    return (sum(w for _j, w, _n in jobs[:cut]), sum(w for _j, w, _n in jobs[cut:]))


class CatalogMix:
    """The catalog query set, each collected to pandas and checked. The
    seed sets the query order of every pass."""

    keys = tuple(inputs.CATALOG_QUERIES)
    min_units = 2

    def __init__(self, spark, data: Path, work: Path, seed: int):
        from datamunging_spark.ml_ops import ML_QUERIES
        from datamunging_spark.queries import RELATIONAL_QUERIES

        catalog = {**RELATIONAL_QUERIES, **ML_QUERIES}
        self.spark = spark
        self.meta = json.loads((data / "meta.json").read_text())
        self.tables = str(data / self.meta["tables"])
        self.fns = {q: catalog[q][0] for q in self.keys}
        self.rng = random.Random(seed)
        self.queue: list[str] = []
        self.n = 0

    def _run(self, q: str) -> tuple[float, bool]:
        """Collect query ``q`` to pandas, timed; then check its values
        against the oracle, untimed."""
        t0 = time.perf_counter()
        got = self.fns[q](self.spark, self.tables).toPandas()
        wall = time.perf_counter() - t0
        want = self.meta["oracle"][q]
        return wall, len(got) == want["rows"] and inputs.value_hash(got) == want["hash"]

    def warm(self) -> bool:
        """One checked pass over every query."""
        return all([self._run(q)[1] for q in self.keys])

    def next_key(self) -> str:
        if not self.queue:
            self.queue = list(self.keys)
            self.rng.shuffle(self.queue)
        return self.queue.pop(0)

    def op(self, q: str, traced: bool) -> Op:
        self.n += 1
        group = f"{q}#{self.n}"
        if traced:
            with job_group(self.spark, group):
                wall, ok = self._run(q)
            return Op(q, wall, traced, ok, group_metrics(self.spark, group))
        wall, ok = self._run(q)
        return Op(q, wall, traced, ok, None)

    def layers(self, ops: list[Op]) -> dict:
        m = {}
        for q in self.keys:
            mine = [o for o in ops if o.traced and o.key == q]
            m[f"{q}.wall_s"] = _med([o.wall for o in mine])
            m[f"{q}.jobs"] = _med([len(o.g["jobs"]) for o in mine])
            m[f"{q}.shuffle_write_bytes"] = _med([o.g["shuffle_write_bytes"] for o in mine])
        return m


def unit_wall(wl, ops: list[Op]) -> float:
    """Wall of one unit of work: for each key (the pipeline call, or each
    catalog query) its median wall, summed over keys."""
    return sum(_med([o.wall for o in ops if o.key == k]) for k in wl.keys)


def run_phase(wl, seconds: float, alternate: bool, root_pid: int):
    """Closed loop of whole units (a pipeline call; a pass over every
    catalog query in seeded order): each op starts when the last has
    ended, and units are added until at least ``wl.min_units`` ran and
    ``seconds`` have passed. A fixed minimum keeps the number of units, and
    so where they sit on the warm-up curve, the same from run to run.

    ``alternate`` (traced runs) doubles the units and traces every other
    execution of each key, half the keys starting traced, so traced and
    untraced executions see the same warm-up state."""
    ops: list[Op] = []
    cpu0 = proctree.cpu_seconds(root_pid)
    t0 = time.monotonic()
    min_units = wl.min_units * (2 if alternate else 1)
    done = {k: 0 for k in wl.keys}
    while True:
        counts = set(done.values())
        if (len(counts) == 1 and min(counts) >= min_units
                and time.monotonic() - t0 >= seconds):
            break
        key = wl.next_key()
        traced = alternate and (done[key] + wl.keys.index(key)) % 2 == 1
        done[key] += 1
        ops.append(wl.op(key, traced))
    cpu_s = proctree.cpu_seconds(root_pid) - cpu0
    return ops, cpu_s


def _stage_layers(wl, ops: list[Op]) -> dict:
    """Stage totals per unit of work, over the traced ops."""
    gs = [o.g for o in ops if o.traced]
    units = len(gs) / len(wl.keys)
    return {
        "stages.executor_run_s": sum(g["executor_run_s"] for g in gs) / units,
        "stages.executor_cpu_s": sum(g["executor_cpu_s"] for g in gs) / units,
        "stages.shuffle_read_bytes": sum(g["shuffle_read_bytes"] for g in gs) / units,
        "stages.spill_bytes": sum(g["spill_bytes"] for g in gs) / units,
        "stages.task_skew": _med([g["task_skew"] for g in gs]),
        "stages.jobs": sum(len(g["jobs"]) for g in gs) / units,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("ocr_pipeline", "catalog_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    work = Path.cwd()

    t0 = time.monotonic()
    spark = get_spark(app_name="perfbench", master=MASTER,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    get_spark_s = time.monotonic() - t0
    log(f"get_spark {get_spark_s:.2f}s")

    cls = OcrPipeline if args.workload == "ocr_pipeline" else CatalogMix
    wl = cls(spark, Path(args.data), work, args.seed)
    t0 = time.monotonic()
    warm_ok = wl.warm()
    warm_s = time.monotonic() - t0
    log(f"warm {warm_s:.2f}s ok={warm_ok}")

    t_timed = time.monotonic()
    # Traced runs time twice as long, half of it traced, half not.
    seconds = args.seconds * (2 if args.trace else 1)
    ops, cpu_s = run_phase(wl, seconds, bool(args.trace), os.getpid())
    log(f"timed phase {time.monotonic() - t_timed:.2f}s")
    plain = [o for o in ops if not o.traced]
    units = len(plain) / len(wl.keys)
    log("ops " + " ".join(f"{o.key}{'*' if o.traced else ''}={o.wall:.2f}" for o in ops))
    result = {
        "t_timed": t_timed,
        "wall_s": unit_wall(wl, plain),
        "units": units,
        "attempted": len(ops),
        "failed": sum(not o.ok for o in ops),
        "warm_ok": warm_ok,
        "master": MASTER,
        "layers": None,
    }
    if args.trace:
        traced = [o for o in ops if o.traced]
        layers = {
            "session.get_spark_s": get_spark_s,
            "session.warm_pass_s": warm_s,
            "process.cpu_s": cpu_s / (len(ops) / len(wl.keys)),
            "trace.overhead_s": unit_wall(wl, traced) - unit_wall(wl, plain),
        }
        layers.update(_stage_layers(wl, ops))
        layers.update(wl.layers(ops))
        log("layers done")
        result["layers"] = layers
    Path(args.result).write_text(json.dumps(result))
    spark.stop()
    log("stopped")


if __name__ == "__main__":
    main()
