#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload ocr_pipeline --seed 1 --seconds 5 --trace 0

Prepares (or reuses) the seeded inputs, starts the measured process
(``worker.py``) in its own session, samples the resident memory of its
whole process tree, stops every process it started, and prints one JSON
object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. A line before it holds
the run conditions. See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import inputs
import proctree

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
DEADLINE_S = 170
# Reading smaps_rollup walks the JVM's page tables; sampling twice a second
# keeps that off the measured process.
POLL_S = 0.5

# The workloads, metric names and units are the ones BENCHMARK.json declares.
SPEC = json.loads((REPO / "BENCHMARK.json").read_text())


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _stop_session(sid: int) -> None:
    """SIGKILL everything left in the worker's session and wait for it."""
    deadline = time.monotonic() + 30
    while True:
        pids = proctree.session_pids(sid)
        if not pids:
            return
        if time.monotonic() > deadline:
            _fail(f"processes {pids} survived SIGKILL")
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in SPEC["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_begin = time.monotonic()
    # a SIGTERM still runs the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (REPO / "datamunging_spark" / "__init__.py").is_file():
        _fail(f"no datamunging_spark package under {REPO}")
    sys.path.insert(0, str(REPO))
    cache = HERE / ".cache"
    if args.workload == "ocr_pipeline":
        data = inputs.ocr_corpus(args.seed, cache)
    else:
        data = inputs.catalog_tables(args.seed, cache)

    run_dir = HERE / ".run" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local"):
        (run_dir / d).mkdir(parents=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(
            [str(REPO)] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])),
        SPARK_LOCAL_DIRS=str(run_dir / "local"),
        TMPDIR=str(run_dir / "tmp"),
        # every JVM (the Spark launcher's too) keeps its scratch files here
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData",
        # sizes shuffle partitions for the pinned local[2], not the local[32] default
        SPARK_GRAFT_CPUS="2",
        PYSPARK_PYTHON=sys.executable,
    )
    result_path = run_dir / "result.json"
    load_start = proctree.host_load()

    t_spawn = time.monotonic()
    child = subprocess.Popen(
        [sys.executable, str(HERE / "worker.py"),
         "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", str(args.trace),
         "--data", str(data), "--result", str(result_path)],
        cwd=run_dir, env=env, stdout=sys.stderr, start_new_session=True,
    )
    peak_rss = 0
    deadline = t_begin + DEADLINE_S
    try:
        while child.poll() is None:
            peak_rss = max(peak_rss, proctree.resident_bytes(child.pid))
            if time.monotonic() > deadline:
                break
            time.sleep(POLL_S)
    finally:
        if child.poll() is None:
            child.kill()
        child.wait()
        _stop_session(child.pid)
    if child.returncode != 0 or not result_path.exists():
        shutil.rmtree(run_dir, ignore_errors=True)
        _fail(f"worker exited with {child.returncode}")
    res = json.loads(result_path.read_text())
    shutil.rmtree(run_dir, ignore_errors=True)
    load_end = proctree.host_load()

    conditions = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "master": res["master"], "nproc": os.cpu_count(),
        "spark_local_dirs": os.path.relpath(run_dir / "local", REPO),
        "host_start": load_start, "host_end": load_end,
        "timed_units": res["units"],
    }
    print(json.dumps({"conditions": conditions}))
    print(f"perfbench: run took {time.monotonic() - t_begin:.1f}s", file=sys.stderr)

    if args.trace:
        listed = SPEC["per_layer"]
        unknown = set(res["layers"]) - {m["name"] for m in listed}
        if unknown:
            _fail(f"worker reported unlisted metrics {sorted(unknown)}")
        # a layer the workload never enters reports 0 (no pages are munged
        # in catalog_mix, no catalog query runs in ocr_pipeline)
        values = {**{m["name"]: 0 for m in listed}, **res["layers"]}
    else:
        listed = SPEC["end_to_end"]
        values = {"wall_s": res["wall_s"], "setup_s": res["t_timed"] - t_spawn,
                  "peak_rss_mb": peak_rss / 2**20}
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in listed}
    print(json.dumps({
        "correct": res["failed"] == 0 and res["warm_ok"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
