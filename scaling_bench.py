#!/usr/bin/env python
"""Scaling-efficiency evidence (BASELINE.json:14: ">=0.8 from N to 4N
executors"). No real cluster exists in this sandbox, so we run the
IDENTICAL munge job at two parallelism levels — local[N] and local[4N],
N = $SCALING_N_CORES (default a quarter of the usable CPUs) — on the same
input, and report throughput at both plus efficiency = (T_4N/T_N)/4.

Protocol:
- the input corpus (realistic ~35-line OCR pages, seed=42) is written to
  parquet ONCE; both levels read the same files — exactly how the
  production pipeline consumes its spans table (a columnar scan; feeding
  the Python stage from cached row objects serializes on JVM row→Arrow
  conversion and was the original scaling bug);
- each level runs in a fresh subprocess (own JVM) pinned with taskset to
  its width, waits for a quiet host, does a full-width Python-worker
  warmup, then times the munge pass; best of REPEATS clean attempts.

Host load is read through perfbench/proctree.py, the benchmark's own
accounting. Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

from datamunging_spark.session import _usable_cpus
from perfbench import proctree

REPO = Path(__file__).resolve().parent
N_DOCS = int(os.environ.get("SCALING_N_DOCS", "12000"))
REPEATS = 3
# SCALING_JOB=munge (OCR cascade) or extract (HTML/PDF main-content
# extraction) — both are single-Python-stage span pipelines and both are
# north-rule scaling subjects.
JOB = os.environ.get("SCALING_JOB", "munge")
DATA = Path(os.environ.get("SCALING_DATA_DIR", f"/tmp/scaling_{JOB}_{N_DOCS}"))

GEN = r"""
import json, sys
sys.path.insert(0, {repo!r})
from datamunging_spark.session import get_spark
from datamunging_spark.generator import corpus_to_rows, generate_corpus
from datamunging_spark.operators.munge import INPUT_SCHEMA
n_docs = int(sys.argv[1]); out = sys.argv[2]; job = sys.argv[3]
spark = get_spark(app_name="scaling-gen")
if job == "munge":
    docs = generate_corpus(seed=42, n_docs=n_docs, monster_frac=0.05)
    n_pages = sum(1 for _, spans in docs for s in spans if s.kind == "page")
else:
    from datamunging_spark.generator_web import generate_web_corpus
    docs = generate_web_corpus(seed=42, n_docs=n_docs)
    n_pages = sum(
        1 for _, spans in docs for s in spans if s.kind in ("html", "pdf")
    )
vols = spark.createDataFrame(corpus_to_rows(docs), schema=INPUT_SCHEMA)
vols.repartition(128, "doc_id").write.mode("overwrite").parquet(out)
print(json.dumps({{"pages": n_pages}}))
spark.stop()
"""

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from datamunging_spark.session import get_spark
from perfbench import proctree
cores = int(sys.argv[1]); data = sys.argv[2]; job = sys.argv[3]
if job == "munge":
    from datamunging_spark.operators.munge import munge as op
else:
    from datamunging_spark.operators.extract import extract as op
spark = get_spark(app_name=f"scaling-{{cores}}", master=f"local[{{cores}}]",
                  shuffle_partitions=cores)
vols = spark.read.parquet(data)
# full-width warmup: spawn every Python worker once
op(vols, spark).write.mode("overwrite").format("noop").save()
c0 = proctree._cpu_sample()
t0 = time.perf_counter()
op(vols, spark).write.mode("overwrite").format("noop").save()
wall = time.perf_counter() - t0
c1 = proctree._cpu_sample()
dt = max(c1[0] - c0[0], 1)
ncpu = os.cpu_count()
print(json.dumps({{
    "wall_s": wall,
    # whole-host CPU accounting ACROSS the timed pass: this child is
    # taskset-pinned to `cores` CPUs, so host busy beyond `cores` is
    # foreign load, and steal is the hypervisor denying this VM cycles
    "busy_during": ncpu * (1.0 - (c1[1] - c0[1]) / dt),
    "steal_during": ncpu * ((c1[2] - c0[2]) / dt),
}}))
spark.stop()
"""


# The two measured widths: N and 4N "executors" (cores). The default N
# is a quarter of the usable CPUs, so 4N fills the box; a smaller N
# (SCALING_N_CORES=2 on a 32-core host) puts BOTH widths far below host
# capacity -- the closer emulation of discrete executors that each bring
# their own silicon (subdividing one host inherits its hypervisor
# ceiling; see host_ceiling()).
N_CORES = int(os.environ.get("SCALING_N_CORES", str(max(1, _usable_cpus() // 4))))
N4_CORES = 4 * N_CORES

# Load-gated protocol (round-2 verdict item 4): this host is shared and
# its timing noise is load-correlated (BENCH/BASELINE.md), so every timed
# child first WAITS until the instantaneous whole-host busy-core count
# (host CPU counters over 1 s) is <= GATE, giving up after GATE_TIMEOUT
# seconds. The counters react at once when a previous child exits, where
# the 1-min load average needs minutes to decay past its own burst.
GATE = 2.0
GATE_TIMEOUT = 1800.0


def _wait_quiet() -> float:
    t0 = time.time()
    busy = proctree.host_load(interval=1.0)["busy_cores"]
    while busy > GATE and time.time() - t0 < GATE_TIMEOUT:
        time.sleep(5)
        busy = proctree.host_load(interval=1.0)["busy_cores"]
    return busy


def _run(code: str, *args: str, cores: int | None = None) -> dict:
    cmd = [sys.executable, "-c", code.format(repo=str(REPO)), *args]
    if cores is not None:
        # Pin the whole process tree (JVM + Python workers) to exactly
        # `cores` CPUs: an honest N-core executor, not "N task threads
        # free-riding on a 32-core host for GC/Arrow/Python work".
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    out = subprocess.run(
        cmd, capture_output=True, text=True, check=True, cwd=str(REPO)
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


# In-run contamination detection (round-2 verdict item 4): the pre-run
# gate cannot see load that ARRIVES mid-measurement (observed: bursty
# ~20-core neighbor waves plus hypervisor steal up to ~10 cores on this
# box), so each timed child reports whole-host busy/steal across its own
# timed pass. The child is pinned to `cores` CPUs, so host busy beyond
# cores + FOREIGN_SLACK — or steal beyond STEAL_SLACK — marks the repeat
# contaminated and it is retried (up to MAX_TRIES child runs per level).
# Every attempt, accepted or not, is carried into the output for audit.
FOREIGN_SLACK = 1.5
STEAL_SLACK = 1.0
MAX_TRIES = REPEATS * 3


def run_level(cores: int) -> dict:
    attempts: list[dict] = []
    clean: list[dict] = []
    while len(clean) < REPEATS and len(attempts) < MAX_TRIES:
        gate_busy = _wait_quiet()
        res = _run(CHILD, str(cores), str(DATA), JOB, cores=cores)
        # busy beyond the pinned width is foreign load on OTHER cpus (a
        # lower bound on interference: a neighbor sharing the pinned
        # cpus shows up in wall/steal, not busy)
        foreign = max(res["busy_during"] - cores, 0.0)
        attempts.append({
            "wall_s": round(res["wall_s"], 3),
            "gate_busy": gate_busy,
            "foreign_during": round(foreign, 2),
            "steal_during": round(res["steal_during"], 2),
            "contaminated": foreign > FOREIGN_SLACK
            or res["steal_during"] > STEAL_SLACK,
        })
        if not attempts[-1]["contaminated"]:
            clean.append(attempts[-1])
    # all-contaminated: report the best contaminated wall, flagged
    best = min(clean or attempts, key=lambda r: r["wall_s"])
    return {"wall_s": best["wall_s"], "n_clean": len(clean),
            "n_attempts": len(attempts), "attempts": attempts}


CEILING = r"""
import json, multiprocessing as mp, sys, time
def burn(n):
    s = 0
    for i in range(n):
        s += i * i
    return s
workers = int(sys.argv[1])
# 16M iterations/task (not 4M): at 4M the 8-worker probe walls ~1.4 s and
# is noise-dominated — one steal burst inside that window skews the
# ceiling by 2x+ (observed: a "6.39x super-linear" 8->32 ceiling whose
# standalone reruns read 0.85/1.00). 4x the work quarters the noise share.
with mp.Pool(workers) as p:          # warm the pool
    p.map(burn, [10_000] * workers)
    t0 = time.perf_counter()
    p.map(burn, [16_000_000] * workers * 4)
    wall = time.perf_counter() - t0
print(json.dumps({{"workers": workers, "ops_per_s": workers * 4 * 16_000_000 / wall}}))
"""


def host_ceiling() -> dict:
    """The host-achievable parallel-scaling ceiling, measured the same
    way the Spark children are measured (taskset-pinned width): a pure-
    ALU, zero-memory, zero-shuffle multiprocessing loop. On this
    virtualized box even THIS scales at only ~0.8 from 8 to 32 vCPUs
    (no steal, no foreign load — hypervisor-level, invisible to guest
    accounting), so the pipeline's ratio is reported both raw and as a
    fraction of this ceiling. A real N→4N executor comparison multiplies
    silicon instead of subdividing one host's, so the ceiling does not
    transfer to clusters; the fraction-of-ceiling is the transferable
    number."""
    _wait_quiet()
    c_n = _run(CEILING, str(N_CORES), cores=N_CORES)
    _wait_quiet()
    c_4n = _run(CEILING, str(N4_CORES), cores=N4_CORES)
    speedup = c_4n["ops_per_s"] / c_n["ops_per_s"]
    return {
        "ceiling_speedup": round(speedup, 3),
        "ceiling_efficiency": round(speedup / 4.0, 3),
    }


def main() -> None:
    if not (DATA / "_SUCCESS").exists():
        meta = _run(GEN, str(N_DOCS), str(DATA), JOB)
        (DATA / "_meta.json").write_text(json.dumps(meta))
    pages = json.loads((DATA / "_meta.json").read_text())["pages"]

    ceil = host_ceiling()
    rn = run_level(N_CORES)
    r4n = run_level(N4_CORES)
    tn, t4n = pages / rn["wall_s"], pages / r4n["wall_s"]
    speedup = t4n / tn
    eff = speedup / 4.0
    dirty = rn["n_clean"] == 0 or r4n["n_clean"] == 0
    result = {
        "job": JOB,
        "n_docs": N_DOCS,
        "pages": pages,
        "n_cores": N_CORES,
        "local_n_wall_s": round(rn["wall_s"], 3),
        "local_n_pages_per_sec": round(tn, 1),
        "local_4n_wall_s": round(r4n["wall_s"], 3),
        "local_4n_pages_per_sec": round(t4n, 1),
        "speedup_n_to_4n": round(speedup, 3),
        "scaling_efficiency": round(eff, 3),
        **ceil,
        "fraction_of_host_ceiling": round(
            speedup / ceil["ceiling_speedup"], 3
        ),
        "load_gate": GATE,
        "clean_n": f"{rn['n_clean']}/{rn['n_attempts']}",
        "clean_4n": f"{r4n['n_clean']}/{r4n['n_attempts']}",
        "attempts_n": rn["attempts"],
        "attempts_4n": r4n["attempts"],
        "target": 0.8,
        # a level whose every repeat was contaminated fell back to the
        # contaminated pool (run_level reports honestly) — flag it at the
        # top level and refuse to claim the target either way (ADVICE r3)
        "all_contaminated": dirty,
        "meets_target": None if dirty else eff >= 0.8,
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
