# Entry points for the datamunging_spark engine.
PY ?= python

.PHONY: test correctness fuzz fuzz-streaming bench perfbench scaling scaling-under scaling-extract

# Differential fuzzing: engine vs DuckDB oracle on randomized HOSTILE
# corpora (empty texts, zero vectors, duplicates, unicode) — catches
# data-dependent divergences sf0.01 never triggers
fuzz:
	$(PY) tools/fuzz_correctness.py 3

# Streaming differential fuzzing (r5): curate/munge/sessionize streaming
# jobs vs their batch twins on hostile corpora, with a mid-stream
# restart (checkpoint resume) + replayed batch per trial
fuzz-streaming:
	$(PY) tools/fuzz_streaming.py 3

# pytest + the full-catalog correctness artifact: regenerating
# CORRECTNESS_local.json in the default flow keeps the artifact from
# going stale vs the catalog (r3 verdict item 9)
test:
	$(PY) -m pytest tests/ -x -q
	$(PY) tools/gen_correctness.py

# Full-catalog correctness artifact (all 90+ queries, not just the
# driver's 50-slot window) -> CORRECTNESS_local.json
correctness:
	$(PY) tools/gen_correctness.py

bench:
	$(PY) bench.py

# The benchmark's own tests, then one untraced ocr_pipeline run (prints the
# run conditions and one JSON result line; see perfbench/README.md)
perfbench:
	$(PY) -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
	$(PY) perfbench/run.py --workload ocr_pipeline --seed 1 --seconds 5 --trace 0

# Scaling evidence (see scaling_bench.py): taskset-pinned N and 4N
# widths, each attempt behind a busy-core gate and retried when foreign
# load or steal contaminates it, plus a pure-ALU host-ceiling probe.
# `scaling` takes N from the host (a quarter of its CPUs, so 4N fills
# it); scaling-under runs 2->8, both widths below the capacity of a
# large host, the closer emulation of discrete N->4N executors.
scaling:
	SCALING_N_DOCS=24000 $(PY) scaling_bench.py

scaling-under:
	SCALING_N_DOCS=24000 SCALING_N_CORES=2 $(PY) scaling_bench.py

scaling-extract:
	SCALING_JOB=extract SCALING_N_DOCS=160000 SCALING_N_CORES=2 $(PY) scaling_bench.py
