"""Per-job-group Spark stage metrics, read from the driver's status store.

Works with ``spark.ui.enabled=false``: the status store behind the UI is
kept by the SparkContext either way. Tag work with :func:`job_group`,
then call :func:`group_metrics` for the jobs that group ran.
"""

from __future__ import annotations

import statistics
from contextlib import contextmanager


@contextmanager
def job_group(spark, group: str, description: str = ""):
    """Run the body with ``group`` as the job group of this thread."""
    sc = spark.sparkContext
    sc.setJobGroup(group, description or group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _opt(scala_option, default=None):
    return scala_option.get() if scala_option.isDefined() else default


def group_metrics(spark, group: str) -> dict:
    """Jobs and stage totals of every job run under ``group``.

    ``jobs`` lists (job_id, wall_s, name) in job-id order. ``task_skew`` is
    max/median task run time of the stage with the most executor run time.
    """
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    job_ids = sorted(tracker.getJobIdsForGroup(group))
    jobs, stage_ids = [], set()
    for jid in job_ids:
        jd = store.job(jid)
        sub, done = _opt(jd.submissionTime()), _opt(jd.completionTime())
        wall = (done.getTime() - sub.getTime()) / 1e3 if sub and done else 0.0
        jobs.append((jid, wall, jd.name()))
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict(jobs=jobs, stages=len(stage_ids), executor_run_s=0.0,
               executor_cpu_s=0.0, shuffle_read_bytes=0, shuffle_write_bytes=0,
               spill_bytes=0, tasks=0, task_skew=1.0)
    heaviest = (-1, None)
    for sid in sorted(stage_ids):
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — py4j error: stage skipped, never ran
            continue
        run_ms = sd.executorRunTime()
        out["executor_run_s"] += run_ms / 1e3
        out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["tasks"] += sd.numTasks()
        if run_ms > heaviest[0]:
            heaviest = (run_ms, (sid, sd.attemptId()))
    if heaviest[1] is not None:
        out["task_skew"] = _task_skew(store, *heaviest[1])
    return out


def _task_skew(store, stage_id: int, attempt: int) -> float:
    tasks = store.taskList(stage_id, attempt, 100000)
    it = tasks.iterator()
    times = []
    while it.hasNext():
        m = _opt(it.next().taskMetrics())
        if m is not None:
            times.append(m.executorRunTime())
    if len(times) < 2 or statistics.median(times) <= 0:
        return 1.0
    return max(times) / statistics.median(times)
