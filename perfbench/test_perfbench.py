"""Tests of the benchmark's own code.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

from worker import _write_jobs  # noqa: E402


def test_write_jobs_split_at_output_read_back():
    jobs = [(1, 0.1, "parquet at X"), (2, 2.0, "$anonfun at Y"),
            (3, 0.2, "parquet at X"), (4, 0.5, "$anonfun at Y")]
    assert _write_jobs(jobs) == pytest.approx((2.1, 0.7))
    assert _write_jobs(jobs[1:2]) == (2.0, 0)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from datamunging_spark.session import get_spark

    s = get_spark(app_name="perfbench-test", master="local[2]",
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_group_metrics_counts_jobs_and_repeats_exactly(spark):
    from stagemetrics import group_metrics, job_group

    def tiny(group):
        with job_group(spark, group):
            (spark.range(0, 10000, 1, 4).selectExpr("id % 7 AS k")
             .groupBy("k").count().write.mode("overwrite").format("noop").save())
        return group_metrics(spark, group)

    a, b = tiny("tiny#1"), tiny("tiny#2")
    assert len(a["jobs"]) > 0
    assert a["tasks"] > 0 and a["executor_run_s"] >= 0
    assert a["shuffle_write_bytes"] > 0
    for k in ("stages", "tasks", "shuffle_write_bytes"):
        assert a[k] == b[k], k
    assert len(a["jobs"]) == len(b["jobs"])
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
