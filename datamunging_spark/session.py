"""SparkSession factory tuned for the munging workload.

Local mode is a single JVM with N executor threads; on a real cluster the
same configs apply per executor. Knobs that matter at 100 TB scale:

- AQE on (coalesce post-shuffle partitions, split skewed joins at runtime).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster the
  caller overrides to ~2-3x total cores (AQE coalesces the excess).
- Arrow batch size capped: a row carries a whole document's span array
  (or a monster chunk's), so a handful of big rows must not blow one Arrow batch
  (SURVEY.md §4 item 1 — data skew *inside* a batch, which AQE cannot fix).
- UTC session timezone so timestamps hash identically to the DuckDB oracle.
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

# Cap on rows per Arrow record batch crossing the JVM<->Python boundary.
# In the munge pass one row is a normal document or a chunk of a monster
# (at most 64 pages plus a 2-page halo each side, operators/chunked.py);
# 64 rows/batch keeps a batch in tens of MB.
ARROW_MAX_RECORDS_PER_BATCH = 64


def get_spark(
    app_name: str = "datamunging_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's default tuning.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    On a real cluster, pass ``master=None`` after spark-submit has set the
    master, or simply let spark-submit's conf win: ``getOrCreate`` reuses
    an existing session.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.files.maxPartitionBytes", "134217728")  # 128 MiB
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors regardless of cwd.

    Local mode inherits the driver's sys.path only when the driver happens
    to run from the repo root; a real cluster needs ``spark-submit
    --py-files``. Zipping ourselves and ``addPyFile``-ing the zip covers
    both — it is exactly what --py-files does, done programmatically.
    """
    key = "_datamunging_pyfiles_shipped"
    if getattr(spark, key, False):
        return
    pkg_dir = Path(__file__).resolve().parent
    if not pkg_dir.is_dir():
        # imported from a zip — spark-submit --py-files already shipped
        # the package to driver and executors; nothing to re-zip
        setattr(spark, key, True)
        return
    zpath = Path(tempfile.gettempdir()) / "datamunging_spark_pyfiles.zip"
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for f in sorted(pkg_dir.rglob("*")):
            if "__pycache__" in f.parts or not f.is_file():
                continue
            zf.write(f, Path(pkg_dir.name) / f.relative_to(pkg_dir))
    spark.sparkContext.addPyFile(str(zpath))
    setattr(spark, key, True)
