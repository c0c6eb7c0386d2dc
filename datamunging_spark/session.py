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

Defaults follow the host (``session_defaults``): ``local[N]`` over the N
CPUs this process may run on (its affinity mask) and a driver heap of
min(16g, 60% of RAM), where RAM is the smaller of physical memory and the
process's cgroup memory limit. Two sessions side by side (a test run next
to a fuzz run) then still fit in memory.

Serial GC for narrow local masters. A ``local[...]`` master of at most
``SERIAL_GC_MAX_THREADS`` task threads starts its JVM with
``-XX:+UseSerialGC``. That one JVM is driver and executor at once, over
small per-task data. Serial GC sizes the heap by its free ratio, while G1
under a large ``-Xmx`` commits 0.6-1.3 GB for 130-370 MB of live data, and
the process's RSS follows the committed heap. A Serial pause stops every
task thread while one thread collects, so its cost grows with the width:
wider local masters keep G1. Non-local masters keep the JVM defaults too: a
cluster driver plans and collects for remote executors, a job this choice
is not sized for.

The flag goes in ``spark.driver.defaultJavaOptions``, which Spark puts
before ``spark.driver.extraJavaOptions``, so a caller's own JVM options
still apply and win. It is left out when the caller's options or the JVM
option environment variables already choose a collector: with two, the JVM
refuses to start.

C1-only JIT (``-XX:TieredStopAtLevel=1``) is not set. It cuts the JIT's
CPU and memory in short sessions, but with Serial GC it made a five-minute
run of the query catalog 14-38% slower than Serial GC alone, at both 2 and
4 task threads, and nothing seen at start tells a short session from a long
one. A caller whose sessions are short can pass it in
``spark.driver.extraJavaOptions``.
"""

from __future__ import annotations

import atexit
import hashlib
import io
import os
import re
import shutil
import tempfile
import zipfile
from collections.abc import Mapping
from pathlib import Path
from typing import NamedTuple

from pyspark.sql import SparkSession

# Cap on rows per Arrow record batch crossing the JVM<->Python boundary.
# In the munge pass one row is a normal document or a chunk of a monster
# (at most 64 pages plus a 2-page halo each side, operators/chunked.py);
# 64 rows/batch keeps a batch in tens of MB.
ARROW_MAX_RECORDS_PER_BATCH = 64

# Driver heap: this share of physical RAM, at most MAX_DRIVER_MEMORY_MB.
DRIVER_MEMORY_RAM_SHARE = 0.6
MAX_DRIVER_MEMORY_MB = 16 << 10

SERIAL_GC_OPTION = "-XX:+UseSerialGC"
# Widest local master that gets Serial GC. At 2 task threads it cut peak RSS
# by about a quarter, and at 2 and 4 a five-minute query-catalog run took
# +3% and -10% against G1. Wider sessions were not measured with it alone.
SERIAL_GC_MAX_THREADS = 4

# local, local[N], local[*], local[N,F], local[*,F]; not local-cluster[...]
_LOCAL_MASTER = re.compile(r"local(?:\[(\*|\d+)(?:,\d+)?\])?")
_GC_SELECTED = re.compile(
    r"-XX:\+Use(Serial|Parallel|ParallelOld|G1|Z|Shenandoah|Epsilon|ConcMarkSweep)GC\b"
)
# Environment variables whose options reach the driver JVM's command line.
_JVM_OPTION_ENV = (
    "JAVA_TOOL_OPTIONS",
    "_JAVA_OPTIONS",
    "JDK_JAVA_OPTIONS",
    "SPARK_SUBMIT_OPTS",
    "PYSPARK_SUBMIT_ARGS",
)


class SessionDefaults(NamedTuple):
    master: str
    shuffle_partitions: int
    driver_memory: str
    java_options: str  # "" keeps the JVM's own defaults


def session_defaults(
    master: str | None,
    shuffle_partitions: int | None,
    extra_conf: Mapping[str, str] | None,
    *,
    env: Mapping[str, str],
    cpu_count: int,
    ram_bytes: int | None,
) -> SessionDefaults:
    """What ``get_spark`` starts with when the process may use ``cpu_count``
    CPUs and ``ram_bytes`` of RAM (None if unknown). Pure: the host facts and
    the environment come in as arguments.

    ``SPARK_GRAFT_CPUS`` (the ``local[...]`` width) and
    ``SPARK_GRAFT_DRIVER_MEM`` (``spark.driver.memory``) override the host
    values; ``extra_conf`` is applied after these and wins over them.
    """
    cpus = env.get("SPARK_GRAFT_CPUS", str(cpu_count))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:  # e.g. SPARK_GRAFT_CPUS="*"
            shuffle_partitions = max(cpu_count, 8)

    driver_memory = env.get("SPARK_GRAFT_DRIVER_MEM")
    if driver_memory is None:
        mb = MAX_DRIVER_MEMORY_MB
        if ram_bytes:
            mb = min(mb, int(ram_bytes * DRIVER_MEMORY_RAM_SHARE) >> 20)
        driver_memory = f"{mb}m"

    java_options = ""
    width = _local_width(master, cpu_count)
    if width is not None and width <= SERIAL_GC_MAX_THREADS:
        chosen = [env.get(k, "") for k in _JVM_OPTION_ENV]
        chosen.append((extra_conf or {}).get("spark.driver.extraJavaOptions", ""))
        if not any(_GC_SELECTED.search(opts) for opts in chosen):
            java_options = SERIAL_GC_OPTION
    return SessionDefaults(master, shuffle_partitions, driver_memory, java_options)


def _local_width(master: str, cpu_count: int) -> int | None:
    """Task threads of a ``local`` master; None for any other master."""
    m = _LOCAL_MASTER.fullmatch(master)
    if m is None:
        return None
    if m.group(1) is None:
        return 1
    return cpu_count if m.group(1) == "*" else int(m.group(1))


def _usable_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except (AttributeError, OSError):
        return os.cpu_count() or 1


def _ram_bytes(
    cgroup_root: Path = Path("/sys/fs/cgroup"),
    proc_cgroup: Path = Path("/proc/self/cgroup"),
) -> int | None:
    """Physical RAM, or this process's cgroup memory limit if smaller."""
    limit = _cgroup_memory_limit(cgroup_root, proc_cgroup)
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):
        return limit
    return ram if limit is None else min(ram, limit)


def _cgroup_memory_limit(cgroup_root: Path, proc_cgroup: Path) -> int | None:
    """The tightest memory limit on this process's cgroup and its ancestors,
    v2 (``memory.max``) or v1 (``memory.limit_in_bytes``); None if none."""
    try:
        lines = proc_cgroup.read_text().splitlines()
    except OSError:
        return None
    limits = []
    for line in lines:
        hierarchy, controllers, path = line.split(":", 2)
        if hierarchy == "0" and not controllers:
            base, name = cgroup_root, "memory.max"
        elif "memory" in controllers.split(","):
            base, name = cgroup_root / "memory", "memory.limit_in_bytes"
        else:
            continue
        d = base / path.lstrip("/")
        for directory in (d, *d.parents):
            try:
                value = (directory / name).read_text().strip()
            except OSError:
                value = ""
            # "max" (v2) or a page-rounded 2**63 (v1) means no limit
            if value.isdigit() and int(value) < 1 << 62:
                limits.append(int(value))
            if directory == base:
                break
    return min(limits, default=None)


def get_spark(
    app_name: str = "datamunging_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's default tuning.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default the
    CPUs this process may run on); see ``session_defaults`` for the derived
    defaults and the module docstring for the JVM's collector. On a real
    cluster, pass ``master=None`` after spark-submit has set the master, or
    simply let spark-submit's conf win: ``getOrCreate`` reuses an existing
    session.
    """
    d = session_defaults(
        master,
        shuffle_partitions,
        extra_conf,
        env=os.environ,
        cpu_count=_usable_cpus(),
        ram_bytes=_ram_bytes(),
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(d.master)
        .config("spark.sql.shuffle.partitions", str(d.shuffle_partitions))
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
        .config("spark.driver.memory", d.driver_memory)
        .config("spark.sql.files.maxPartitionBytes", "134217728")  # 128 MiB
    )
    if d.java_options:
        builder = builder.config("spark.driver.defaultJavaOptions", d.java_options)
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
    zpath = _package_zip(pkg_dir, _ship_dir())
    spark.sparkContext.addPyFile(str(zpath))
    setattr(spark, key, True)


_SHIP_DIR: Path | None = None


def _ship_dir() -> Path:
    """This process's directory for package zips, made on first use and
    removed at interpreter exit, so zips do not pile up in ``$TMPDIR``.
    Spark serves an ``addPyFile``'d file from its path for the life of the
    session, which ends with the process."""
    global _SHIP_DIR
    if _SHIP_DIR is None:
        _SHIP_DIR = Path(tempfile.mkdtemp(prefix="datamunging_spark_ship-"))
        atexit.register(shutil.rmtree, _SHIP_DIR, ignore_errors=True)
    return _SHIP_DIR


def _package_zip(pkg_dir: Path, out_dir: Path) -> Path:
    """Zip ``pkg_dir`` (without ``__pycache__``) into ``out_dir`` under a
    name that is a hash of the archive's bytes.

    Concurrent sessions share ``out_dir``, and an executor may read the zip
    while another session ships its own. The archive is built in memory
    with fixed entry timestamps, so the same sources give the same bytes
    and the same name, then written to a temp file in ``out_dir`` and
    renamed into place: the final path only ever holds a whole archive.
    """
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for f in sorted(pkg_dir.rglob("*")):
            if "__pycache__" in f.parts or not f.is_file():
                continue
            arcname = (Path(pkg_dir.name) / f.relative_to(pkg_dir)).as_posix()
            info = zipfile.ZipInfo(arcname, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, f.read_bytes())
    data = buf.getvalue()
    digest = hashlib.sha256(data).hexdigest()[:16]
    zpath = out_dir / f"{pkg_dir.name}_pyfiles-{digest}.zip"
    if zpath.exists():
        return zpath
    fd, tmp = tempfile.mkstemp(dir=out_dir, prefix=f".{zpath.name}.", suffix=".tmp")
    try:
        with os.fdopen(fd, "wb") as fh:
            os.fchmod(fh.fileno(), 0o644)  # mkstemp's 0600 would lock out other users
            fh.write(data)
        os.replace(tmp, zpath)
    except BaseException:
        Path(tmp).unlink(missing_ok=True)
        raise
    return zpath
