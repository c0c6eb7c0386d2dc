"""get_spark's host-derived defaults and its collector for narrow local
masters, and the package zip that every session ships to its executors."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

from datamunging_spark import session
from datamunging_spark.session import SessionDefaults, session_defaults

GIB = 1 << 30
SERIAL = "-XX:+UseSerialGC"
REPO = Path(__file__).resolve().parent.parent


def _defaults(master=None, extra_conf=None, env=None, cpu_count=4, ram_bytes=16 * GIB):
    return session_defaults(
        master, None, extra_conf, env=env or {}, cpu_count=cpu_count, ram_bytes=ram_bytes
    )


def test_defaults_follow_the_host():
    # 60% of 16 GiB = 9830.4 MiB
    assert _defaults() == SessionDefaults("local[4]", 8, "9830m", SERIAL)
    # the heap is capped at 16g on a large host, too wide for Serial GC
    assert _defaults(cpu_count=64, ram_bytes=256 * GIB) == SessionDefaults(
        "local[64]", 64, "16384m", ""
    )
    # unknown RAM falls back to the cap
    assert _defaults(ram_bytes=None).driver_memory == "16384m"


def test_env_overrides_host_defaults():
    env = {"SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "3g"}
    assert _defaults(env=env) == SessionDefaults("local[2]", 8, "3g", SERIAL)
    star = _defaults(env={"SPARK_GRAFT_CPUS": "*"}, cpu_count=12)
    assert (star.master, star.shuffle_partitions) == ("local[*]", 12)


@pytest.mark.parametrize(
    "master", ["spark://h:7077", "yarn", "k8s://https://h:6443", "local-cluster[2,1,1024]"]
)
def test_jvm_defaults_for_non_local_master(master):
    assert _defaults(master=master).java_options == ""


@pytest.mark.parametrize("master", ["local", "local[2]", "local[4]", "local[*]", "local[4,2]"])
def test_serial_gc_for_narrow_local_master(master):
    assert _defaults(master=master, cpu_count=4).java_options == SERIAL


@pytest.mark.parametrize("master", ["local[5]", "local[8]", "local[32]", "local[8,2]"])
def test_jvm_defaults_for_wide_local_master(master):
    assert _defaults(master=master, cpu_count=4).java_options == ""


def test_local_star_width_is_the_cpu_count():
    assert _defaults(master="local[*]", cpu_count=4).java_options == SERIAL
    assert _defaults(master="local[*]", cpu_count=16).java_options == ""
    assert _defaults(master="local[*,2]", cpu_count=16).java_options == ""


@pytest.mark.parametrize(
    "var, value",
    [
        ("JAVA_TOOL_OPTIONS", "-Xss4m -XX:+UseG1GC"),
        ("_JAVA_OPTIONS", "-Xss4m -XX:+UseG1GC"),
        ("JDK_JAVA_OPTIONS", "-Xss4m -XX:+UseG1GC"),
        ("SPARK_SUBMIT_OPTS", "-Xss4m -XX:+UseG1GC"),
        ("PYSPARK_SUBMIT_ARGS", "--driver-java-options -XX:+UseG1GC pyspark-shell"),
    ],
)
def test_gc_flag_left_out_when_env_chooses_a_collector(var, value):
    assert _defaults(env={var: value}).java_options == ""


def test_gc_flag_left_out_when_caller_chooses_a_collector():
    conf = {"spark.driver.extraJavaOptions": "-XX:+UseParallelGC -Xss4m"}
    assert _defaults(extra_conf=conf).java_options == ""
    # other -XX:+Use... flags are not collectors
    conf = {"spark.driver.extraJavaOptions": "-XX:+UseGCOverheadLimit -XX:+UseNUMA"}
    assert _defaults(extra_conf=conf).java_options == SERIAL


def test_wide_local_session_jvm_keeps_the_jvm_defaults(spark):
    # the conftest session is local[8], past SERIAL_GC_MAX_THREADS
    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    assert SERIAL not in args, args


_CHILD = """
import json, sys
sys.path.insert(0, sys.argv[1])
from datamunging_spark.session import get_spark
spark = get_spark(app_name="serial-gc-check", master="local[2]")
jvm = spark.sparkContext._jvm
print(json.dumps(list(
    jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())))
spark.stop()
"""


def test_narrow_local_session_jvm_runs_serial_gc(tmp_path):
    # a local[2] session needs a JVM of its own: getOrCreate would hand
    # back the conftest session
    env = {k: v for k, v in os.environ.items() if k not in session._JVM_OPTION_ENV}
    env["SPARK_GRAFT_DRIVER_MEM"] = "512m"
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, str(REPO)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    args = json.loads(proc.stdout.strip().splitlines()[-1])
    assert SERIAL in args, args


_SHIP_CHILD = """
import json, sys
sys.path.insert(0, sys.argv[1])
from datamunging_spark import session
spark = session.get_spark(app_name="ship-dir-check", master="local[2]")
print(json.dumps([str(p) for p in session._ship_dir().iterdir()]))
spark.stop()
"""


def test_session_leaves_no_package_zip_behind(tmp_path):
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    env = {k: v for k, v in os.environ.items() if k not in session._JVM_OPTION_ENV}
    env.update(SPARK_GRAFT_DRIVER_MEM="512m", TMPDIR=str(tmpdir))
    proc = subprocess.run(
        [sys.executable, "-c", _SHIP_CHILD, str(REPO)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    shipped = [Path(p) for p in json.loads(proc.stdout.strip().splitlines()[-1])]
    # while the session ran, its zip sat in a directory of its own under TMPDIR
    assert len(shipped) == 1 and shipped[0].name.startswith("datamunging_spark_pyfiles-")
    assert shipped[0].parent.parent == tmpdir
    assert not shipped[0].parent.exists()
    assert list(tmpdir.rglob("datamunging_spark_pyfiles-*")) == []


def _cgroup_files(tmp_path, proc_lines, files):
    root = tmp_path / "cgroup"
    for rel, text in files.items():
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        (root / rel).write_text(text)
    proc = tmp_path / "proc_cgroup"
    proc.write_text("".join(line + "\n" for line in proc_lines))
    return root, proc


def test_cgroup_v2_limit_is_the_tightest_of_the_cgroup_and_its_ancestors(tmp_path):
    root, proc = _cgroup_files(
        tmp_path,
        ["0::/a/b"],
        {"a/memory.max": f"{4 * GIB}\n", "a/b/memory.max": "max\n", "memory.max": "max\n"},
    )
    assert session._cgroup_memory_limit(root, proc) == 4 * GIB
    # a limit below RAM caps the RAM the heap is sized from
    assert session._ram_bytes(root, proc) == 4 * GIB


def test_cgroup_v1_limit_and_no_limit(tmp_path):
    unlimited = str(9223372036854771712)
    root, proc = _cgroup_files(
        tmp_path,
        ["5:cpu,cpuacct:/x", "4:memory:/x/y"],
        {"memory/x/y/memory.limit_in_bytes": f"{2 * GIB}", "memory/memory.limit_in_bytes": unlimited},
    )
    assert session._cgroup_memory_limit(root, proc) == 2 * GIB
    root, proc = _cgroup_files(
        tmp_path / "none", ["4:memory:/x"], {"memory/x/memory.limit_in_bytes": unlimited}
    )
    assert session._cgroup_memory_limit(root, proc) is None
    # no limit: RAM is the physical RAM
    assert session._ram_bytes(root, proc) == os.sysconf("SC_PAGE_SIZE") * os.sysconf(
        "SC_PHYS_PAGES"
    )
    assert session._cgroup_memory_limit(root, tmp_path / "missing") is None


def test_usable_cpus_follow_the_affinity_mask():
    assert session._usable_cpus() == len(os.sched_getaffinity(0))


def _pkg(root: Path, body: str) -> Path:
    pkg = root / "pkg"
    (pkg / "__pycache__").mkdir(parents=True)
    (pkg / "__init__.py").write_text(body)
    (pkg / "__pycache__" / "x.pyc").write_bytes(b"skipped")
    return pkg


def test_package_zip_name_is_a_content_hash(tmp_path):
    out = tmp_path / "out"
    out.mkdir()
    a = session._package_zip(_pkg(tmp_path / "a", "X = 1\n"), out)
    b = session._package_zip(_pkg(tmp_path / "b", "X = 1\n"), out)
    c = session._package_zip(_pkg(tmp_path / "c", "X = 2\n"), out)
    assert a == b and a != c
    assert a.parent == out and a.name.startswith("pkg_pyfiles-")
    assert zipfile.ZipFile(a).namelist() == ["pkg/__init__.py"]
    assert sorted(p.name for p in out.iterdir()) == sorted({a.name, c.name})


def test_package_zip_final_path_only_holds_a_whole_archive(tmp_path, monkeypatch):
    out = tmp_path / "out"
    out.mkdir()
    pkg = _pkg(tmp_path, "X = 1\n" * 1000)
    real_replace = os.replace
    renames = []

    def checked_replace(src, dst):
        # at the rename, the final path is still absent and the temp file
        # beside it is already a complete, valid archive
        assert not Path(dst).exists()
        assert Path(src).parent == Path(dst).parent
        with zipfile.ZipFile(src) as zf:
            assert zf.testzip() is None and zf.namelist() == ["pkg/__init__.py"]
        renames.append(dst)
        real_replace(src, dst)

    monkeypatch.setattr(session.os, "replace", checked_replace)
    zpath = session._package_zip(pkg, out)
    assert renames == [zpath] and list(out.iterdir()) == [zpath]

    # a failed write leaves neither a final file nor a temp file behind
    shutil.rmtree(out)
    out.mkdir()

    def failing_replace(src, dst):
        raise OSError("disk full")

    monkeypatch.setattr(session.os, "replace", failing_replace)
    with pytest.raises(OSError, match="disk full"):
        session._package_zip(pkg, out)
    assert list(out.iterdir()) == []
