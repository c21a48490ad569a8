"""``get_spark``'s JVM and local-dir defaults: the driver JVM compiles with
C1 only unless the caller passes ``TIERED_JIT_CONF`` (the test session
does), and shuffle goes to /dev/shm only when it has room."""

from __future__ import annotations

import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

from ocr_system_spark import session

C1_ONLY = "-XX:TieredStopAtLevel=1"
TIERED = session.TIERED_JIT_CONF["spark.driver.extraJavaOptions"]

_READ_TIER = """
import sys
sys.path.insert(0, sys.argv[1])
from ocr_system_spark.session import get_spark
spark = get_spark(cores=1, app_name="jit_probe", shuffle_partitions=2)
mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
diag = mf.getPlatformMXBean(spark.sparkContext._jvm.java.lang.Class.forName(
    "com.sun.management.HotSpotDiagnosticMXBean"))
print("TIER", diag.getVMOption("TieredStopAtLevel").getValue())
spark.stop()
"""


def _tier_level(spark) -> str:
    jvm = spark.sparkContext._jvm
    diag = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    return diag.getVMOption("TieredStopAtLevel").getValue()


def test_default_driver_jvm_runs_c1_only(tmp_path):
    # a fresh JVM: the test session itself runs with the tiered override
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="512m",
               SPARK_LOCAL_DIRS=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", _READ_TIER, str(session._REPO_ROOT)],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    assert "TIER 1" in out.stdout.splitlines()


def test_tiered_jit_conf_overrides_c1(spark):
    # Spark puts defaultJavaOptions first and HotSpot keeps the last value
    # of a repeated flag, so the caller's extraJavaOptions restores C2
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    args = list(mx.getRuntimeMXBean().getInputArguments())
    assert args.index(C1_ONLY) < args.index(TIERED)
    assert _tier_level(spark) == "4"


def test_c1_option_is_driver_default_only(spark):
    conf = spark.sparkContext.getConf()
    assert C1_ONLY in conf.get("spark.driver.defaultJavaOptions").split()
    assert C1_ONLY not in conf.get("spark.driver.extraJavaOptions", "").split()
    assert C1_ONLY not in conf.get("spark.executor.defaultJavaOptions", "")
    assert C1_ONLY not in conf.get("spark.executor.extraJavaOptions", "")


def _statvfs(free_bytes):
    def fake(path):
        assert path == "/dev/shm"
        return SimpleNamespace(f_bavail=free_bytes // 4096, f_frsize=4096)
    return fake


def _no_shm(path):
    raise FileNotFoundError(path)


@pytest.fixture
def bare_env(monkeypatch, tmp_path):
    monkeypatch.delenv("SPARK_LOCAL_DIRS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DISK_SHUFFLE", raising=False)
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr(session.tempfile, "tempdir", None)
    return str(tmp_path)


def test_local_dir_roomy_tmpfs(monkeypatch, bare_env):
    monkeypatch.setattr(os, "statvfs",
                        _statvfs(session._SHM_MIN_FREE_BYTES * 4))
    assert session._local_dir() == "/dev/shm/spark_local"


def test_local_dir_small_tmpfs_falls_back_to_disk(monkeypatch, bare_env):
    monkeypatch.setattr(os, "statvfs",
                        _statvfs(session._SHM_MIN_FREE_BYTES // 2))
    assert session._local_dir() == bare_env


def test_local_dir_without_dev_shm(monkeypatch, bare_env):
    monkeypatch.setattr(os, "statvfs", _no_shm)
    assert session._local_dir() == bare_env


def test_local_dir_env_overrides(monkeypatch, bare_env):
    monkeypatch.setattr(os, "statvfs",
                        _statvfs(session._SHM_MIN_FREE_BYTES * 4))
    monkeypatch.setenv("SPARK_GRAFT_DISK_SHUFFLE", "1")
    assert session._local_dir() == bare_env
    monkeypatch.setenv("SPARK_LOCAL_DIRS", "/somewhere/else")
    assert session._local_dir() == "/somewhere/else"
