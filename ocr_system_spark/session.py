"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]`` threads; the same config block is what
we would pass to ``spark-submit`` on a real cluster (AQE on, Arrow on,
shuffle partitions sized to cores).

The driver JVM compiles with C1 only (``-XX:TieredStopAtLevel=1``) by
default. The engine's unit of work is a one-shot batch job, and HotSpot's C2
compiler costs a cold job about half of its CPU, on code that the job does
not run long enough to pay back. In ``local[N]`` the driver JVM also runs
every task. Measured with ``perfbench`` on a 4-core host
(``BENCH/BASELINE.md``, 10 paired seeds): the cold job's docs per CPU-second
went from 39.8 to 78.3 on extraction and from 43.1 to 81.5 on dedup, with
warm throughput within its spread. A session that lives for minutes and
runs the same operators again and again is the other case: there C2's code
pays back, and under C1 the warm ``bench.py`` suite went from 14-17 s to
20 s (``window_topk``, ``agg_pricing`` about twice as slow) and the test
suite from 372-443 s to 553-604 s. Such sessions pass
``extra_conf=TIERED_JIT_CONF`` (``bench.py``, ``bench_extra.py`` and the
test suite do). It works because the option goes in
``spark.driver.defaultJavaOptions``, which Spark places before
``spark.driver.extraJavaOptions``, and HotSpot keeps the last value of a
repeated flag. Executors are long-lived on a cluster and run those
operators for hours, so ``spark.executor.*JavaOptions`` stay untouched and
executors keep tiered C1+C2 compilation.
"""

from __future__ import annotations

import os
import tempfile
from pathlib import Path

from pyspark.sql import SparkSession

_REPO_ROOT = str(Path(__file__).resolve().parents[1])


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via ``addPyFile``.

    Works even when the SparkSession was created by someone else (the test
    driver) before this module was imported — the cluster-mode equivalent is
    ``spark-submit --py-files ocr_system_spark.zip``.
    """
    if getattr(spark, "_ocr_system_spark_shipped", False):
        return
    import hashlib
    import zipfile

    pkg_dir = os.path.join(_REPO_ROOT, "ocr_system_spark")
    sources = sorted(os.path.join(root, fn)
                     for root, _dirs, files in os.walk(pkg_dir)
                     for fn in files if fn.endswith(".py"))
    # the zip is named by a digest of the sources it holds: a zip left in
    # the temp dir by another checkout or an older tree must never be
    # shipped in place of this one
    digest = hashlib.sha256()
    for full in sources:
        digest.update(os.path.relpath(full, _REPO_ROOT).encode())
        with open(full, "rb") as fh:
            digest.update(fh.read())
    zip_path = os.path.join(
        tempfile.gettempdir(),
        f"ocr_system_spark_pkg-{digest.hexdigest()[:16]}.zip")
    if not os.path.exists(zip_path):
        # written aside and renamed, so a concurrent process never ships a
        # half-written zip
        part = f"{zip_path}.{os.getpid()}"
        with zipfile.ZipFile(part, "w") as zf:
            for full in sources:
                zf.write(full, os.path.relpath(full, _REPO_ROOT))
        os.replace(part, zip_path)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass  # already added in this context
    spark._ocr_system_spark_shipped = True


def _default_driver_memory() -> str:
    """Half of host RAM, capped at 16g. A driver JVM sized near all of RAM
    grows until the kernel kills it (a 16g heap on a 16 GB host did)."""
    try:
        total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, ValueError, OSError):
        return "16g"
    return f"{min(total // 2 >> 20, 16 << 10)}m"


# Below this much free space at session start, /dev/shm takes no shuffle or
# spill: tmpfs pages are RAM, so a nearly full tmpfs would take memory from
# the driver heap. A round figure, not derived from a measured shuffle
# volume, and checked only once: it guards a tmpfs that is already nearly
# full, not one that a session fills.
_SHM_MIN_FREE_BYTES = 2 << 30

# extra_conf for a long-lived session: tiered C1+C2 in the driver JVM
# instead of the C1-only default (see the module docstring).
TIERED_JIT_CONF = {"spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=4"}


def _local_dir() -> str:
    """Where shuffle and spill files go. ``SPARK_LOCAL_DIRS`` wins; otherwise
    RAM-backed ``/dev/shm`` when it has ``_SHM_MIN_FREE_BYTES`` free (on a
    host with one local disk, that disk's fixed bandwidth serializes
    shuffles; tmpfs models a cluster's per-node local SSDs), else the disk
    temp dir. ``SPARK_GRAFT_DISK_SHUFFLE=1`` opts out of tmpfs."""
    if "SPARK_LOCAL_DIRS" in os.environ:
        return os.environ["SPARK_LOCAL_DIRS"]
    if not os.environ.get("SPARK_GRAFT_DISK_SHUFFLE"):
        try:
            st = os.statvfs("/dev/shm")
        except OSError:
            pass  # no /dev/shm on this host
        else:
            if st.f_bavail * st.f_frsize >= _SHM_MIN_FREE_BYTES:
                return "/dev/shm/spark_local"
    return tempfile.gettempdir()


def get_spark(
    cores: int | str = "*",
    app_name: str = "ocr_system_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` is the local[] parallelism; on a real cluster the master URL
    comes from spark-submit and this arg is ignored by Spark.
    """
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores in ("*",) else max(int(cores), 2) * 2
    # Executor Python workers must be able to import this package. On a real
    # cluster that is `spark-submit --py-files ocr_system_spark.zip`; in
    # local mode the worker processes inherit the driver environment, so
    # prepending the repo root to PYTHONPATH is the equivalent.
    # _workerenv holds a sitecustomize.py that neutralizes the per-task
    # zipimporter cache invalidation (see its docstring) — worth ~150 ms of
    # fixed CPU on EVERY Python task. It must be on the worker interpreter's
    # PYTHONPATH at startup; on a real cluster pass the same directory via
    # --conf spark.executorEnv.PYTHONPATH.
    _workerenv = os.path.join(_REPO_ROOT, "ocr_system_spark", "_workerenv")
    pypath = os.environ.get("PYTHONPATH", "")
    parts = pypath.split(os.pathsep) if pypath else []
    for p in (_workerenv, _REPO_ROOT):
        if p not in parts:
            parts.insert(0, p)
    os.environ["PYTHONPATH"] = os.pathsep.join(parts)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        # AQE: runtime shuffle-partition coalescing + skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Prefer shuffled-hash over sort-merge when a per-partition build
        # side fits (guide §3.1/§9): skips both sort passes on keyed
        # equi-joins. Partition build sides are bounded here by the salting
        # caps (dedup band/shingle joins) and AQE skew splitting; the AQE
        # threshold below additionally converts planned SMJs at runtime
        # when every post-shuffle partition is under 128 MB. Measured at
        # sf1.0: dedup_minhash ~3.6→2.9 s, multi_join 1.71→1.50 s (A/B
        # toggled in one session; SMJ remains the fallback above the
        # threshold, so spill-graceful behavior at scale is unchanged).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                "128m")
        # Arrow transfer for every Python stage: the per-row kernel maps
        # (operators/_rowmap) and the mapInArrow stages that emit rows. Batching
        # is WIDTH-ADAPTIVE (guide §4.2): the byte cap bounds a batch at
        # ~8 MB — the size the round-2 heavy-page bench measured optimal
        # (256 rows × ~32 KB pages; 60 MB batches were 40% slower from
        # Python-worker memory churn) — while the generous row cap lets
        # narrow rows (dedup/token kernels, ~300 B docs) batch 8192 at a
        # time instead of 256, cutting JVM↔Python crossings 32×. Measured:
        # extract_pipeline 5.35→3.64 s, fields_only 2.69→1.94 s at sf1.0;
        # verified the byte cap yields ~84-row batches on 100 KB rows.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "8m")
        # Shuffle partitions sized to local cores, not the 200 default.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # Idempotent per-bucket overwrite for checkpoint-resume (plans/resume.py).
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.local.dir", _local_dir())
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()))
        # C1 only in the driver JVM (see the module docstring). perfbench,
        # 4 cores: cold-job CPU 18.3 -> 10.4 CPU-s on extraction and
        # 29.6 -> 14.0 on dedup; JIT CPU per warm job 3.9 -> 0.7 and
        # 5.9 -> 0.8 CPU-s. defaultJavaOptions comes before
        # extraJavaOptions, so TIERED_JIT_CONF there wins. Executors
        # keep C2.
        .config("spark.driver.defaultJavaOptions", "-XX:TieredStopAtLevel=1")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
