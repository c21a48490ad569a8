"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One run is a closed loop on a fresh
``local[4]`` session: one driver submits one job at a time. The steps:

1. generate the workload's input from ``--seed`` (cached per seed, untimed);
2. set up ``SETUPS`` times: start the session, read the input and cache it
   (``setup_s`` is the median; only the first set-up launches the JVM);
3. run one cold job, then warm jobs until ``--seconds`` have passed and
   at least ``MIN_WARM_JOBS`` have run. Jobs are measured in CPU seconds
   of the whole process tree (driver, JVM, Python workers), which on a
   shared host is far steadier than wall time; warm jobs leave out the
   JVM's JIT compiler threads, whose share is a warm-up transient;
4. check every job's output against the known answer, and for the
   extraction workloads run the golden fixtures through the pipeline;
5. with ``--trace 1``, measure each library layer separately (see
   ``workloads.py``), report per-layer metrics instead, and write the spans
   to ``.perfbench_traces/<workload>_<seed>.json``.

The last line of stdout is one JSON object; the lines before it repeat the
metrics with their units for a reader. The exit code is 1 when a
correctness check failed and 2 when the program is missing.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = ROOT / ".perfbench_inputs"
WORK = ROOT / ".perfbench_work"
TRACES = ROOT / ".perfbench_traces"
FIXTURES = ROOT / "tests" / "fixtures"

CORES = 4
SETUPS = 3
INPUT_PARTITIONS = 2 * CORES
DRIVER_MEM = "2g"
# Warm jobs are measured in CPU seconds outside the JVM's JIT compiler
# threads. That figure falls by under 10% from the first job after the
# cold one to the third, the same way in every run, while the JIT's own
# share keeps falling for minutes and varies by 2x from job to job; so no
# job is spent on an untimed warm-up.
MIN_WARM_JOBS = 2
# Past this much run time no further warm job starts once MIN_WARM_JOBS
# have run, so a run on a heavily loaded host still ends in time.
RUN_CAP_S = 60.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env() -> dict:
    """Keep every file the run writes inside the checkout and bound the
    driver heap well below host RAM. Returns the extra Spark conf; it keeps
    the JIT compiler threads alive for the whole run, so that their CPU time
    can be told apart from the rest (see ``probes.tree_cpu_s``)."""
    for d in ("spark_local", "tmp", "warehouse"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark_local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads",
    }


def setup(conf: dict, input_dir: str, columns):
    """Start (or restart) the session, then read and cache the input.
    Returns (spark, data, get_spark seconds, input load seconds)."""
    from ocr_system_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(cores=CORES, app_name="perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    data = (spark.read.parquet(os.path.join(input_dir, "input.parquet"))
            .select(*columns).repartition(INPUT_PARTITIONS).cache())
    data.count()
    return spark, data, t1 - t0, time.perf_counter() - t1


def shutdown_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for both to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def wait_for_children(timeout: float = 30.0) -> None:
    from probes import child_pids

    deadline = time.monotonic() + timeout
    while child_pids(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in child_pids(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def write_trace(args, tracer, metrics: dict) -> Path:
    """Write the run's spans and per-layer metrics, once, at the end."""
    TRACES.mkdir(parents=True, exist_ok=True)
    path = TRACES / f"{args.workload}_{args.seed}.json"
    t0 = tracer.spans[0].start if tracer.spans else 0.0
    path.write_text(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "spans": [{"id": i, "name": s.name, "parent": s.parent,
                   "job_group": s.group, "start_s": s.start - t0,
                   "end_s": s.end - t0} for i, s in enumerate(tracer.spans)],
        "metrics": metrics,
    }, indent=1))
    return path


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "ocr_system_spark" / "__init__.py").is_file():
        print(f"perfbench: no ocr_system_spark package under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))

    from inputs import materialize
    from probes import RssSampler, SparkStats, Tracer, tree_cpu_s
    from workloads import (COMMON_LAYERS, DEDUP_LAYERS, EXTRACT_LAYERS,
                           WORKLOADS, Extraction, layer_unit)

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    spec, make = WORKLOADS[args.workload]
    run_start = time.perf_counter()
    conf = configure_env()
    input_dir, props = materialize(args.workload, spec, args.seed, str(CACHE))
    work = WORK / f"{args.workload}_{args.seed}_{os.getpid()}"
    work.mkdir(parents=True)

    spark = None
    with RssSampler() as rss:
        try:
            setups = []
            for _ in range(SETUPS):
                if spark is not None:
                    data.unpersist()
                    spark.stop()
                spark, data, t_session, t_load = setup(conf, input_dir, spec.columns)
                setups.append((t_session, t_load))
            w = make(spark, data, input_dir, str(work))
            phases = {"setup": time.perf_counter() - run_start}

            attempted = failed = 0

            def timed_job() -> tuple[float, float, float]:
                """(wall seconds, CPU seconds of the process tree, the part
                of them spent compiling in the JIT)."""
                nonlocal attempted, failed
                w.prepare()
                gc.collect()
                c0, j0 = tree_cpu_s(os.getpid())
                t0 = time.perf_counter()
                w.job()
                dt = time.perf_counter() - t0
                c1, j1 = tree_cpu_s(os.getpid())
                a, f = w.check()
                attempted += a
                failed += f
                return dt, c1 - c0, j1 - j0

            rss.take()  # memory is measured over the jobs, not set-up
            cold_s, cold_cpu, _ = timed_job()
            warm = []
            start = time.perf_counter()
            while (len(warm) < MIN_WARM_JOBS
                   or time.perf_counter() - start < args.seconds
                   and time.perf_counter() - run_start < RUN_CAP_S):
                warm.append(timed_job())
            peak_rss, peak_largest = rss.take()
            phases["jobs"] = time.perf_counter() - run_start - sum(phases.values())

            layers = {}
            if args.trace:
                tracer = Tracer(spark.sparkContext)
                layers = w.layers(tracer, args.seed)
                attempted += w.check_after_trace[0]
                failed += w.check_after_trace[1]

            golden_failed = 0
            if isinstance(w, Extraction):
                golden_failed = w.golden_check(str(FIXTURES))
                failed += golden_failed
            task_failures = SparkStats(spark).failed_tasks()
            failed += task_failures
            phases["checks"] = time.perf_counter() - run_start - sum(phases.values())
        finally:
            if spark is not None:
                shutdown_spark(spark)
            wait_for_children()
            shutil.rmtree(work, ignore_errors=True)
    phases["shutdown"] = time.perf_counter() - run_start - sum(phases.values())

    warm_s = statistics.median(t for t, _, _ in warm)
    warm_cpu = statistics.median(c - j for _, c, j in warm)
    warm_jit = statistics.median(j for _, _, j in warm)
    if args.trace:
        metrics = {name: 0.0 for name in
                   COMMON_LAYERS + EXTRACT_LAYERS + DEDUP_LAYERS}
        metrics.update(layers)
        metrics["session.get_spark_s"] = statistics.median(s for s, _ in setups)
        metrics["sources.input_load_s"] = statistics.median(l for _, l in setups)
        # the traced job runs right after the last untraced one, so the
        # two are compared at the same point of JIT warm-up
        metrics["trace.coverage_ratio"] = w.accounted_s / w.traced_s
        metrics["trace.overhead_ratio"] = warm[-1][0] / w.traced_s
        metrics["memory.peak_rss_mb"] = peak_rss / 1e6
        metrics["job.warm_wall_s"] = warm_s
        metrics["job.cold_wall_s"] = cold_s
        metrics["job.warm_jit_cpu_s"] = warm_jit
        units = {name: layer_unit(name) for name in metrics}
    else:
        metrics = {
            "docs_per_cpu_s": w.rows / warm_cpu,
            "cold_docs_per_cpu_s": w.rows / cold_cpu,
            "setup_s": statistics.median(s + l for s, l in setups),
        }
        units = {"docs_per_cpu_s": "docs/cpu-s",
                 "cold_docs_per_cpu_s": "docs/cpu-s", "setup_s": "s"}

    if args.trace:
        write_trace(args, tracer, metrics)
    correct = failed == 0
    print(f"workload {args.workload} seed {args.seed}: input {json.dumps(props)}")
    print(f"  jobs: 1 cold {cold_s:.3f} s wall / {cold_cpu:.2f} cpu-s; "
          f"{len(warm)} warm, wall s / cpu-s outside the JIT / JIT cpu-s: "
          f"{', '.join(f'{t:.3f}/{c - j:.2f}/{j:.2f}' for t, c, j in warm)}")
    print("  set-ups (session s + load s): " + ", ".join(
        f"{a:.2f}+{b:.2f}" for a, b in setups))
    print("  run phases, wall s: " + ", ".join(
        f"{name} {t:.1f}" for name, t in phases.items()))
    print(f"  wall throughput {w.rows / warm_s:.1f} docs/s warm, "
          f"{w.rows / cold_s:.1f} docs/s cold")
    print(f"  peak_rss_mb {peak_rss / 1e6:.0f} MB over the jobs (largest "
          f"process {peak_largest / 1e6:.0f} MB)")
    print(f"  failed_ratio {failed / attempted:.6f} ratio "
          f"({failed} of {attempted} rows; golden rows differing "
          f"{golden_failed}; task failures {task_failures})")
    for name, value in metrics.items():
        print(f"  {name} {value:.6g} {units[name]}")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": float(v), "unit": units[name]}
                    for name, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
