"""Optimization-round instrumentation (round 6). NOT the driver bench —
bench.py is frozen for measurement; this file exists for guide §1 work:

* per-query noop-sink isolation (`--noop q1 q2 ...`): times ONLY the
  computation (df.write.format("noop")), labeled via setJobDescription;
* plan capture (`--plans q1 q2 ...`): writes .explain("formatted") for
  each named query to plans/r06/<name>_<tag>.txt;
* all timings are best-of-N (default 3) on $SPARK_GRAFT_SF_DIR.

Usage:
  python bench_extra.py --noop fuzzy_dedup_e2e dedup_minhash_lsh
  python bench_extra.py --plans fuzzy_dedup_e2e --tag before
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--noop", nargs="*", default=[])
    ap.add_argument("--plans", nargs="*", default=[])
    ap.add_argument("--tag", default="before")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--clear-cache", action="store_true",
                    help="clear the plan-matched cache between reps")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from ocr_system_spark.session import TIERED_JIT_CONF, get_spark

    # the same tiered driver JIT as bench.py, so the timings compare
    spark = get_spark(cores=CPUS, app_name="bench_extra",
                      shuffle_partitions=max(CPUS, 8),
                      extra_conf=TIERED_JIT_CONF)
    qmap = entrymod.queries()

    for name in args.plans:
        df = qmap[name](spark, SF_DIR)
        out = REPO / "plans" / "r06" / f"{name}_{args.tag}.txt"
        out.parent.mkdir(parents=True, exist_ok=True)
        out.write_text(df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted")))
        print(f"wrote {out}")

    for name in args.noop:
        walls = []
        for i in range(args.reps):
            if args.clear_cache and i:
                spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"{name} rep{i}")
            df = qmap[name](spark, SF_DIR)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            walls.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        print(f"{name:30s} min={min(walls):8.3f}  reps={walls}")

    spark.stop()


if __name__ == "__main__":
    main()
