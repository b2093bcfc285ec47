#!/usr/bin/env python3
"""Per-query micro-bench harness for optimization work (bench.py is FROZEN
for measurement; this file exists so individual queries can be timed with
the same methodology — same session shape, same best-of-N + cache-clear
discipline — without paying a full 134-query sweep per iteration).

Usage:
  python bench_extra.py q1,q2,...      # time named queries, best-of-2
  python bench_extra.py q1 --reps 3    # more reps
  python bench_extra.py q1 --explain /tmp/q1_plan.txt
                                       # also dump .explain("formatted")

Prints one JSON line {"queries": {...}} compatible with bench.py's shape.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("names", help="comma-separated query names, or 'all'")
    p.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    p.add_argument("--reps", type=int, default=2)
    p.add_argument("--cpus", type=int, default=8,
                   help="local[N] width (use 32 for driver-comparable runs)")
    p.add_argument("--explain", default=None,
                   help="write .explain('formatted') of each query here "
                        "(single name) or to <dir>/<name>.txt (multiple)")
    args = p.parse_args()

    import __spark_entry__ as contract
    from slowspark.session import get_spark

    spark = get_spark("slowspark-bench-extra", master=f"local[{args.cpus}]",
                      shuffle_partitions=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.perf_counter()
    contract._ensure_oracle_artifacts(spark, args.sf_dir)
    t_art = round(time.perf_counter() - t0, 3)

    all_q = contract.queries()
    names = list(all_q) if args.names == "all" else args.names.split(",")
    unknown = [n for n in names if n not in all_q]
    if unknown:
        print(f"ERROR unknown: {unknown}", file=sys.stderr)
        sys.exit(2)

    timings: dict[str, float] = {"oracle_artifacts_materialize": t_art}
    for name in names:
        fn = all_q[name]
        if args.explain:
            path = (args.explain if len(names) == 1
                    else os.path.join(args.explain, f"{name}.txt"))
            df = fn(spark, args.sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
            with open(path, "w") as f:
                f.write(plan)
            spark.catalog.clearCache()
        best = None
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            t0 = time.perf_counter()
            fn(spark, args.sf_dir).collect()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            spark.catalog.clearCache()
            gc.collect()
            spark.sparkContext._jvm.System.gc()
        timings[name] = round(best, 3)
    spark.stop()
    print(json.dumps({"queries": timings,
                      "total_named": round(sum(
                          v for k, v in timings.items()
                          if k != "oracle_artifacts_materialize"), 3)}))


if __name__ == "__main__":
    main()
