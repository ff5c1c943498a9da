#!/usr/bin/env python
"""Optimization-round measurement harness (bench.py is FROZEN; this file
holds the extra instrumentation the optimization guide asks for):

- --explain DIR: write .explain("formatted") per query to DIR/<q>_<tag>.txt
- --noop:        time with the noop sink (computes EVERY column, guide
                 §1.4) instead of bench.py's count()
- --repeat N:    best-of-N (same convention as bench.py)

Usage:
  python bench_extra.py --queries a,b,c [--noop] [--repeat 2] \
      [--explain plans/r06 --tag before]
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--queries", default="")
    ap.add_argument("--repeat", type=int, default=2)
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--explain", default="")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--no-time", action="store_true", help="explain only")
    args = ap.parse_args()

    from tscan_spark.session import get_spark

    spark = get_spark(app_name="tscan_spark_bench_extra", master=f"local[{args.cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    from tscan_spark.registry import QUERIES

    names = [n for n in args.queries.split(",") if n] or list(QUERIES)

    if args.explain:
        os.makedirs(args.explain, exist_ok=True)
        for name in names:
            df = QUERIES[name](spark, args.sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(args.explain, f"{name}_{args.tag}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"# wrote {path} ({plan.count('Exchange')} Exchange refs)")

    if args.no_time:
        spark.stop()
        return

    # warm-up (same rationale as bench.py)
    try:
        QUERIES["tscan_doc_features"](spark, args.sf_dir).count()
    except Exception as exc:
        print(f"# warm-up failed: {exc}")

    timings: dict[str, float] = {}
    for name in names:
        best = float("inf")
        for _ in range(args.repeat):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            df = QUERIES[name](spark, args.sf_dir)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            best = min(best, time.time() - t0)
            spark.sparkContext.setJobDescription(None)
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        timings[name] = round(best, 3)
        print(f"# {name}: {best:.3f}s")
    print(json.dumps({"mode": "noop" if args.noop else "count", "queries": timings}))
    spark.stop()


if __name__ == "__main__":
    main()
