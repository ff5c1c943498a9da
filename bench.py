#!/usr/bin/env python
"""Headline benchmark: runs the registry's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[N] (N = the cores this process may run on) and prints ONE JSON line.

Usage: python bench.py [--cpus N] [--sf-dir DIR] [--queries a,b,c]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--queries", default="")
    # best-of-2 by default: this shared host has documented noise
    # windows that inflate random queries 3-6x within a single battery
    # (BENCH.md round-4 adjudication), and a query's first execution
    # also carries its one-time codegen/JIT cost; the second sample
    # reports warm steady-state, so one noise spike or cold compile
    # cannot masquerade as a regression. Wall time doubles; the
    # reported per-query numbers are the reproducible ones.
    ap.add_argument("--repeat", type=int, default=2)
    args = ap.parse_args()

    from tscan_spark.session import get_spark

    spark = get_spark(app_name="tscan_spark_bench", master=f"local[{args.cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    from tscan_spark.registry import QUERIES

    names = [n for n in args.queries.split(",") if n] or list(QUERIES)
    n_docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet").count()

    # one warm-up pass of the flagship ladder: JVM class loading,
    # analyzer rule init, codegen compiler and Python worker spawn all
    # land here instead of inflating whichever query happens to run
    # first (measured: first-query cost was 4-7x its steady state).
    # Pure warm-up — NOT counted as a timing sample, so every query gets
    # exactly --repeat samples (an asymmetric extra sample could only
    # flatter the flagship's best time).
    try:
        QUERIES["tscan_doc_features"](spark, args.sf_dir).count()
    except Exception as exc:  # surface, don't swallow: a broken flagship
        print(f"# warm-up failed: {exc}", file=sys.stderr)

    timings: dict[str, float] = {}
    total = 0.0
    for name in names:
        best = float("inf")
        for _ in range(args.repeat):
            t0 = time.time()
            df = QUERIES[name](spark, args.sf_dir)
            # count() forces full execution without driver-collect overhead
            df.count()
            best = min(best, time.time() - t0)
        # drop any caches a query persisted so later queries aren't
        # penalized by leaked storage/GC pressure
        spark.catalog.clearCache()
        # deterministic full GC BETWEEN queries (never inside a timed
        # window): broadcast/shuffle cleanup and JIT/metaspace class
        # unloading only happen at full GC, and ~60 wide codegen
        # queries otherwise degrade the session tail 3-45x (measured;
        # a periodic GC timer instead lands multi-second pauses inside
        # whichever query is running when it fires)
        spark.sparkContext._jvm.System.gc()
        timings[name] = round(best, 3)
        total += best
        print(f"# {name}: {best:.3f}s", file=sys.stderr)

    # headline metric: documents (sequences) per second through the full
    # T-Scan document-feature ladder
    flag = timings.get("tscan_doc_features", total)
    record = {
        "metric": "doc_features_seq_per_sec",
        "value": round(n_docs / flag, 2) if flag else None,
        "unit": "sec",
        "queries": timings,
        "sf": args.sf_dir.rstrip("/").split("sf")[-1],
        "total_sec": round(total, 3),
        "cpus": args.cpus,
        "n_docs": n_docs,
    }
    # full record to disk (BENCH_HEAD.json, the CORRECTNESS_HEAD.json
    # convention): the driver's tail capture is ~2 KB, and round 4's
    # 117-query line was ~4.5 KB — the captured front-truncated line
    # parsed as null and the flagship number fell out of the record.
    repo = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(repo, "BENCH_HEAD.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(summary_line(record), flush=True)


def summary_line(record: dict, budget: int = 1800) -> str:
    """The ONE stdout JSON line, guaranteed to fit a ~2 KB tail capture:
    all headline fields plus the slowest queries that fit the byte
    budget (slowest first — they are what regression-watching reads);
    the full per-query map lives in BENCH_HEAD.json."""
    slim = {k: v for k, v in record.items() if k != "queries"}
    slim["n_queries"] = len(record["queries"])
    slim["queries_full"] = "BENCH_HEAD.json"
    slim["queries"] = {}
    by_cost = sorted(record["queries"].items(), key=lambda kv: (-kv[1], kv[0]))
    for name, sec in by_cost:
        slim["queries"][name] = sec
        if len(json.dumps(slim)) > budget:
            del slim["queries"][name]
            break
    return json.dumps(slim)


if __name__ == "__main__":
    main()
