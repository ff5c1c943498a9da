#!/usr/bin/env python3
"""Write ``reference.json``: the expected schema and content hash of every
benchmark query's output.

Each workload's queries run once on its seed-0 inputs through
``get_spark``. Every output is first compared dtype-strictly with its
DuckDB oracle (``ORACLES``), using ``tools/check_query.py``'s comparison;
the reference is written only if all of them match.

    python3 perfbench/make_reference.py
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    from perfbench import run
    from perfbench.inputs import make_inputs
    from perfbench.outputs import content_hash, schema_string
    from perfbench.workloads import WORKLOADS

    work = os.path.join(run.WORK, "reference")
    shutil.rmtree(work, ignore_errors=True)
    run.prepare_env(work)

    import duckdb

    spec = importlib.util.spec_from_file_location(
        "check_query", os.path.join(ROOT, "tools", "check_query.py")
    )
    check_query = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check_query)

    from tscan_spark.registry import ORACLES, QUERIES

    session = run.Session("get_spark", work)
    spark = session.build(traced=False)
    reference, bad = {}, 0
    try:
        for wl in WORKLOADS.values():
            data_dir = os.path.join(work, wl.name)
            make_inputs(data_dir, 0, wl.copies, wl.tables)
            con = duckdb.connect()
            for table in wl.tables:
                con.sql(
                    f"CREATE VIEW {table} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{table}.parquet/*.parquet')"
                )
            reference[wl.name] = {}
            for name in wl.queries:
                df = QUERIES[name](spark, data_dir)
                verdict = check_query.compare(df.toPandas(), con.sql(ORACLES[name]).df())
                print(f"{wl.name:12s} {name:36s} {verdict}", flush=True)
                if verdict != "OK":
                    bad += 1
                    continue
                reference[wl.name][name] = {
                    "schema": schema_string(df),
                    "hash": content_hash(df),
                }
                spark.catalog.clearCache()
            con.close()
    finally:
        session.shutdown()
    if bad:
        print(f"{bad} outputs differ from their oracles; reference.json not written")
        return 1
    with open(run.REFERENCE, "w") as f:
        json.dump(reference, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    sys.path.insert(0, ROOT)
    sys.exit(main())
