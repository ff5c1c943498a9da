"""Ad-hoc driver-gate replica: run registered queries against their
DuckDB oracles at a small SF and report rows/schema/value matches.

Usage: python tools/check_query.py [--json OUT] [query ...]
       (no queries = all oracled)
Env:   TSCAN_TEST_SF_DIR (default /root/testdata/sf0.001)

``--json CORRECTNESS_HEAD.json`` (full sweep only) writes the machine-
readable ledger that tests/test_registry_gate.py pins against the
registry: committing it as the round's LAST registry-affecting step
makes a stale driver gate detectable — every registered query must have
a fresh sweep verdict at HEAD, so "registered after the gate ran" can
no longer silently skip verification.
"""

from __future__ import annotations

import os
import sys
import traceback

import duckdb
import numpy as np
import pandas as pd

# Python puts tools/ on sys.path when invoked as a script; the package
# lives at the repo root one level up (same fallback jobs/run_features.py
# uses), so `python tools/check_query.py` works without PYTHONPATH=.
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if os.path.isdir(os.path.join(_REPO, "tscan_spark")) and _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF_DIR = os.environ.get("TSCAN_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def compare(got: pd.DataFrame, exp: pd.DataFrame) -> str:
    if sorted(got.columns) != sorted(exp.columns):
        return f"SCHEMA {sorted(got.columns)} vs {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"ROWS {len(got)} vs {len(exp)}"
    cols = sorted(got.columns)
    got = got[cols].sort_values(cols, ignore_index=True)
    exp = exp[cols].sort_values(cols, ignore_index=True)
    for c in cols:
        g, e = got[c], exp[c]
        # The driver hashes exact TYPED values: int64-vs-float64 or
        # Decimal(object)-vs-float64 fails its gate even when every
        # value matches (all 5 round-5 hash-reds were this class), so
        # the replica must fail on dtype first.
        if str(g.dtype) != str(e.dtype):
            return f"DTYPE {c}: {g.dtype} vs {e.dtype}"
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(e):
            ga, ea = g.astype(float).to_numpy(), e.astype(float).to_numpy()
            ng, ne = np.isnan(ga), np.isnan(ea)
            if not (ng == ne).all():
                return f"NAN {c}"
            if not np.allclose(ga[~ng], ea[~ne], rtol=1e-9, atol=1e-9):
                bad = np.where(~np.isclose(ga[~ng], ea[~ne], rtol=1e-9, atol=1e-9))[0][:3]
                return f"VALUES {c} at {bad}: {ga[~ng][bad]} vs {ea[~ne][bad]}"
        else:
            if g.astype(object).tolist() != e.astype(object).tolist():
                mism = [
                    (i, a, b)
                    for i, (a, b) in enumerate(zip(g.tolist(), e.tolist()))
                    if a != b
                ][:3]
                return f"VALUES {c}: {mism}"
    return "OK"


def main() -> int:
    from tscan_spark.session import get_spark
    from tscan_spark.registry import QUERIES, ORACLES

    argv = sys.argv[1:]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]

    spark = get_spark(app_name="check", master="local[8]")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    names = argv or [n for n in QUERIES if n in ORACLES]
    rc = 0
    results: dict[str, str] = {}
    for n in names:
        try:
            got = QUERIES[n](spark, SF_DIR).toPandas()
            exp = con.sql(ORACLES[n]).df()
            verdict = compare(got, exp)
        except Exception:
            verdict = "ERR " + traceback.format_exc(limit=3).splitlines()[-1]
        if verdict != "OK":
            rc = 1
        results[n] = verdict
        print(f"{n:40s} {verdict}")
    if json_out is not None:
        import json
        import subprocess

        rev = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True,
            cwd=_REPO,
        ).stdout.strip()
        ledger = {
            "sf_dir": SF_DIR,
            "git_head_when_run": rev,
            "n_queries": len(results),
            "n_ok": sum(1 for v in results.values() if v == "OK"),
            "results": results,
        }
        with open(json_out, "w") as f:
            json.dump(ledger, f, indent=1, sort_keys=True)
        print(f"# wrote {json_out}: {ledger['n_ok']}/{ledger['n_queries']} OK")
    spark.stop()
    return rc


if __name__ == "__main__":
    sys.exit(main())
