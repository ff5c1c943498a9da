"""Correctness-gate coverage pins (the round-3 verdict's #1 fix).

Two consecutive rounds, the driver's hard correctness gate ran before
the registry froze and silently skipped the newest queries. These tests
make that structurally impossible to miss:

1. every registered query has a DuckDB oracle (or is on the explicit,
   documented no-oracle allowlist), so nothing ships rows-only checked
   by accident;
2. ``CORRECTNESS_HEAD.json`` — the committed full-sweep ledger written
   by ``python tools/check_query.py --json CORRECTNESS_HEAD.json`` —
   covers every registered query and is all-OK. Registering a query
   without re-running the sweep turns the suite red, so the ledger at
   HEAD always proves the whole registry green even if the driver's own
   gate snapshot was stale.

No Spark session needed: these are pure registry/file assertions.
"""

from __future__ import annotations

import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# queries intentionally without a DuckDB oracle (none today; genuinely
# non-SQL-expressible ops would be listed AND justified here)
NO_ORACLE_ALLOWLIST: set[str] = set()


def _registry():
    from tscan_spark.registry import ORACLES, QUERIES

    return QUERIES, ORACLES


def test_every_query_has_an_oracle():
    QUERIES, ORACLES = _registry()
    missing = [n for n in QUERIES if n not in ORACLES and n not in NO_ORACLE_ALLOWLIST]
    assert not missing, f"queries registered without oracles: {missing}"


def test_oracles_have_no_orphans():
    QUERIES, ORACLES = _registry()
    orphans = [n for n in ORACLES if n not in QUERIES]
    assert not orphans, f"oracles without a registered query: {orphans}"


def test_correctness_head_ledger_covers_registry():
    QUERIES, ORACLES = _registry()
    path = os.path.join(REPO, "CORRECTNESS_HEAD.json")
    assert os.path.exists(path), (
        "CORRECTNESS_HEAD.json missing — run "
        "`python tools/check_query.py --json CORRECTNESS_HEAD.json` "
        "after any registry change and commit the ledger"
    )
    with open(path) as f:
        ledger = json.load(f)
    results = ledger["results"]
    uncovered = [n for n in QUERIES if n in ORACLES and n not in results]
    assert not uncovered, (
        f"queries registered after the last sweep: {uncovered} — re-run "
        "`python tools/check_query.py --json CORRECTNESS_HEAD.json`"
    )
    not_ok = {n: v for n, v in results.items() if v != "OK"}
    assert not not_ok, f"sweep ledger has non-OK verdicts: {not_ok}"


def test_correctness_sf01_ledger_covers_registry():
    """Round-5 dual-scale pin: the driver's own gate compares VALUES at
    sf=0.01, while the default sweep runs at sf=0.001 — a query whose
    result is scale-sensitive (float reduction order, quantile edges)
    could be green at one grain and red at the other. The committed
    sf0.01 ledger (`TSCAN_TEST_SF_DIR=/root/testdata/sf0.01
    python tools/check_query.py --json CORRECTNESS_HEAD_SF01.json`)
    proves every registered query green at the driver's grain too."""
    QUERIES, ORACLES = _registry()
    path = os.path.join(REPO, "CORRECTNESS_HEAD_SF01.json")
    assert os.path.exists(path), "CORRECTNESS_HEAD_SF01.json missing"
    with open(path) as f:
        ledger = json.load(f)
    assert ledger["sf_dir"].endswith("sf0.01"), ledger["sf_dir"]
    results = ledger["results"]
    uncovered = [n for n in QUERIES if n in ORACLES and n not in results]
    assert not uncovered, f"queries registered after the sf0.01 sweep: {uncovered}"
    not_ok = {n: v for n, v in results.items() if v != "OK"}
    assert not not_ok, f"sf0.01 ledger has non-OK verdicts: {not_ok}"


def test_bench_head_record_and_summary_budget():
    """BENCH_r04.json was truncation-nulled: the 117-query stdout line
    exceeded the driver's ~2 KB tail capture. Pins: (a) bench.py writes
    the full record to BENCH_HEAD.json (the CORRECTNESS_HEAD.json
    convention) and the committed record parses with the flagship
    metric present; (b) summary_line() keeps the stdout line under the
    capture window even for a 300-query registry."""
    import sys

    sys.path.insert(0, REPO)
    from bench import summary_line

    fake = {
        "metric": "doc_features_seq_per_sec",
        "value": 1234.5,
        "unit": "sec",
        "queries": {f"some_longish_query_name_{i:03d}": i / 7.0 for i in range(300)},
        "sf": "0.1",
        "total_sec": 99.9,
        "cpus": 32,
        "n_docs": 5000,
    }
    line = summary_line(fake)
    assert len(line) <= 1900, len(line)
    parsed = json.loads(line)
    assert parsed["value"] == 1234.5 and parsed["n_queries"] == 300
    assert parsed["queries"], "slowest-queries section missing"
    # the slowest query always survives the budget cut
    assert "some_longish_query_name_299" in parsed["queries"]

    path = os.path.join(REPO, "BENCH_HEAD.json")
    assert os.path.exists(path), (
        "BENCH_HEAD.json missing — run `python bench.py` and commit it"
    )
    with open(path) as f:
        rec = json.load(f)
    assert rec["metric"] == "doc_features_seq_per_sec" and rec["queries"]
