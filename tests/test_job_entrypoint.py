"""Smoke tests for the cluster deployment surface the north rule names:
`spark-submit --py-files tscan_spark.zip jobs/run_features.py` with a
resumable checkpointed write.

These run the real entrypoint as a subprocess (its own SparkSession,
exactly how spark-submit would invoke it in local mode) — the only
coverage path for the argparse/driver wiring itself, which no in-session
test can reach.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("TSCAN_TEST_SF_DIR", "/root/testdata/sf0.001")


def _run(args, **kw):
    env = dict(os.environ, PYTHONPATH=REPO)
    return subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "run_features.py"), *args],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=REPO,
        **kw,
    )


def test_list_names_every_registered_query():
    out = _run(["--list"])
    assert out.returncode == 0, out.stderr[-2000:]
    from tscan_spark.registry import QUERIES

    listed = set(out.stdout.split())
    assert set(QUERIES) <= listed


def test_unknown_query_is_a_loud_error():
    out = _run(["--queries", "no_such_query", "--sf-dir", SF_DIR])
    assert out.returncode == 2
    assert "unknown query" in out.stderr


def test_checkpointed_write_and_metrics_line(tmp_path):
    out_dir, ckpt_dir = str(tmp_path / "out"), str(tmp_path / "ckpt")
    r = _run(
        [
            "--queries",
            "docs_tokenized",
            "--sf-dir",
            SF_DIR,
            "--output",
            out_dir,
            "--checkpoint",
            ckpt_dir,
        ]
    )
    assert r.returncode == 0, r.stderr[-2000:]
    record = json.loads([l for l in r.stdout.splitlines() if l.startswith("{")][-1])
    n = record["queries"]["docs_tokenized"]["rows"]
    assert n > 0
    # the job's own session follows the contract: derived shuffle
    # parallelism (local[*] here) and the debugging wrapper off
    assert record["shuffle_partitions"] == max(len(os.sched_getaffinity(0)), 8)
    assert record["dataframe_debugging"] == "false"
    # the write really landed, resumable-runner layout + lineage present
    assert os.path.isdir(os.path.join(out_dir, "docs_tokenized"))
    assert os.path.isdir(os.path.join(ckpt_dir, "docs_tokenized"))
    import duckdb

    got = duckdb.sql(
        f"SELECT COUNT(*) FROM '{out_dir}/docs_tokenized/**/*.parquet'"
    ).fetchone()[0]
    assert got == n


def test_pyfiles_archive_is_importable(tmp_path):
    out = str(tmp_path / "tscan_spark.zip")
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "make_pyfiles.py"), out],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert r.returncode == 0, r.stderr
    names = set(zipfile.ZipFile(out).namelist())
    assert "tscan_spark/__init__.py" in names
    assert "tscan_spark/registry.py" in names
    assert not any(n.endswith(".pyc") for n in names)
    # the archive alone (plus pyspark) must resolve the registry import
    chk = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys; sys.path.insert(0, sys.argv[1]); "
            "from tscan_spark import registry; print(len(registry.QUERIES))",
            out,
        ],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert chk.returncode == 0, chk.stderr[-2000:]
    assert int(chk.stdout.strip()) >= 118
