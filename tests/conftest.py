"""Shared pytest fixtures: one tuned local session + a DuckDB oracle
comparator that mimics the driver's correctness gate (row count, schema,
order-insensitive value comparison with allclose on floats)."""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pytest

SF_DIR = os.environ.get("TSCAN_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    from tscan_spark.session import get_spark

    s = get_spark(app_name="tscan_spark_tests", master="local[4]")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def assert_matches_oracle(df, con, sql: str, rtol=1e-9, atol=1e-9):
    """Driver-style comparison: sorted columns, sorted rows, allclose."""
    got = df.toPandas()
    exp = con.sql(sql).df()
    assert sorted(got.columns) == sorted(exp.columns), (
        f"columns differ: {sorted(got.columns)} vs {sorted(exp.columns)}"
    )
    cols = sorted(got.columns)
    got = got[cols].sort_values(cols, ignore_index=True)
    exp = exp[cols].sort_values(cols, ignore_index=True)
    assert len(got) == len(exp), f"row count {len(got)} vs {len(exp)}"
    for c in cols:
        g, e = got[c], exp[c]
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(e):
            ga = g.astype(float).to_numpy()
            ea = e.astype(float).to_numpy()
            nan_g, nan_e = np.isnan(ga), np.isnan(ea)
            assert (nan_g == nan_e).all(), f"{c}: NaN positions differ"
            assert np.allclose(ga[~nan_g], ea[~nan_e], rtol=rtol, atol=atol), (
                f"{c}: values differ\n{ga[~nan_g][:5]}\n{ea[~nan_e][:5]}"
            )
        else:
            assert g.astype(object).tolist() == e.astype(object).tolist(), (
                f"{c}: values differ\n{g.head()}\n{e.head()}"
            )
