from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from geodata_spark.deploy import ensure_py_files
    from geodata_spark.session import get_spark

    s = get_spark("geodata_spark_tests", master="local[8]", shuffle_partitions=8)
    # ship the package zip so Python-UDF tests pass from ANY CWD (the
    # driver-contract discipline: repo CWD must never be load-bearing)
    ensure_py_files(s)
    yield s


@pytest.fixture
def distributed_fixpoint(monkeypatch):
    """Every fixpoint state is above the driver-finish bound: the
    distributed rounds run (the default bound takes the driver path)."""
    from geodata_spark import fixpoint

    monkeypatch.setattr(fixpoint, "LOCAL_MAX_ROWS", 0)


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    yield con
    con.close()


def compare_spark_duck(sdf, duck_con, sql: str, float_cols=(), sort_cols=None):
    """Row-for-row comparison after sorting by all columns.

    float_cols compared with exact equality by default (the synth
    corpus is dyadic-exact); pass a tolerance dict to relax.
    """
    import pandas as pd

    left = sdf.toPandas()
    right = duck_con.execute(sql).df()
    assert sorted(left.columns) == sorted(right.columns), (
        f"columns differ: {sorted(left.columns)} vs {sorted(right.columns)}"
    )
    cols = sorted(left.columns)
    left = left[cols].sort_values(cols).reset_index(drop=True)
    right = right[cols].sort_values(cols).reset_index(drop=True)
    assert len(left) == len(right), f"row counts differ: {len(left)} vs {len(right)}"
    for c in cols:
        l, r = left[c], right[c]
        # catch type drift (e.g. Spark DECIMAL from literal arithmetic
        # arriving as object dtype) — the driver's schema check would
        assert (l.dtype.kind in "fiu") == (r.dtype.kind in "fiu"), (
            f"column {c} dtype mismatch: {l.dtype} vs {r.dtype}"
        )
        if l.dtype.kind == "f" or r.dtype.kind == "f":
            pd.testing.assert_series_equal(
                l.astype("float64"), r.astype("float64"), check_names=False, rtol=0, atol=0
            )
        else:
            assert (l.astype(str) == r.astype(str)).all(), f"column {c} differs"
