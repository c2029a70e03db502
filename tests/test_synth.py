"""Content pins for the synthetic generators.

The Spark generators and the DuckDB oracle CTEs render their formulas
from one source, so the oracle sweep cannot catch a formula slip both
sides share.  These tests pin each output independently: the sha256 of
its schema string plus its sorted rows must equal a recorded constant.
"""

from __future__ import annotations

import hashlib

import pytest

from geodata_spark import synth

DOCS_SHA = "619f10becf1b564ecc33f922b95bd4dc306cff852c686e6581e7be9bc7e0ebbf"
GRID_SHA = "70de32e5d1c31801c57a609ee92597837aee5e51801465371f86a9d529d3bfa7"
MASK_SHA = "0d789e5a61a005259fe1660f740bd52179d041cda0d8500289a939077c3bfa77"
SPANSX_SHA = "ecd266efa4377dce5744cac967ea12abe96ebf5902e0d9e9b4d24cf7d438d399"
GRIDV_SHA = "96ff5f98dfd67270d7a666daa883940a345b2bd60381b942b56cdfa0d6169cc1"
MASKL_SHA = "db0919a55ededd1e33b61b95a173d76c620e8a86caf03c988b687f2bc5b2a50e"


def _digest(schema: str, rows) -> str:
    body = "\n".join(sorted(repr(tuple(r)) for r in rows))
    return hashlib.sha256(f"{schema}\n{body}".encode()).hexdigest()


def _spark_digest(df) -> str:
    return _digest(df.schema.simpleString(), df.collect())


def _duck_digest(con, sql: str) -> str:
    rel = con.sql(sql)
    schema = ",".join(f"{c}:{t}" for c, t in zip(rel.columns, rel.types))
    return _digest(schema, rel.fetchall())


@pytest.fixture()
def duck5():
    """DuckDB with a 5-row ``documents`` view: 5 × N_DOCS_MULTIPLIER docs."""
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT range AS r FROM range(5)")
    yield con
    con.close()


def test_synth_documents_pinned(spark):
    assert _spark_digest(synth.synth_documents(spark, 200)) == DOCS_SHA


def test_synth_grid_vars_pinned(spark):
    assert _spark_digest(synth.synth_grid_vars(spark, 3, 5, 7)) == GRID_SHA


def test_synth_mask_layers_pinned(spark):
    assert _spark_digest(synth.synth_mask_layers(spark, 5, 7)) == MASK_SHA


def test_documents_cte_pinned(duck5):
    sql = f"WITH {synth.documents_sql_cte()} SELECT * FROM spansx"
    assert _duck_digest(duck5, sql) == SPANSX_SHA


def test_grid_vars_cte_pinned(duck5):
    sql = f"WITH {synth.grid_vars_sql_cte(3, 5, 7)} SELECT * FROM gridv"
    assert _duck_digest(duck5, sql) == GRIDV_SHA


def test_mask_layers_cte_pinned(duck5):
    sql = f"WITH {synth.mask_layers_sql_cte(5, 7)} SELECT * FROM maskl"
    assert _duck_digest(duck5, sql) == MASKL_SHA


def test_urban_patch_concentrates_geo_spans(spark, duck5, monkeypatch):
    """One urban cell repeated and SKEW_LT = SKEW_MOD: every geo span of
    both the Spark corpus and the oracle CTE lands on that cell (the
    skew runs in bench.py patch the module the same way)."""
    from geodata_spark import spatial

    uy, ux = 7, 11
    monkeypatch.setattr(synth, "URBAN", [(uy, ux)] * 4)
    monkeypatch.setattr(synth, "SKEW_LT", synth.SKEW_MOD)
    lat = synth.LAT0 + synth.DLAT * uy
    lon = synth.LON0 + synth.DLON * ux

    pts = spatial.parse_geo_spans(synth.synth_documents(spark, 200))
    got = {(r.lat, r.lon) for r in pts.select("lat", "lon").distinct().collect()}
    assert got == {(lat, lon)}

    sql = (f"WITH {synth.documents_sql_cte()} "
           f"SELECT DISTINCT lat, lon FROM spansx WHERE kind = 'geo'")
    assert set(duck5.execute(sql).fetchall()) == {(lat, lon)}
