"""The zonal path built from SQL text: pinned output schemas, a build
bound in py4j round trips, safe quoting of caller-supplied names and
values, and the zone join's PIP against the numpy ray cast."""

from __future__ import annotations

import datetime
import decimal
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from geodata_spark import geometry, hexgrid, spatial, sqltext, zonal
from geodata_spark.synth import synth_documents
from geodata_spark.zones import ZONES

PARSED_SCHEMA = [
    ("doc_id", "string"), ("span_idx", "int"), ("kind", "string"), ("offset", "int"),
    ("lat", "double"), ("lon", "double"), ("hour", "bigint"), ("val", "double"),
    ("ts", "timestamp"),
]
TINY = {
    "rect": [np.array([(100.0, 30.0), (104.0, 30.0), (104.0, 33.0), (100.0, 33.0)])],
    "tri": [np.array([(104.0, 30.0), (108.0, 30.0), (104.0, 34.0)])],
}


def _schema(df):
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


@pytest.fixture(scope="module")
def docs_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("sqltext") / "docs")
    synth_documents(spark, 400).write.parquet(path)
    return path


def test_parse_geo_spans_schema_batch_and_streaming(spark, docs_path):
    batch = spatial.parse_geo_spans(spark.read.parquet(docs_path))
    assert _schema(batch) == PARSED_SCHEMA
    stream = spark.readStream.schema(spark.read.parquet(docs_path).schema).parquet(docs_path)
    parsed = spatial.parse_geo_spans(stream, kinds=("geo", "raster_tile"))
    assert parsed.isStreaming and _schema(parsed) == PARSED_SCHEMA


@pytest.mark.parametrize("grain,res", [("grid", 8), ("hex", 4)])
def test_join_zones_schema_and_key(spark, grain, res):
    """Key column first, holding the point's own cell id (at hex grain
    too, where the join probes the ancestors of a compacted cover),
    then the point's columns in order, then zone_id."""
    pts = spark.range(300).selectExpr(
        "id", "29.13D + (id % 20) * 0.251D AS lat", "'x' AS tag", "98.71D + (id div 20) * 0.607D AS lon"
    )
    out = spatial.join_zones(pts, spark, TINY, res=res, grain=grain)
    key = f"cell_hex{res}" if grain == "hex" else f"cell_r{res}"
    assert _schema(out) == [
        (key, "bigint"), ("id", "bigint"), ("lat", "double"), ("tag", "string"),
        ("lon", "double"), ("zone_id", "string"),
    ]
    rows = out.collect()
    assert rows
    lat = np.array([r.lat for r in rows])
    lon = np.array([r.lon for r in rows])
    if grain == "hex":
        want = hexgrid.hex7_id_np(lat, lon, res)
    else:
        from geodata_spark import cells

        want = cells.cell_id_np(lat, lon, res)
    assert (np.array([r[key] for r in rows]) == want).all()


def _count_py4j(spark, build):
    """Round trips the gateway client sends while ``build()`` runs, as
    perfbench/trace.py counts them (by wrapping ``send_command``), less
    py4j's deletes of collected proxies ("m" commands), which arrive
    whenever Python frees one."""
    client = spark.sparkContext._gateway._gateway_client
    send, calls = client.send_command, [0]

    def counted(command, *args, **kwargs):
        calls[0] += not command.startswith("m\n")
        return send(command, *args, **kwargs)

    client.send_command = counted
    try:
        build()
    finally:
        client.send_command = send
    return calls[0]


# ~1.5x the counts of the SQL-text builders on Spark 4.1 (grid 90,
# hex 82); the Column-algebra builders they replaced took 766 and 642
BUILD_PY4J_LIMIT = {"grid": 135, "hex": 125}


@pytest.mark.parametrize("grain,res", [("grid", 9), ("hex", 5)])
def test_zonal_build_py4j_bound(spark, docs_path, grain, res):
    docs = spark.read.parquet(docs_path)

    def build():
        pts = spatial.parse_geo_spans(docs)
        zoned = spatial.join_zones(pts, spark, ZONES, res=res, grain=grain)
        return zonal.zonal_weighted_mean(zoned, "val", "lat", ["zone_id"], out_col="wavg")

    build()  # cover memo and cached schemas warm
    assert _count_py4j(spark, build) <= BUILD_PY4J_LIMIT[grain]


def test_kinds_and_names_are_quoted(spark):
    """A kind holding a quote or a backslash selects exactly its spans,
    and a column name holding a backquote passes through the join."""
    odd = ["it's", "back\\slash", "geo' OR '1'='1"]
    spans = [(k, "", "geo:31.0,101.0@h3#var=t&val=2.0", i) for i, k in enumerate(["geo", *odd])]
    docs = spark.createDataFrame(
        [("d0", spans)],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    for kind in odd:
        got = spatial.parse_geo_spans(docs, kinds=(kind,)).collect()
        assert [r.kind for r in got] == [kind]
    assert spatial.parse_geo_spans(docs, kinds=()).count() == 0
    pts = spatial.parse_geo_spans(docs).withColumnRenamed("val", "v`al")
    for grain, res in (("grid", 8), ("hex", 4)):
        out = spatial.join_zones(pts, spark, TINY, res=res, grain=grain)
        key = f"cell_hex{res}" if grain == "hex" else f"cell_r{res}"
        assert out.columns == [key, *pts.columns, "zone_id"]
        assert [(r["zone_id"], r["v`al"]) for r in out.collect()] == [("rect", 2.0)]
        mean = zonal.zonal_weighted_mean(out, "v`al", "lat", ["zone_id"], out_col="w`avg")
        assert mean.columns == ["zone_id", "w`avg", "weight_sum", "n_points"]


LITERALS = [
    None, True, 7, -(2**40), 2.5, -0.1, float("inf"), decimal.Decimal("-1.250"),
    "a'b\\c", datetime.date(2024, 2, 29), datetime.datetime(2024, 2, 29, 13, 5, 7, 125),
]


def test_sqltext_lit_matches_f_lit(spark):
    """Each literal text is the value and type ``F.lit`` gives."""
    texts = [f"{sqltext.lit(v)} AS c{i}" for i, v in enumerate(LITERALS)]
    got = spark.range(1).selectExpr(*texts)
    want = spark.range(1).select(*[F.lit(v).alias(f"c{i}") for i, v in enumerate(LITERALS)])
    assert [f.dataType for f in got.schema.fields[1:]] == [f.dataType for f in want.schema.fields[1:]]
    assert got.collect() == want.collect()
    assert spark.range(1).selectExpr(f"id AS {sqltext.ident('a`b c')}").columns == ["a`b c"]
    with pytest.raises(TypeError):
        sqltext.lit(object())


# degenerate rings, each a zone of its own but the hole.  The ray cast
# puts some points of the collinear ring's edges inside by rounding
# (its vertices are not dyadic), so its cells must reach the exact PIP
DEGENERATE = {
    "dup_vertex": [np.array([(101.0, 31.0), (103.5, 31.25), (103.5, 31.25), (102.0, 33.5)])],
    "collinear": [np.array([(100.1, 30.3), (102.7, 31.9), (101.4, 31.1)])],
    "flat": [np.array([(100.0, 32.0), (103.0, 32.0), (101.0, 32.0)])],
    "holed": [
        np.array([(104.5, 30.5), (107.5, 30.5), (107.5, 33.5), (104.5, 33.5)]),
        np.array([(105.5, 31.5), (106.5, 31.5), (106.0, 32.5)]),
    ],
}


def _pip_cases(rng):
    """(zones, lon, lat): random points around every ZONES zone and
    every degenerate ring, every vertex, points on every edge
    (horizontal ones too) and their midpoints; ZONES' east_tri again
    under an id holding a quote and a backslash."""
    zones = {**ZONES, "o'hare \\ tri": ZONES["east_tri"], **DEGENERATE}
    pts = []
    for rings in zones.values():
        allv = np.concatenate(rings)
        lo, hi = allv.min(axis=0) - 1.0, allv.max(axis=0) + 1.0
        pts.append(rng.uniform(lo, hi, size=(300, 2)))
        for ring in rings:
            nxt = np.roll(ring, -1, axis=0)
            t = rng.uniform(0.0, 1.0, size=(len(ring), 4))
            on_edge = (ring[:, None, :] + t[..., None] * (nxt - ring)[:, None, :]).reshape(-1, 2)
            pts += [ring, (ring + nxt) / 2.0, on_edge]
    pts = np.concatenate(pts)
    return zones, pts[:, 0], pts[:, 1]


@pytest.mark.parametrize("grain,res", [("grid", 9), ("hex", 5)])
def test_join_zones_pip_matches_numpy(spark, grain, res):
    """join_zones gives each point exactly the zones
    geometry.points_in_rings puts it in, on vertices and edges and for
    degenerate rings included (the same IEEE op sequence)."""
    zones, lon, lat = _pip_cases(np.random.default_rng(20261019))
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(lon, lat))],
        "idx long, lon double, lat double",
    )
    got = {(r.idx, r.zone_id) for r in spatial.join_zones(df, spark, zones, res=res, grain=grain).collect()}
    want = {
        (int(i), zid)
        for zid, rings in zones.items()
        for i in np.flatnonzero(geometry.points_in_rings(lon, lat, rings))
    }
    assert got == want
    # the quoted id has its own rows; the degenerate zones have some
    assert {i for i, z in got if z == "o'hare \\ tri"} == {i for i, z in got if z == "east_tri"} != set()
    assert {z for _, z in got} >= {"dup_vertex", "collinear", "holed"}


def test_hex_encode_keeps_caller_cache_and_catalog(spark):
    """The encode keeps the caller's cached DataFrame cached and in its
    plans, the probe's columns and rows are the id and its ancestors,
    and a ``newSession()`` (which does not see the parent's functions)
    encodes too, inside a whole-stage-codegen projection."""
    df = spark.range(50).selectExpr("id", "id * 1.5D AS lat", "id * 2.5D AS lon").cache()
    try:
        out = hexgrid.with_hex7_id(df, "lat", "lon", 5, "h")
        probe = hexgrid.with_hex7_probe(df, "lat", "lon", 5, [3, 5], "p")
        assert df.is_cached
        for d in (out, probe):
            assert "InMemoryRelation" in d._jdf.queryExecution().optimizedPlan().toString()
        assert probe.columns == ["id", "lat", "lon", "__h7_id", "p"]
        rows = probe.collect()
        own = {r.id: (r.lat, r.lon, r["__h7_id"]) for r in rows}
        assert len(rows) == 2 * len(own) == 100
        lat, lon, ids = (np.array(v) for v in zip(*own.values()))
        assert (ids == hexgrid.hex7_id_np(lat, lon, 5)).all()
        want = sorted([*hexgrid.hex7_parent_np(ids, 5, 3).tolist(), *ids.tolist()])
        assert sorted(r.p for r in rows) == want
    finally:
        df.unpersist()
    fresh = spark.newSession()
    enc = hexgrid.with_hex7_id(
        fresh.range(50).selectExpr("id", "id * 1.5D AS lat", "id * 2.5D AS lon"), "lat", "lon", 5, "h"
    )
    assert re.search(r"\*\(\d+\) Project \[.*hex7_r5\(", enc._jdf.queryExecution().executedPlan().toString())
    got = enc.toPandas().sort_values("id")
    assert (got["h"].to_numpy() == hexgrid.hex7_id_np(got["lat"].to_numpy(), got["lon"].to_numpy(), 5)).all()
