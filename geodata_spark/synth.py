"""Deterministic synthetic data — the interleaved document corpus.

The engine's primary input (BASELINE.json ``input_hint``) is an
Iceberg/Parquet table::

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)

No external data exists in the sandbox, so the corpus is **synthesised
deterministically from pure integer arithmetic**.  Each generator's
formulas are written once as SQL text, rendered per dialect: ``"spark"``
for the ``selectExpr`` generators, ``"duckdb"`` for the oracle CTEs.
The two spellings differ only in double literals, integer division,
timestamp arithmetic and ``printf``.  Rendering happens at call time,
so patching ``URBAN``/``SKEW_LT`` changes both sides.  The DuckDB
oracle reproduces every derived value *bit exactly*:

- every float is a dyadic rational (k/2^m), so products and sums are
  exact in IEEE-754 and therefore **order-independent** — Spark's
  partial aggregation and DuckDB's single-threaded sum agree to the
  last bit;
- every string is ``printf`` formatting of values that need no
  rounding, so Spark's integer-concat rendering and DuckDB's
  ``printf`` agree byte-for-byte.

Geometry mirrors the reference's MERRA2 grid (0.5° lat × 0.625° lon,
lat south→north — ``src/geodata/datasets/merra2.py:592``) inside the
China cutout window of ``docs/source/mask/mask_on_cutout.ipynb``
(xs=slice(73,136), ys=slice(18,54)).  A skew knob concentrates 30% of
documents into 4 "urban" cells (dense-coastal-cell skew, north_rule).
"""

from __future__ import annotations

import re
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from geodata_spark import cells

# ---------------------------------------------------------------------------
# shared integer-arithmetic constants
# ---------------------------------------------------------------------------

HA = 2654435761  # Knuth multiplicative constant
HB = 97003
HC = 7919
HD = 12345
HM = 2147483647  # 2^31 - 1

# grid geometry (MERRA2-style, China window)
LAT0 = 18.25     # southernmost cell center
DLAT = 0.5
NY = 72          # lat centers 18.25 .. 53.75
LON0 = 73.3125   # westernmost cell center
DLON = 0.625
NX = 101         # lon centers 73.3125 .. 135.8125
NHOURS = 744     # one month of hourly steps
TS0 = "2011-01-01 00:00:00"

# skew: 30% of docs land in these (lat_idx, lon_idx) "urban" cells
URBAN = [(25, 91), (26, 91), (44, 76), (12, 18)]
SKEW_MOD = 10
SKEW_LT = 3      # i % 10 < 3  → skewed doc

# max spans per doc = 2 + [0,5) = 6
MAX_SPANS = 6

__all__ = [
    "synth_documents",
    "documents_sql_cte",
    "synth_grid_vars",
    "grid_vars_sql_cte",
    "synth_mask_layers",
    "mask_layers_sql_cte",
    "N_DOCS_MULTIPLIER",
]

# scale coupling: corpus size = rows(driver documents table) × this
N_DOCS_MULTIPLIER = 40


# ---------------------------------------------------------------------------
# SQL rendering helpers (dialect: "spark" or "duckdb")
# ---------------------------------------------------------------------------

def _h_sql(i: str, j: str, k: int) -> str:
    """H(i,j,k) = (i*HA + j*HB + k*HC + HD) % HM, inside int64 for
    i < 3.4e9 documents."""
    return f"(({i}) * {HA} + ({j}) * {HB} + {k * HC + HD}) % {HM}"


def _dbl(dialect: str):
    """Double-literal renderer: Spark reads an unsuffixed ``18.25`` as DECIMAL."""
    return (lambda x: f"{x!r}D") if dialect == "spark" else repr


def _div(dialect: str) -> str:
    return "div" if dialect == "spark" else "//"


def _fmt4_spark(x: str) -> str:
    """``%.4f`` by integer arithmetic, 2x faster than ``format_string``.
    Exact when ``x * 10000`` is an integer in double: every synth
    lat/lon/val is a dyadic rational on a 1/16-or-coarser grid."""
    n = f"CAST(({x}) * 10000.0D AS BIGINT)"
    return (f"concat(CASE WHEN {n} < 0 THEN '-' ELSE '' END, "
            f"CAST(abs({n}) div 10000 AS STRING), '.', "
            f"lpad(CAST(abs({n}) % 10000 AS STRING), 4, '0'))")


_SPEC = re.compile(r"%(\.4f|012d|d)")
_SPARK_SPEC = {
    ".4f": _fmt4_spark,
    "012d": lambda a: f"lpad(CAST({a} AS STRING), 12, '0')",  # exact for i < 3.4e9
    "d": lambda a: f"CAST({a} AS STRING)",
}


def _printf(fmt: str, args: list[str], dialect: str) -> str:
    """``printf(fmt, args...)``; Spark renders it as a concat of
    integer-exact pieces."""
    if dialect == "duckdb":
        return f"printf('{fmt}', {', '.join(args)})"
    pieces = _SPEC.split(fmt)  # literal, spec, literal, ..., literal
    return "concat({})".format(", ".join(
        f"'{p}'" if k % 2 == 0 else _SPARK_SPEC[p](args[k // 2])
        for k, p in enumerate(pieces) if p
    ))


# ---------------------------------------------------------------------------
# documents — the interleaved corpus
# ---------------------------------------------------------------------------

def _nspans_sql(i: str) -> str:
    return f"2 + ({_h_sql(i, '0', 0)}) % 5"


def _span_values_sql(i: str, j: str, dialect: str) -> dict[str, str]:
    """Per-span values from doc index i and span index j, one SQL expression each."""
    def h(k: int) -> str:
        return f"({_h_sql(i, j, k)})"

    def urban(axis: int, fallback: str) -> str:
        whens = " ".join(f"WHEN {uu} THEN {cell[axis]}" for uu, cell in enumerate(URBAN))
        return (f"CASE WHEN ({i}) % {SKEW_MOD} < {SKEW_LT} "
                f"THEN CASE {h(9)} % 4 {whens} ELSE {fallback} END ELSE {fallback} END")

    d = _dbl(dialect)
    return {
        "code": f"{h(1)} % 8",  # 0,1 text | 2,3,4 geo | 5 image | 6,7 raster_tile
        "lat": f"{d(LAT0)} + {d(DLAT)} * ({urban(0, f'{h(2)} % {NY}')})",
        "lon": f"{d(LON0)} + {d(DLON)} * ({urban(1, f'{h(3)} % {NX}')})",
        "hour": f"{h(4)} % {NHOURS}",
        "val": f"CAST({h(5)} % 1600 AS DOUBLE) / {d(16.0)}",  # [0,100) step 1/16
        "shard": f"{h(6)} % 16",
        "w1": f"{h(7)} % 1000",
        "w2": f"{h(10)} % 1000",
        "w3": f"{h(11)} % 1000",
        "offset": f"CAST(({j}) * 16 + {h(8)} % 16 AS INT)",
    }


def _span_out_sql(c: dict[str, str], dialect: str) -> dict[str, str]:
    """kind / text / media_ref from references ``c`` to the span fields
    (plus the doc and span indices ``i`` and ``j``)."""
    code = c["code"]
    geo = f"{code} BETWEEN 2 AND 4"
    at = [c["lat"], c["lon"], c["hour"], c["val"]]
    p = partial(_printf, dialect=dialect)
    return {
        "kind": (f"CASE WHEN {geo} THEN 'geo' WHEN {code} = 5 THEN 'image' "
                 f"WHEN {code} >= 6 THEN 'raster_tile' ELSE 'text' END"),
        "text": (f"CASE WHEN {code} <= 1 THEN "
                 f"{p('w%d w%d w%d', [c['w1'], c['w2'], c['w3']])} ELSE '' END"),
        "media_ref": (
            f"CASE WHEN {geo} THEN {p('geo:%.4f,%.4f@h%d#var=wnd100m&val=%.4f', at)} "
            f"WHEN {code} >= 6 THEN {p('tile:%.4f,%.4f@h%d#res=7&val=%.4f', at)} "
            f"WHEN {code} = 5 THEN {p('img://shard%d/%d/%d.bin', [c['shard'], c['i'], c['j']])} "
            f"ELSE '' END"
        ),
    }


def synth_documents(spark: SparkSession, n_docs: int, num_partitions: int | None = None) -> DataFrame:
    """The interleaved corpus in its contractual nested form.

    Pure Catalyst: ``range`` → ``transform(sequence(...))`` — no Python
    in the generation path, so it scales to any corpus size Spark can
    shuffle (the 10^12-doc target is a bigger ``range`` with the same
    plan).  The inner ``transform`` computes each span's fields once;
    the outer one renders them.
    """
    fields = _span_values_sql("id", "s", "spark")
    out = _span_out_sql({k: f"f.{k}" for k in fields} | {"i": "id", "j": "j"}, "spark")
    inner = ", ".join(f"'{k}', {v}" for k, v in fields.items())
    outer = ", ".join(f"'{k}', {out[k]}" for k in ("kind", "text", "media_ref"))
    return spark.range(
        0, n_docs, 1, num_partitions or spark.sparkContext.defaultParallelism
    ).selectExpr(
        f"{_printf('doc%012d', ['id'], 'spark')} AS doc_id",
        f"transform(transform(sequence(0L, {_nspans_sql('id')} - 1), "
        f"s -> named_struct({inner})), "
        f"(f, j) -> named_struct({outer}, 'offset', f.offset)) AS spans",
    )


def documents_sql_cte(mult: int = N_DOCS_MULTIPLIER) -> str:
    """SQL CTE text producing the exploded corpus as ``spansx``.

    Corpus size = rows(documents view) × ``mult``; DuckDB's ``range()``
    only accepts constants, so the index set is derived by
    cross-joining the documents view with ``range(mult)``.  Produces
    columns (i, j, doc_id, kind, text, media_ref, offset, lat, lon,
    hour, val).
    """
    fields = _span_values_sql("i", "j", "duckdb")
    out = _span_out_sql({k: k for k in [*fields, "i", "j"]}, "duckdb")
    field_sql = ",\n         ".join(f'{v} AS "{k}"' for k, v in fields.items())
    return f"""
_idx AS (
  SELECT (d.rn - 1) * {mult} + CAST(m.range AS BIGINT) AS i
  FROM (SELECT CAST(row_number() OVER () AS BIGINT) AS rn FROM documents) d,
       range({mult}) m
),
_sp AS (
  SELECT i, CAST(s.range AS BIGINT) AS j
  FROM _idx, range({MAX_SPANS}) s
  WHERE s.range < {_nspans_sql('i')}
),
_fields AS (
  SELECT i, j,
         {field_sql}
  FROM _sp
),
spansx AS (
  SELECT i, j,
         {_printf('doc%012d', ['i'], 'duckdb')} AS doc_id,
         {out['kind']} AS kind,
         {out['text']} AS text,
         {out['media_ref']} AS media_ref,
         "offset", lat, lon, hour, val
  FROM _fields
)"""


# ---------------------------------------------------------------------------
# grid_vars — long-format cutout table (engine-internal canonical form)
# ---------------------------------------------------------------------------

GA, GB, GC, GK = 8191, 131071, 524287, 977


def _g_sql(h: str, y: str, x: str, k: int) -> str:
    return f"(({h}) * {GA} + ({y}) * {GB} + ({x}) * {GC} + {(k * HA + GK) % HM}) % {HM}"


#: physical variables of the canonical cutout table: name -> (offset, span, frac_div, key)
#: value = offset + (G % span) / frac_div — all dyadic (frac_div = 2^m)
GRID_VARS = {
    "temperature": (250.0, 800, 16.0, 1),    # K, 250..300
    "soiltemperature": (248.0, 900, 16.0, 2),
    "wnd100m": (0.0, 640, 16.0, 3),          # m/s 0..40
    "wndlml": (0.0, 512, 16.0, 4),
    "hlml": (40.0, 640, 16.0, 5),            # m 40..80
    "disph": (0.0, 160, 16.0, 6),            # m 0..10
    "roughness": (0.0, 32, 32.0, 7),         # m 0..1
    "ustar": (0.0, 32, 16.0, 8),             # m/s 0..2
    "rhoa": (1.0, 8, 16.0, 9),               # kg/m3 1..1.5
    "hflux": (-100.0, 4800, 16.0, 10),       # W/m2 -100..200
    "eflux": (-50.0, 2400, 16.0, 11),
    "influx_direct": (0.0, 14336, 16.0, 12), # W/m2 0..896
    "influx_diffuse": (0.0, 4096, 16.0, 13),
    "influx_toa": (0.0, 21504, 16.0, 14),
    "albedo": (0.0, 16, 16.0, 15),           # 0..1 step 1/16
    "pressure": (95000.0, 160000, 16.0, 16),
    "influx": (0.0, 16384, 16.0, 17),
    "ulml": (-20.0, 640, 16.0, 23),          # m/s -20..20 (wind components)
    "vlml": (-20.0, 640, 16.0, 24),
    "humidity": (0.0, 16, 16.0, 25),         # relative humidity 0..1
    "outflux": (0.0, 4096, 16.0, 26),        # upward SW for albedo fallback
    "dusmass25": (0.0, 1024, 16384.0, 18),   # kg/m3-ish small
    "sssmass25": (0.0, 1024, 16384.0, 19),
    "bcsmass": (0.0, 512, 16384.0, 20),
    "ocsmass": (0.0, 512, 16384.0, 21),
    "so4smass": (0.0, 512, 16384.0, 22),
}


def _grid_index_sql(ny: int, nx: int, dialect: str) -> list[str]:
    """(h, y, x) decoded from the flat row index ``id``."""
    div = _div(dialect)
    return [f"id {div} {ny * nx} AS h", f"(id % {ny * nx}) {div} {nx} AS y", f"id % {nx} AS x"]


def _grid_vars_sql(variables: tuple[str, ...], dialect: str) -> list[str]:
    """The gridded-variable columns from (h, y, x)."""
    d = _dbl(dialect)
    ts = (f"timestamp'{TS0}' + make_interval(0,0,0,0, CAST(h AS INT))" if dialect == "spark"
          else f"TIMESTAMP '{TS0}' + h * INTERVAL 1 HOUR")
    cols = [
        "h AS hour",
        f"{ts} AS ts",
        f"{d(LAT0)} + {d(DLAT)} * y AS lat",
        f"{d(LON0)} + {d(DLON)} * x AS lon",
    ]
    for v in variables:
        off, span, div, key = GRID_VARS[v]
        cols.append(f"{d(off)} + CAST(({_g_sql('h', 'y', 'x', key)}) % {span} AS DOUBLE) / {d(div)} AS {v}")
    return cols


def synth_grid_vars(
    spark: SparkSession,
    nhours: int = 48,
    ny: int = NY,
    nx: int = NX,
    variables: tuple[str, ...] | None = None,
) -> DataFrame:
    """Canonical long-format cutout table: one row per (ts, lat, lon).

    Partition-friendly: generated from a single ``range`` (decoded by
    integer division) so Spark parallelises generation without a
    shuffle; real deployments read this table from the catalog
    partitioned by (year, month) instead.
    """
    return (
        spark.range(0, nhours * ny * nx, 1, spark.sparkContext.defaultParallelism)
        .selectExpr(*_grid_index_sql(ny, nx, "spark"))
        .selectExpr(*_grid_vars_sql(variables or tuple(GRID_VARS), "spark"))
    )


def grid_vars_sql_cte(nhours: int = 48, ny: int = NY, nx: int = NX,
                      variables: tuple[str, ...] | None = None) -> str:
    """DuckDB CTE ``gridv`` mirroring :func:`synth_grid_vars` bit-exactly."""
    sep = ",\n         "
    return f"""
_g0 AS (
  SELECT CAST(r.range AS BIGINT) AS id FROM range({nhours * ny * nx}) r
),
_g1 AS (
  SELECT id, {sep.join(_grid_index_sql(ny, nx, "duckdb"))}
  FROM _g0
),
gridv AS (
  SELECT {sep.join(_grid_vars_sql(variables or tuple(GRID_VARS), "duckdb"))}
  FROM _g1
)"""


# ---------------------------------------------------------------------------
# mask_layers — raster suitability layers (FIXTURES.md §4)
# ---------------------------------------------------------------------------
# Mirrors the notebook stack (elevation / slope / modis landuse /
# protected, docs/source/mask/mask_creation_workflow.ipynb). All values
# dyadic → merge sums are order-independent and oracle-exact.

MASK_LAYERS = {
    # name: (expr builder params: span, divisor, offset, key)
    "elevation": (8192, 2.0, 0.0, 30),    # 0..4096 m, step 0.5
    "slope": (960, 16.0, 0.0, 31),        # 0..60 deg
    "modis": (17, 1.0, 1.0, 32),          # land-use class 1..17
    "protected": (16, 1.0, 0.0, 33),      # 0..15; ==0 → protected flag below
}


def _mask_grid_sql(nx: int, dialect: str) -> tuple[str, str, str, str]:
    """(y, x, lat, lon) of the mask grid from the flat row index ``id``."""
    div, d = _div(dialect), _dbl(dialect)
    return (f"id {div} {nx}", f"id % {nx}",
            f"{d(LAT0)} + {d(DLAT)} * (id {div} {nx})", f"{d(LON0)} + {d(DLON)} * (id % {nx})")


def _mask_value_sql(name: str, dialect: str) -> str:
    """Layer ``name``'s value from the grid indices (y, x)."""
    span, div, off, key = MASK_LAYERS[name]
    g = _g_sql("0", "y", "x", key)
    d = _dbl(dialect)
    if name == "protected":
        return f"CASE WHEN ({g}) % {span} = 0 THEN {d(1.0)} ELSE {d(0.0)} END"
    return f"{d(off)} + CAST(({g}) % {span} AS DOUBLE) / {d(div)}"


def synth_mask_layers(spark: SparkSession, ny: int = NY, nx: int = NX) -> DataFrame:
    """Long mask-layer table (layer, cell, lat, lon, value), res-9 cells."""
    y, x, lat, lon = _mask_grid_sql(nx, "spark")
    grid = spark.range(0, ny * nx, 1, spark.sparkContext.defaultParallelism).selectExpr(
        f"{y} AS y", f"{x} AS x", f"{lat} AS lat", f"{lon} AS lon"
    )
    # one projection: each grid row yields its five (layer, value) pairs;
    # inline over NOT NULL structs keeps each field's nullability (stack
    # would make layer nullable)
    layers = ", ".join(
        f"named_struct('layer', '{name}', 'value', {_mask_value_sql(name, 'spark')})"
        for name in MASK_LAYERS
    )
    return grid.selectExpr(
        f"{cells.cell_sql('lat', 'lon', 9)} AS cell", "y AS y_idx", "x AS x_idx", "lat", "lon",
        f"inline(array({layers}))",
    ).selectExpr("layer", "cell", "y_idx", "x_idx", "lat", "lon", "value")


def mask_layers_sql_cte(ny: int = NY, nx: int = NX) -> str:
    """DuckDB CTE ``maskl`` mirroring :func:`synth_mask_layers`."""
    y, x, lat, lon = _mask_grid_sql(nx, "duckdb")
    union = " UNION ALL ".join(
        f"SELECT '{name}' AS layer, "
        f"{cells.cell_sql('lat', 'lon', 9)} AS cell, lat, lon, {_mask_value_sql(name, 'duckdb')} AS value "
        f"FROM _mgrid"
        for name in MASK_LAYERS
    )
    return f"""
_m0 AS (
  SELECT CAST(r.range AS BIGINT) AS id FROM range({ny * nx}) r
),
_mgrid AS (
  SELECT {y} AS y, {x} AS x,
         {lat} AS lat,
         {lon} AS lon
  FROM _m0
),
maskl AS (
  {union}
)"""


# ---------------------------------------------------------------------------
# embeddings corpus (ANN crossover bench; mirrors testdata embeddings shape)
# ---------------------------------------------------------------------------

EMB_SEED = 7          # cluster-center RNG key
EMB_BLOCK = 4096      # noise block size (partition-independent seeding)


def synth_embeddings(
    spark: SparkSession,
    n: int,
    dim: int = 64,
    n_clusters: int = 64,
    noise: float = 0.25,
) -> DataFrame:
    """Deterministic clustered embeddings ``(vec_id, embedding, label)``
    — the testdata ``embeddings.parquet`` shape at any scale.

    label = vec_id % n_clusters; embedding = center[label] + noise.
    Noise is **partition-independent**: row ``i``'s noise is row
    ``i % EMB_BLOCK`` of ``RandomState(EMB_SEED*31 + i//EMB_BLOCK)``'s
    block, so any repartitioning of the ``range`` produces bit-identical
    vectors (mapInPandas batches over a ``spark.range`` are contiguous
    id runs, so each batch touches O(batch/BLOCK) blocks, not one RNG
    per row).  Floats are float32 like the driver table.

    Because labels cycle ``i % n_clusters``, ids ``0..n_clusters-1``
    hit every cluster exactly once — so IVF's lowest-id centroid
    sample (similarity.ivf_centroids) lands one centroid per true
    cluster, the configuration the crossover bench measures.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    centers = (
        np.random.RandomState(EMB_SEED)
        .standard_normal((n_clusters, dim))
        .astype(np.float64)
    )

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ])

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            out = np.empty((len(ids), dim), dtype=np.float64)
            for blk in np.unique(ids // EMB_BLOCK):
                rs = np.random.RandomState(EMB_SEED * 31 + int(blk))
                block = rs.standard_normal((EMB_BLOCK, dim))
                sel = (ids // EMB_BLOCK) == blk
                out[sel] = block[ids[sel] % EMB_BLOCK]
            labels = (ids % n_clusters).astype(np.int32)
            emb = centers[labels] + noise * out
            emb32 = emb.astype(np.float32)
            yield pd.DataFrame({
                "vec_id": ids,
                "embedding": list(emb32),
                "label": labels,
            })

    rng = spark.range(0, n, 1, spark.sparkContext.defaultParallelism)
    return rng.mapInPandas(gen, schema)
