"""Ad-hoc SQL surface: temp views + ``spark.sql`` query texts.

The engine is DataFrame-first, but reference users coming from
notebook exploration (e.g. the ad-hoc cells of
``examples/mask_on_cutout.ipynb`` in GeodataTools/geodata) expect to
TYPE SQL against the engine's relations.  This module registers every
relation the engine reasons about as a temp view and re-expresses the
headline queries as pure ``spark.sql`` text that produces
**hash-identical** results to the DataFrame programs (pinned by
tests/test_sql_surface.py and by the ``sql_*`` oracle registry rows).

Views registered by :func:`register_views`:

- the ten driver parquet tables (``region`` … ``embeddings``) — plain
  file-backed views, so predicate pushdown and column pruning behave
  exactly as in the DataFrame path;
- ``corpus`` — the synthetic interleaved text+media document table
  (doc_id, spans:array<struct>);
- ``geo_points`` — a PURE-SQL view over ``corpus`` (posexplode +
  ``substring_index`` field cuts + cell encode), proving the
  span-parse path is expressible in the SQL dialect, not just Catalyst
  column objects;

and the zone cover's membership function (:func:`spatial.zone_member`),
which the zonal texts call.

Scale note: views are metadata only — registering them costs nothing
at 100 TB, and the SQL texts compile to the SAME physical plans as
the DataFrame twins, so there is no
second, slower execution path to maintain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from geodata_spark import cells, spatial, zonal
from geodata_spark.manifest import read_parquet
from geodata_spark.pipeline import text as TX
from geodata_spark.spatial import GEO_FIELDS_SQL
from geodata_spark.zones import ZONES

# register_views skip-cache, keyed per SparkSession (weakly: a closed
# session's entry is collected with it).  Temp views are session-
# scoped, so a context-scoped sentinel would wrongly skip registration
# in sibling sessions (spark.newSession()) sharing one SparkContext.
import weakref

_REGISTERED: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()

DRIVER_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def geo_points_view_sql(res: int = 9, src: str = "corpus") -> str:
    """Pure Spark-SQL text of the span-parse path plus the cell encode:
    posexplode, the field cuts of :data:`spatial.GEO_FIELDS_SQL` (the
    text ``spatial.parse_geo_spans`` parses) and :func:`cells.cell_sql`."""
    fields = ",\n         ".join(GEO_FIELDS_SQL)
    return f"""
SELECT doc_id, span_idx, kind, offset, lat, lon, hour, val, ts,
       {cells.cell_sql("lat", "lon", res)} AS cell_r{res}
FROM (
  SELECT doc_id, span_idx, span.kind AS kind, span.offset AS offset,
         {fields}
  FROM {src}
  LATERAL VIEW posexplode(spans) s AS span_idx, span
  WHERE span.kind = 'geo'
)
"""


def register_views(
    spark: SparkSession,
    sf_dir: str,
    corpus: DataFrame | None = None,
    res: int = 9,
) -> list[str]:
    """Register the engine's relations as temp views; returns their names.

    ``corpus`` defaults to the registry's synthetic corpus sized off
    the driver's documents table (queries.corpus).  Pass your own
    documents DataFrame (same doc_id/spans schema) to point the SQL
    surface at real data.

    Idempotent per (session, sf_dir): re-registering is skipped (views
    are stable within a session).  Registering in another session runs
    no Spark job once the tables have been read: their schemas and the
    corpus size come from the read records (``manifest.read_parquet``,
    ``manifest.parquet_rows``).  Pass a non-None ``corpus`` to force — a
    caller-supplied corpus never populates the cache, so later
    default-corpus calls re-register the canonical views instead of
    silently inheriting the custom ones.

    Temp views are SESSION-scoped, so the skip-cache must be too: it
    is keyed on the SparkSession object (weakly — a dropped session
    frees its entry), not the shared SparkContext, and it trusts the
    cache only while the sentinel view is still present in the
    session catalog (a ``DROP VIEW`` invalidates it).
    """
    from geodata_spark import queries as Q  # local import: Q imports this module's deps

    # outside the skip-cache: a cover eviction drops the function
    spatial.zone_member(spark, ZONES, res)
    cached = _REGISTERED.get(spark)
    if (
        corpus is None
        and cached
        and cached[0] == (sf_dir, res)
        and spark.catalog.tableExists("geo_points")
    ):
        return list(cached[1])

    names: list[str] = []
    for t in DRIVER_TABLES:
        read_parquet(spark, f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
        names.append(t)
    c = corpus if corpus is not None else Q.corpus(spark, sf_dir)
    c.createOrReplaceTempView("corpus")
    names.append("corpus")
    # the canonical cutout long table (gridded physical variables)
    Q._gv(spark).createOrReplaceTempView("gridv")
    names.append("gridv")
    spark.sql(
        f"CREATE OR REPLACE TEMP VIEW geo_points AS {geo_points_view_sql(res)}"
    )
    names.append("geo_points")
    if corpus is None:
        _REGISTERED[spark] = ((sf_dir, res), tuple(names))
    else:
        # custom corpus: poison-proof — drop any stale entry so the
        # next default-corpus call rebuilds the canonical views
        _REGISTERED.pop(spark, None)
    return names


# ---------------------------------------------------------------------------
# spark.sql texts — each is the SQL twin of a DataFrame oracle query
# ---------------------------------------------------------------------------

def zonal_daily_wavg_sql(res: int = 9) -> str:
    """SQL twin of queries.q_zonal_daily_wavg: a ``LATERAL VIEW
    explode`` of the cover's membership function (the one
    ``spatial.join_zones`` calls, registered by :func:`register_views`),
    then the zonal daily weighted mean.  Identical physical shape to the
    DataFrame path: no join, no cover broadcast per query."""
    fn = spatial.zone_member_name(ZONES, res)
    return f"""
WITH zoned AS (
  SELECT g.lat, g.lon, g.hour, g.val, z.zone_id
  FROM geo_points g
  LATERAL VIEW explode({fn}(g.cell_r{res}, g.lat, g.lon)) z AS zone_id
),
weighted AS (
  SELECT zone_id, CAST(hour div 24 AS INT) AS day_idx, val,
         {zonal.ORACLE_AREA_WEIGHT_SQL} AS w
  FROM zoned
)
SELECT zone_id, day_idx,
       sum(val * w) / sum(w) AS wavg,
       sum(w) AS weight_sum,
       count(*) AS n_points
FROM weighted
GROUP BY zone_id, day_idx
"""


def tpch_pricing_sql(ship_before: str = "2000-01-01") -> str:
    """SQL twin of tpch.pricing_summary — exact integer-cent sums with
    DECIMAL(38,0) accumulation published as digit strings."""
    return f"""
WITH li AS (
  SELECT l_returnflag, l_linestatus,
         CAST(l_quantity AS BIGINT) AS qty,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS ep_c,
         CAST(round(l_discount * 100) AS BIGINT) AS d_pct,
         CAST(round(l_tax * 100) AS BIGINT) AS t_pct
  FROM lineitem
  WHERE l_shipdate < TIMESTAMP '{ship_before}'
)
SELECT l_returnflag, l_linestatus,
       sum(qty) AS sum_qty,
       sum(ep_c) AS sum_base_c,
       CAST(sum(CAST(ep_c * (100 - d_pct) AS DECIMAL(38,0)))
            AS STRING) AS sum_disc_c4,
       CAST(sum(CAST(ep_c * (100 - d_pct) * (100 + t_pct) AS DECIMAL(38,0)))
            AS STRING) AS sum_charge_c6,
       count(*) AS n_lines
FROM li
GROUP BY l_returnflag, l_linestatus
"""


def text_stats_sql() -> str:
    """SQL twin of pipeline.text.with_text_stats over ``documents`` —
    the same engine-neutral expressions in the spark dialect."""
    d = "spark"
    return f"""
SELECT doc_id,
       CAST({TX.token_count_sql('text', d)} AS BIGINT) AS token_count,
       CAST({TX.punct_count_sql('text', d)} AS BIGINT) AS punct_count,
       CAST({TX.digit_count_sql('text', d)} AS BIGINT) AS digit_count,
       {TX.lang_guess_sql('text', d)} AS lang_guess,
       {TX.fingerprint_sql('text', d)} AS fingerprint,
       {TX.quality_score_sql('text', d)} AS quality
FROM documents
"""


def events_topk_sql(k: int = 3) -> str:
    """SQL twin of queries.q_events_topk: per-type top-k events by
    value with (value DESC, event_id ASC) deterministic tie-break."""
    return f"""
SELECT event_type, CAST(rnk AS BIGINT) AS rnk, event_id, value
FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id) AS rnk
  FROM events
)
WHERE rnk <= {k}
"""


def grid_reduce_sql() -> str:
    """SQL twin of queries.q_grid_reduce (plot.py:35-58
    ds_ts_aggregate) over the ``gridv`` cutout view."""
    return """
SELECT hour, avg(wnd100m) AS wnd_mean, sum(influx_direct) AS influx_sum,
       count(*) AS n_cells
FROM gridv GROUP BY hour
"""


SQL_QUERIES = {
    "sql_zonal_daily_wavg": zonal_daily_wavg_sql,
    "sql_tpch_pricing": tpch_pricing_sql,
    "sql_text_stats": text_stats_sql,
    "sql_events_topk": events_topk_sql,
    "sql_grid_reduce": grid_reduce_sql,
}


def run_sql(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Register views then run one of :data:`SQL_QUERIES` by name."""
    register_views(spark, sf_dir)
    return spark.sql(SQL_QUERIES[name]())
