"""SQL surface: temp views + spark.sql texts hash-equal to the
DataFrame programs (round-2/3 stretch item).

The point is interchangeability: a user typing SQL in a notebook and
a user composing DataFrames must see the SAME rows, bit for bit —
including float aggregates (dyadic-exact corpus) and the DECIMAL
digit strings.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_ORACLE


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def views(spark):
    from geodata_spark import sql_surface as S

    names = S.register_views(spark, SF_ORACLE)
    assert set(S.DRIVER_TABLES) <= set(names)
    assert {"corpus", "geo_points"} <= set(names)
    return names


def test_sql_zonal_daily_wavg_matches_dataframe(spark, views):
    from geodata_spark import queries as Q
    from geodata_spark import sql_surface as S

    a = _rows(spark.sql(S.zonal_daily_wavg_sql()))
    b = _rows(Q.q_zonal_daily_wavg(spark, SF_ORACLE))
    assert a == b and len(a) > 0


def test_sql_zonal_plan_calls_member_function(spark, views):
    """The SQL text must compile to the same physical shape as the
    DataFrame path: the compiled membership function, no cover
    broadcast per query, no Python."""
    from geodata_spark import spatial
    from geodata_spark import sql_surface as S

    plan = (
        spark.sql(S.zonal_daily_wavg_sql())
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert spatial.zone_member_name(None, 9) in plan
    assert "BroadcastExchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_sql_tpch_pricing_matches_dataframe(spark, views):
    from geodata_spark import sql_surface as S
    from geodata_spark import tpch as TP

    a = _rows(spark.sql(S.tpch_pricing_sql()))
    b = _rows(TP.pricing_summary(spark, SF_ORACLE))
    assert a == b and len(a) > 0


def test_sql_text_stats_matches_dataframe(spark, views):
    from geodata_spark import queries as Q
    from geodata_spark import sql_surface as S

    a = _rows(spark.sql(S.text_stats_sql()))
    b = _rows(Q.q_text_stats(spark, SF_ORACLE))
    assert a == b and len(a) > 0


def test_sql_events_topk_matches_dataframe(spark, views):
    from geodata_spark import queries as Q
    from geodata_spark import sql_surface as S

    a = _rows(spark.sql(S.events_topk_sql()))
    b = _rows(Q.q_events_topk(spark, SF_ORACLE))
    assert a == b and len(a) > 0


def test_geo_points_view_is_pure_sql_and_matches_parser(spark, views):
    """The geo_points VIEW (pure SQL text) must agree with
    spatial.parse_geo_spans column-for-column."""
    from pyspark.sql import functions as F

    from geodata_spark import cells, queries as Q, spatial

    docs = Q.corpus(spark, SF_ORACLE)
    want = (
        spatial.parse_geo_spans(docs)
        .withColumn("cell_r9", F.expr(cells.cell_sql("lat", "lon", 9)))
    )
    got = spark.table("geo_points").select(*want.columns)
    assert _rows(got) == _rows(want)


def test_register_views_idempotent_per_session(spark, views):
    """Re-registration is skipped per (session, sf_dir): same view-name
    list back, no second corpus-sizing count() job; a different sf_dir
    re-registers."""
    from geodata_spark import sql_surface as S

    again = S.register_views(spark, SF_ORACLE)
    assert set(again) == set(views)
    # different sf_dir → cache miss → fresh registration (names again)
    other = S.register_views(spark, "/root/testdata/sf0.001")
    assert set(other) == set(views)
    # and flipping back re-registers for the original dir
    back = S.register_views(spark, SF_ORACLE)
    assert set(back) == set(views)


def test_register_views_cache_is_session_scoped(spark, views):
    """Temp views are session-scoped, so the skip-cache must be too
    (ADVICE r4): a sibling session sharing the SparkContext registers
    its own views instead of hitting the parent's sentinel; a dropped
    view invalidates the cache; a caller-supplied corpus never
    poisons later default-corpus calls."""
    from geodata_spark import sql_surface as S

    sib = spark.newSession()
    assert not sib.catalog.tableExists("geo_points")
    names = S.register_views(sib, SF_ORACLE)
    assert sib.catalog.tableExists("geo_points")
    assert set(names) == set(views)

    # dropped sentinel view → cache distrusted → re-registered
    sib.catalog.dropTempView("geo_points")
    S.register_views(sib, SF_ORACLE)
    assert sib.catalog.tableExists("geo_points")

    # custom corpus must not poison the skip-cache: the next default
    # call re-registers the canonical corpus view
    custom = sib.createDataFrame(
        [("d0", [])], "doc_id string, spans array<struct<kind:string,"
        "text:string,media_ref:string,`offset`:int>>"
    )
    S.register_views(sib, SF_ORACLE, corpus=custom)
    assert sib.table("corpus").count() == 1
    S.register_views(sib, SF_ORACLE)
    assert sib.table("corpus").count() > 1


def test_register_views_in_a_second_session_runs_no_job(spark, views):
    """Once its inputs have been read, registering runs no Spark job:
    the tables' schemas and the corpus size come from their read
    records."""
    from geodata_spark import sql_surface as S

    sc = spark.sparkContext._jsc.sc()
    sib = spark.newSession()
    lo = sc.dagScheduler().numTotalJobs()
    names = S.register_views(sib, SF_ORACLE)
    assert sc.dagScheduler().numTotalJobs() - lo == 0
    assert set(names) == set(views)
