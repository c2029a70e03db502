"""Resource library (turbine/panel YAML configs) and gated Iceberg sink."""

from __future__ import annotations

import numpy as np
import pytest

from geodata_spark import resource as R
from geodata_spark import sinks


def test_turbine_loader_matches_literal():
    """YAML curve == the literal dict convert.py has always used."""
    from geodata_spark import convert as C

    t = R.get_windturbineconfig("suzlon_s82_1500kw")
    assert t["V"] == C.TURBINE_SUZLON_S82["V"]
    assert t["POW"] == C.TURBINE_SUZLON_S82["POW"]
    assert t["hub_height"] == 79.0
    assert t["P"] == 1.5  # P = max(POW), reference resource.py:42


def test_turbine_loader_validates():
    with pytest.raises(ValueError):
        R.get_windturbineconfig({"V": [0.0, 5.0, 3.0], "POW": [0, 1, 1], "HUB_HEIGHT": 80})
    with pytest.raises(ValueError):
        R.get_windturbineconfig({"V": [0.0], "POW": [0.0], "HUB_HEIGHT": 80})


def test_panel_loader():
    csi = R.get_solarpanelconfig("csi_huld")
    assert csi["model"] == "huld" and csi["k_1"] == -0.017162
    cdte = R.get_solarpanelconfig("cdte_huld")
    assert cdte["k_1"] == -0.046689
    kan = R.get_solarpanelconfig("kaneka_bofinger")
    assert kan["model"] == "bofinger" and kan["threshold"] == 1.0
    with pytest.raises(ValueError):
        R.get_solarpanelconfig({"model": "huld"})  # missing coefficients


def test_wind_accepts_resource_name(spark):
    """convert.wind('vestas_v90_2000kw') plans the curve from YAML."""
    from geodata_spark import convert as C
    from geodata_spark.synth import synth_grid_vars

    gv = synth_grid_vars(spark, nhours=2, ny=2, nx=2)
    out = C.wind(gv, "vestas_v90_2000kw", from_height=100).toPandas()
    t = R.get_windturbineconfig("vestas_v90_2000kw")
    # per-unit output bounded by 1, matching np.interp on the
    # log-ratio hub-height speed (hub 80 m from wnd100m, z0 floor)
    assert ((out["wind"] >= 0) & (out["wind"] <= 1.0)).all()
    z0 = np.where(out["roughness"] <= 0, 0.0002, out["roughness"])
    hub = out["wnd100m"] * np.log(80.0 / z0) / np.log(100.0 / z0)
    want = np.interp(hub, t["V"], np.array(t["POW"]) / t["P"])
    assert np.allclose(out["wind"], want, atol=1e-12)


def test_pv_accepts_resource_name(spark):
    from geodata_spark import convert as C
    from geodata_spark.synth import synth_grid_vars

    gv = synth_grid_vars(
        spark, nhours=4, ny=2, nx=2,
        variables=("temperature", "influx_direct", "influx_diffuse",
                   "influx_toa", "albedo"),
    )
    out = C.pv(gv, "cdte_huld").toPandas()
    assert np.isfinite(out["pv"]).all() and (out["pv"] >= 0).all()


def test_iceberg_gate_closed_in_sandbox(spark):
    """No Iceberg jars here → catalog resolution must return None."""
    assert sinks.iceberg_catalog(spark) is None
    assert sinks.iceberg_catalog(spark, "made_up") is None


def test_write_table_parquet_fallback(spark, tmp_path):
    df = spark.range(100).selectExpr("id", "id % 4 AS part")
    desc = sinks.write_table(
        df, "db.t", path=str(tmp_path / "t"), partition_by=("part",)
    )
    assert desc["sink"] == "parquet"
    back = sinks.read_table(spark, "db.t", path=str(tmp_path / "t"))
    assert back.count() == 100
    # partition pruning works on the fallback layout
    pruned = back.filter("part = 2")
    assert pruned.count() == 25


def test_write_table_requires_path_without_catalog(spark):
    df = spark.range(1)
    with pytest.raises(ValueError):
        sinks.write_table(df, "db.t")


def test_bucketed_tables_join_and_agg_without_shuffle(spark, tmp_path):
    """Co-located cell join: two tables bucketed on the same key must
    sort-merge-join with zero Exchange nodes, and a groupBy on the
    bucket key must aggregate without an exchange — the durable form
    of cell-id co-location (north rule)."""
    from pyspark.sql import functions as F

    from geodata_spark import sinks

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = spark.range(20000).select(
            (F.col("id") % 997).alias("cell_r9"), (F.col("id") * 3).alias("val")
        )
        sinks.write_bucketed(df, "bkt_a", 8, "cell_r9", sort_col="cell_r9")
        sinks.write_bucketed(df, "bkt_b", 8, "cell_r9", sort_col="cell_r9")
        j = spark.table("bkt_a").join(spark.table("bkt_b"), "cell_r9")
        jplan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in jplan and "Bucketed: true" in jplan
        assert j.count() > 0  # executes, not just plans
        agg = spark.table("bkt_a").groupBy("cell_r9").agg(F.sum("val"))
        aplan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in aplan
        assert agg.count() == 997
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_bucketed_multi_column_keys_join_without_shuffle(spark):
    """Multi-column bucketing: join keys EQUAL the (integer) bucket
    columns → no join-side Exchange.  Guards the two planner facts in
    the write_bucketed docstring (all-cluster-keys co-partition rule;
    float keys never match due to NaN/zero normalization)."""
    from pyspark.sql import functions as F

    from geodata_spark import sinks

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = spark.range(20000).select(
            (F.col("id") % 97).alias("cell_r9"),
            (F.col("id") % 24).alias("hour"),
            (F.col("id") % 13).cast("double").alias("val"),
        )
        meta = sinks.write_bucketed(
            df, "bkt_m_a", 8, ("cell_r9", "hour"), sort_col=("cell_r9", "hour")
        )
        assert meta["bucket_col"] == ("cell_r9", "hour")
        sinks.write_bucketed(
            df, "bkt_m_b", 8, ("cell_r9", "hour"), sort_col=("cell_r9", "hour")
        )
        j = spark.table("bkt_m_a").join(
            spark.table("bkt_m_b"), on=["cell_r9", "hour"]
        )
        jplan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in jplan and "Bucketed: true" in jplan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bkt_m_a")
        spark.sql("DROP TABLE IF EXISTS bkt_m_b")


def test_merge_upsert_partition_cow(spark, tmp_path):
    """Keyed MERGE semantics on a partitioned parquet tree: updates
    win by seq, inserts land, untouched partitions stay byte-identical
    on disk, and re-running the same merge is idempotent."""
    import glob
    import hashlib
    import os

    from pyspark.sql import functions as F

    tgt = str(tmp_path / "tbl")
    cols = "day long, k long, seq long, v string"
    base = spark.createDataFrame(
        [(d, k, 0, f"base-{d}-{k}") for d in (1, 2, 3, 4) for k in range(5)], cols
    )
    sinks.merge_upsert(spark, tgt, base, ["k"], "day", "seq")

    def tree_hash(days):
        out = {}
        for d in days:
            files = sorted(glob.glob(os.path.join(tgt, f"day={d}", "*.parquet")))
            h = hashlib.md5()
            for f in files:
                h.update(open(f, "rb").read())
            out[d] = (len(files), h.hexdigest())
        return out

    before = tree_hash((1, 4))

    # touch only days 2 and 3: update k=0..1, insert k=100
    upd = spark.createDataFrame(
        [(d, k, 7, f"new-{d}-{k}") for d in (2, 3) for k in (0, 1, 100)], cols
    )
    res = sinks.merge_upsert(spark, tgt, upd, ["k"], "day", "seq")
    assert res["touched_partitions"] == [2, 3]

    got = {
        (r.day, r.k): (r.seq, r.v)
        for r in spark.read.parquet(tgt).collect()
    }
    assert len(got) == 4 * 5 + 2  # 2 inserts, updates replaced in place
    assert got[(2, 0)] == (7, "new-2-0") and got[(3, 100)] == (7, "new-3-100")
    assert got[(2, 4)] == (0, "base-2-4")      # untouched key, touched day
    assert got[(1, 0)] == (0, "base-1-0")      # untouched day
    assert tree_hash((1, 4)) == before         # days 1/4 never rewritten

    # idempotence: the same merge again changes nothing
    sinks.merge_upsert(spark, tgt, upd, ["k"], "day", "seq")
    again = {
        (r.day, r.k): (r.seq, r.v)
        for r in spark.read.parquet(tgt).collect()
    }
    assert again == got

    # stale update (smaller seq) must lose; seq tie resolves to the
    # lexicographically larger value struct, deterministically
    stale = spark.createDataFrame([(2, 0, 3, "stale"), (2, 1, 7, "zzz")], cols)
    sinks.merge_upsert(spark, tgt, stale, ["k"], "day", "seq")
    final = {
        (r.day, r.k): (r.seq, r.v)
        for r in spark.read.parquet(tgt).collect()
    }
    assert final[(2, 0)] == (7, "new-2-0")     # stale lost
    assert final[(2, 1)] == (7, "zzz")         # tie -> max struct wins


def test_merge_upsert_null_partition(spark, tmp_path):
    """A batch into the NULL partition keeps that partition's other
    rows; a batch mixing NULL and non-NULL values returns them NULL
    last."""
    tgt = str(tmp_path / "tbl")
    cols = "day long, k long, seq long, v string"
    base = spark.createDataFrame(
        [(None, k, 0, f"n{k}") for k in range(3)] + [(1, 10, 0, "a")], cols
    )
    sinks.merge_upsert(spark, tgt, base, ["k"], "day", "seq")
    res = sinks.merge_upsert(
        spark, tgt, spark.createDataFrame([(None, 0, 1, "new")], cols), ["k"], "day", "seq"
    )
    assert res["touched_partitions"] == [None]
    got = {(r.day, r.k): (r.seq, r.v) for r in spark.read.parquet(tgt).collect()}
    assert got == {
        (None, 0): (1, "new"), (None, 1): (0, "n1"), (None, 2): (0, "n2"), (1, 10): (0, "a")
    }
    mixed = spark.createDataFrame([(None, 1, 2, "m"), (2, 20, 2, "b"), (1, 10, 2, "c")], cols)
    res = sinks.merge_upsert(spark, tgt, mixed, ["k"], "day", "seq")
    assert res["touched_partitions"] == [1, 2, None]
    got = {(r.day, r.k): (r.seq, r.v) for r in spark.read.parquet(tgt).collect()}
    assert got == {
        (None, 0): (1, "new"), (None, 1): (2, "m"), (None, 2): (0, "n2"),
        (1, 10): (2, "c"), (2, 20): (2, "b"),
    }
