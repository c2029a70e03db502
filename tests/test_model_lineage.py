from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from geodata_spark import lineage, model
from geodata_spark.synth import synth_grid_vars


@pytest.fixture(scope="module")
def long_heights(spark):
    gv = synth_grid_vars(spark, nhours=4, ny=3, nx=3)
    return model.melt_heights(
        gv,
        [("100.0", "wnd100m"), ("hlml", "wndlml"), ("10.0", "wnd100m * 0.7")],
        keys=["hour", "lat", "lon"],
    )


def test_fit_loglinear_expr_vs_pandas(spark, long_heights):
    a = model.fit_loglinear_expr(long_heights, ["hour", "lat", "lon"]).toPandas()
    b = model.fit_loglinear_pandas(long_heights, ["hour", "lat", "lon"]).toPandas()
    m = a.merge(b, on=["hour", "lat", "lon"], suffixes=("_e", "_p"))
    assert len(m) == len(a) == 4 * 9
    assert np.allclose(m.alpha_e, m.alpha_p, rtol=1e-8)
    assert np.allclose(m.beta_e, m.beta_p, rtol=1e-8)
    assert np.allclose(m.rms_e, m.rms_p, atol=1e-8)


def test_fit_recovers_exact_log_profile(spark):
    # synthetic exact log-profile: v = 2.5 ln(h) + 1.25 → α, β recovered
    rows = [
        (float(cell), float(h), float(2.5 * np.log(h) + 1.25))
        for cell in range(3)
        for h in (10, 50, 100, 150)
    ]
    df = spark.createDataFrame(rows, "cell double, height double, speed double")
    out = model.fit_loglinear_expr(df, ["cell"]).toPandas()
    assert np.allclose(out.alpha, 2.5, atol=1e-12)
    assert np.allclose(out.beta, 1.25, atol=1e-10)
    # rms from the algebraically-expanded SSE cancels catastrophically
    # on an exact fit — ~1e-7 noise is expected, not a fit error
    assert np.allclose(out.rms, 0.0, atol=1e-5)
    est = model.estimate_loglinear(
        model.fit_loglinear_expr(df, ["cell"]), 79.0
    ).toPandas()
    assert np.allclose(est.wnd79m_est, 2.5 * np.log(79.0) + 1.25, atol=1e-9)


def test_spline_interpolates_knots_and_linear(spark):
    # spline through knots exactly; linear data stays linear
    rows = []
    for cell in range(2):
        for h in (10.0, 40.0, 80.0, 120.0, 200.0):
            rows.append((float(cell), h, 3.0 + 0.05 * h))  # linear profile
    df = spark.createDataFrame(rows, "cell double, height double, speed double")
    out = model.fit_spline_pandas(df, ["cell"], [40.0, 100.0]).toPandas()
    assert np.allclose(out.spl_40, 3.0 + 0.05 * 40.0, atol=1e-9)
    # natural cubic on linear data is exact everywhere
    assert np.allclose(out.spl_100, 3.0 + 0.05 * 100.0, atol=1e-9)


def test_natural_cubic_properties():
    x = np.array([0.0, 1.0, 2.0, 4.0, 7.0])
    y = np.array([1.0, 2.0, 0.5, 3.0, -1.0])
    M = model._natural_cubic_coeffs(x, y)
    assert abs(M[0]) < 1e-12 and abs(M[-1]) < 1e-12  # natural boundary
    for xi, yi in zip(x, y):  # interpolates knots
        assert abs(model.spline_eval_np(x, y, M, xi) - yi) < 1e-9
    # C1 continuity at an interior knot (numerical derivative check)
    eps = 1e-6
    for k in (1, 2, 3):
        d_left = (model.spline_eval_np(x, y, M, x[k]) - model.spline_eval_np(x, y, M, x[k] - eps)) / eps
        d_right = (model.spline_eval_np(x, y, M, x[k] + eps) - model.spline_eval_np(x, y, M, x[k])) / eps
        assert abs(d_left - d_right) < 1e-3


def test_lineage_resume_after_kill(spark, tmp_path):
    out = str(tmp_path / "ckpt")
    gv = synth_grid_vars(spark, nhours=8, ny=4, nx=4, variables=("temperature", "wnd100m"))
    src = gv.withColumn("day", (F.col("hour") / 2).cast("long"))  # 4 partitions

    calls = []

    def transform(df):
        calls.append(1)
        return df.withColumn("t_c", F.col("temperature") - 273.15)

    with pytest.raises(RuntimeError, match="simulated kill"):
        lineage.run_partitioned(spark, src, transform, out, "day", fail_after=2)
    assert len(calls) == 2

    # resume: only the 2 missing partitions run
    calls.clear()
    res = lineage.run_partitioned(spark, src, transform, out, "day")
    assert sorted(res["skipped"]) == ["0", "1"]
    assert sorted(res["completed"]) == ["2", "3"]
    assert len(calls) == 2

    # output complete & correct
    got = lineage.read_output(spark, out, "day")
    assert got.count() == src.count()
    assert got.filter((F.col("temperature") - 273.15 - F.col("t_c")) != 0).count() == 0

    # idempotent: third run skips everything
    calls.clear()
    res2 = lineage.run_partitioned(spark, src, transform, out, "day")
    assert len(res2["completed"]) == 0 and len(calls) == 0
    assert sorted(res2["skipped"]) == ["0", "1", "2", "3"]

    # input change in ONE partition → only that partition recomputes
    src2 = src.withColumn(
        "temperature",
        F.when(F.col("day") == 1, F.col("temperature") + 1.0).otherwise(F.col("temperature")),
    )
    res3 = lineage.run_partitioned(spark, src2, transform, out, "day")
    assert res3["completed"] == ["1"]


def test_model_fit_checkpointed_with_lineage(spark, tmp_path):
    """S12 integration: per-partition model fits committed with lineage,
    resumable — the analog of the reference's params.nc4 + meta.json
    hash lineage (model/_base.py:316-343)."""
    out = str(tmp_path / "params")
    gv = synth_grid_vars(spark, nhours=4, ny=3, nx=3)
    long_df = model.melt_heights(
        gv, [("100.0", "wnd100m"), ("hlml", "wndlml")], keys=["hour", "lat", "lon"]
    ).withColumn("part", (F.col("hour") % 2).cast("long"))

    def fit(df):
        return model.fit_loglinear_expr(df.drop("part"), ["hour", "lat", "lon"])

    res = lineage.run_partitioned(spark, long_df, fit, out, "part")
    assert sorted(res["completed"]) == ["0", "1"]
    params = lineage.read_output(spark, out, "part")
    assert params.count() == 4 * 9  # one fit per (hour, cell)
    assert params.filter(F.col("alpha").isNull()).count() == 0
    # estimate from checkpointed params (F30)
    est = model.estimate_loglinear(params, 79.0)
    assert est.filter(F.col("wnd79m_est").isNull()).count() == 0
    # resume: nothing recomputes
    res2 = lineage.run_partitioned(spark, long_df, fit, out, "part")
    assert res2["completed"] == [] and sorted(res2["skipped"]) == ["0", "1"]


def test_cutout_partitioned_write_prunes(spark, tmp_path):
    """S9/P4: day-partitioned cutout write; a day filter prunes
    partitions at scan (the Iceberg hidden-partitioning analog)."""
    from geodata_spark.cutout import Cutout

    p = str(tmp_path / "cut")
    gv = synth_grid_vars(spark, nhours=48, ny=3, nx=3, variables=("temperature",))
    co = Cutout(gv.withColumn("day", (F.col("hour") / 24).cast("long")))
    co.write(p, partition_by=("day",))
    back = spark.read.parquet(p)
    sub = back.filter(F.col("day") == 1)
    plan = sub._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "day" in plan
    assert sub.count() == 24 * 9


def test_snapshot_id_stable_across_calls(spark, tmp_path):
    """snapshot_id must be a process-independent fingerprint (sha256 of
    the partition signature), so lineage rows from identical inputs in
    different runs carry the same id."""
    from geodata_spark import lineage

    src = spark.range(40).selectExpr("id", "CAST(id % 4 AS STRING) AS p", "id * 2 AS v")
    r1 = lineage.run_partitioned(
        spark, src, lambda d: d, str(tmp_path / "o1"), "p", max_workers=1
    )
    r2 = lineage.run_partitioned(
        spark, src, lambda d: d, str(tmp_path / "o2"), "p", max_workers=1
    )
    assert r1["snapshot_id"] == r2["snapshot_id"]
    assert r1["snapshot_id"].startswith("snap-")


def test_run_partitioned_null_partition(spark, tmp_path):
    """A NULL partition value is sliced with IS NULL, runs last and reads
    back as NULL, from a DataFrame (content fingerprint) and from a bare
    scan (file fingerprint) alike."""
    from geodata_spark import manifest

    df = spark.createDataFrame([(d, k) for d in (1, None) for k in range(3)], "day int, k long")
    src_path = str(tmp_path / "src")
    df.write.partitionBy("day").parquet(src_path)
    want = sorted(((k, d) for d in (1, None) for k in range(3)), key=repr)
    for name, src in (("rows", df), ("files", spark.read.parquet(src_path))):
        out = str(tmp_path / name)
        res = lineage.run_partitioned(spark, src, lambda d: d.drop("day"), out, "day")
        assert res["completed"] == ["1", manifest.NULL_KEY]
        got = lineage.read_output(spark, out, "day").select("k", "day").collect()
        assert sorted(((r.k, r.day) for r in got), key=repr) == want, name
