"""Semivariogram + Moran's I vs numpy brute force; funnel semantics."""

import numpy as np

from geodata_spark.synth import DLAT, DLON, LAT0, LON0


def _grid_df(spark, arr):
    """Dense one-hour grid DataFrame from a 2-D numpy array."""
    rows = [
        (0, LAT0 + DLAT * y, LON0 + DLON * x, float(arr[y, x]))
        for y in range(arr.shape[0])
        for x in range(arr.shape[1])
    ]
    return spark.createDataFrame(
        rows, "hour long, lat double, lon double, v double"
    )


def test_semivariogram_matches_numpy_brute_force(spark):
    from geodata_spark.geostats import semivariogram

    rng = np.random.RandomState(7)
    arr = np.round(rng.uniform(0, 50, size=(6, 8)) * 16) / 16  # dyadic
    out = semivariogram(_grid_df(spark, arr), "v", max_lag=3)
    got = {(r.dir, r.h): (r.n_pairs, r.gamma) for r in out.collect()}
    for h in (1, 2, 3):
        dx = arr[:, h:] - arr[:, :-h]
        dy = arr[h:, :] - arr[:-h, :]
        assert got[("x", h)][0] == dx.size
        assert got[("y", h)][0] == dy.size
        assert got[("x", h)][1] == (dx**2).sum() / (2 * dx.size)
        assert got[("y", h)][1] == (dy**2).sum() / (2 * dy.size)
    # constant field -> gamma 0 at every lag
    z = semivariogram(_grid_df(spark, np.full((4, 4), 3.5)), "v", max_lag=2)
    assert all(r.gamma == 0.0 for r in z.collect())


def test_morans_i_signs_and_numpy(spark):
    from geodata_spark.geostats import morans_i

    # checkerboard: perfect negative autocorrelation under rook weights
    yy, xx = np.mgrid[0:6, 0:6]
    checker = ((yy + xx) % 2).astype(float)
    i_chk = morans_i(_grid_df(spark, checker), "v").collect()[0]
    assert i_chk.morans_i_r6 == -1.0
    # smooth gradient: strong positive
    grad = (yy + xx).astype(float)
    i_grad = morans_i(_grid_df(spark, grad), "v").collect()[0]
    assert i_grad.morans_i_r6 > 0.5

    # numpy brute force on a random dyadic field
    rng = np.random.RandomState(11)
    arr = np.round(rng.uniform(0, 9, size=(5, 7)) * 16) / 16
    got = morans_i(_grid_df(spark, arr), "v").collect()[0]
    z = arr - arr.mean()
    num = (z[:, 1:] * z[:, :-1]).sum() + (z[1:, :] * z[:-1, :]).sum()
    n_pairs = z[:, 1:].size + z[1:, :].size
    want = (arr.size / n_pairs) * num / (z**2).sum()
    assert got.n == arr.size and got.n_pairs == n_pairs
    assert abs(got.morans_i_r6 - want) < 1e-6


def test_events_funnel_ordering_semantics(spark):
    from geodata_spark.queries import q_events_funnel

    import pyspark.sql.functions as F

    rows = [
        # u1 completes in order
        (1, "signup", "2024-01-01 00:00:00"),
        (1, "view", "2024-01-01 00:01:00"),
        (1, "click", "2024-01-01 00:02:00"),
        (1, "purchase", "2024-01-01 00:03:00"),
        # u2: view BEFORE signup (doesn't count), no later view
        (2, "view", "2024-01-01 00:00:00"),
        (2, "signup", "2024-01-01 00:01:00"),
        (2, "click", "2024-01-01 00:02:00"),
        # u3: stops after view; click is simultaneous with view (strict >)
        (3, "signup", "2024-01-01 00:00:00"),
        (3, "view", "2024-01-01 00:01:00"),
        (3, "click", "2024-01-01 00:01:00"),
        # u4: never signs up
        (4, "view", "2024-01-01 00:00:00"),
        (4, "purchase", "2024-01-01 00:01:00"),
    ]
    import tempfile

    df = spark.createDataFrame(rows, "user_id long, event_type string, ts string")
    df = df.withColumn("ts", F.to_timestamp("ts"))
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        out = {r.step: r for r in q_events_funnel(spark, d).collect()}
    assert out[1].n_users == 3          # u1, u2, u3
    assert out[2].n_users == 2          # u1, u3 (u2's view predates signup)
    assert out[3].n_users == 1          # u1 only (u3's click not strictly later)
    assert out[4].n_users == 1
    assert out[4].frac_of_first == 1 / 3


def test_gumbel_return_numpy_twin(spark):
    """Method-of-moments Gumbel fit per cell equals the numpy
    formulas; return levels are ordered rl100 > rl10 > mean."""
    import math

    import numpy as np

    from geodata_spark.queries import _GV_DIMS, q_gumbel_return
    from geodata_spark.synth import synth_grid_vars

    out = q_gumbel_return(spark, "unused")
    rows = out.collect()
    assert len(rows) == _GV_DIMS["ny"] * _GV_DIMS["nx"]
    gv = synth_grid_vars(spark, **_GV_DIMS).select("lat", "lon", "wnd100m").toPandas()
    g = gv.groupby(["lat", "lon"]).wnd100m
    m, s = g.mean(), g.std(ddof=1)
    for r in rows[:20]:
        beta = s.loc[(r.lat, r.lon)] * math.sqrt(6) / math.pi
        mu = m.loc[(r.lat, r.lon)] - 0.5772156649015329 * beta
        assert abs(r.beta_r6 - beta) < 1e-5
        assert abs(r.mu_r6 - mu) < 1e-5
        rl10 = mu - beta * math.log(-math.log(0.9))
        rl100 = mu - beta * math.log(-math.log(0.99))
        assert abs(r.rl10_r6 - rl10) < 1e-5 and abs(r.rl100_r6 - rl100) < 1e-5
        assert r.rl100_r6 > r.rl10_r6 > m.loc[(r.lat, r.lon)] - 1e-9


def test_psi_drift_identical_and_shifted(spark):
    import math
    import tempfile

    import pyspark.sql.functions as F

    from geodata_spark.queries import q_psi_drift

    def run(rows):
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        with tempfile.TemporaryDirectory() as d:
            df.write.parquet(f"{d}/documents.parquet")
            return q_psi_drift(spark, d).collect()

    # identical length distributions in both splits -> PSI exactly 0
    same = [
        (i, "t", "en", f"src{i % 2}", 50 + 100 * (i % 3)) for i in range(60)
    ]
    out = run(same)
    assert sum(r.psi_contrib_r6 for r in out) == 0.0
    # shifted distribution -> strictly positive PSI, correct smoothing
    shifted = [
        (i, "t", "en", "src0", 50) for i in range(30)
    ] + [
        (i + 100, "t", "en", "src1", 250) for i in range(30)
    ]
    out2 = {r.bin: r for r in run(shifted)}
    assert set(out2) == {0, 2}
    r0 = out2[0]
    assert (r0.ca, r0.cb) == (30, 0)
    p, q = 31 / 32, 1 / 32
    assert r0.p == p and r0.q == q
    assert r0.psi_contrib_r6 == round((p - q) * math.log(p / q), 6)
    assert sum(r.psi_contrib_r6 for r in out2.values()) > 0.25  # "action" zone


def test_d8_flow_and_watershed_semantics(spark):
    """Crafted 2-pit DEM: flow follows steepest descent with the
    documented tie-break; basins partition the raster; sink labels
    are the pits."""
    from geodata_spark.hydro import Y_STEP, flow_direction_d8, watershed

    # two pits at (0,0)=0 and (2,3)=1; ridge between x=1 and x=2
    z = [
        [0.0, 2.0, 9.0, 3.0],
        [2.0, 4.0, 9.0, 2.5],
        [3.0, 5.0, 9.0, 1.0],
    ]
    rows = [(y, x, z[y][x]) for y in range(3) for x in range(4)]
    df = spark.createDataFrame(rows, "y_idx long, x_idx long, value double")
    d8 = {(r.y_idx, r.x_idx): r for r in flow_direction_d8(df).collect()}
    # pits are sinks
    assert d8[(0, 0)].parent == d8[(0, 0)].cell
    assert d8[(2, 3)].parent == d8[(2, 3)].cell
    # (1,1): neighbors include (0,0) drop 4/sqrt2 and (0,1) drop 2/1 ->
    # slope2 16/2=8 vs 4 -> diagonal wins
    assert d8[(1, 1)].parent == 0 * Y_STEP + 0
    # (0,1) flows to (0,0): drop 2 dist 1 (slope2 4) beats nothing better
    assert d8[(0, 1)].parent == 0
    ws = {(r.y_idx, r.x_idx): r.basin for r in watershed(df).collect()}
    sink_a = 0 * Y_STEP + 0
    sink_b = 2 * Y_STEP + 3
    assert set(ws.values()) == {sink_a, sink_b}
    # the ridge column (x=2) splits: 9.0 cells drain by tie-break but
    # every cell lands in exactly one of the two basins
    assert ws[(0, 0)] == sink_a and ws[(2, 3)] == sink_b
    assert ws[(1, 3)] == sink_b and ws[(1, 0)] == sink_a


def test_watershed_pointer_doubling_is_log_rounds(spark):
    """A 1000-cell monotone ramp (single flow path of length 999)
    converges within ~log2(999)+2 doubling rounds — the O(log L)
    claim, not O(L)."""
    from geodata_spark.hydro import watershed

    rows = [(0, x, float(x)) for x in range(1000)]
    df = spark.createDataFrame(rows, "y_idx long, x_idx long, value double")
    ws = watershed(df, max_iters=12)      # log2(999) ≈ 10; O(L) would need 999
    labs = {r.x_idx: r.basin for r in ws.collect()}
    assert set(labs.values()) == {0}      # everything drains to x=0
    assert len(labs) == 1000
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        watershed(df, max_iters=3)        # the bound raises, never truncates


def test_watershed_pointer_doubling_is_log_rounds_distributed(spark, distributed_fixpoint):
    """The same pins on the distributed rounds."""
    test_watershed_pointer_doubling_is_log_rounds(spark)


def test_retention_and_lift_semantics(spark):
    import tempfile

    import pyspark.sql.functions as F

    from geodata_spark.queries import q_event_lift, q_retention_cohorts

    rows = [
        # u1: cohort day 0, active days 0,1,3 ; types view+click
        (1, "view", "2024-01-01 10:00:00"),
        (1, "click", "2024-01-02 10:00:00"),
        (1, "view", "2024-01-04 10:00:00"),
        # u2: cohort day 0, active day 0 only; type view
        (2, "view", "2024-01-01 11:00:00"),
        # u3: cohort day 1, active days 1,2; types click+error
        (3, "click", "2024-01-02 09:00:00"),
        (3, "error", "2024-01-03 09:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts string")
    df = df.select("user_id", "event_type", F.to_timestamp("ts").alias("ts"))
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        ret = {(r.cohort_day.isoformat(), r.day_offset): r
               for r in q_retention_cohorts(spark, d).collect()}
        lift = {(r.type_a, r.type_b): r for r in q_event_lift(spark, d).collect()}
    c0 = "2024-01-01"
    assert ret[(c0, 0)].cohort_users == 2 and ret[(c0, 0)].active_users == 2
    assert ret[(c0, 1)].active_users == 1 and ret[(c0, 1)].retained_frac == 0.5
    assert ret[(c0, 3)].active_users == 1
    assert ret[("2024-01-02", 0)].cohort_users == 1
    assert ret[("2024-01-02", 1)].active_users == 1
    # lift: N=3 users; view:2 click:2 error:1; (click,view) both=1 ->
    # 1*3/(2*2)=0.75 ; (click,error) both=1 -> 1*3/(2*1)=1.5
    assert lift[("click", "view")].lift == 0.75
    assert lift[("click", "error")].lift == 1.5
    assert ("error", "view") not in lift  # no co-occurrence -> no row


def test_zone_trend_matches_numpy_ols(spark):
    import numpy as np

    from geodata_spark.queries import q_zone_trend

    rows = q_zone_trend(spark, "unused").collect()
    assert len(rows) >= 2            # full grid spans multiple zones
    # rebuild one zone's series with numpy and polyfit it
    from geodata_spark.synth import synth_grid_vars
    from geodata_spark.spatial import join_zones
    from geodata_spark.zones import ZONES
    import pyspark.sql.functions as F

    gv = synth_grid_vars(spark, nhours=24, variables=("temperature",)).select(
        "hour", "lat", "lon", "temperature"
    )
    z = join_zones(gv.select("lat", "lon").distinct(), spark, ZONES, res=9)
    zid = rows[0].zone_id
    pdf = (
        gv.join(z.filter(F.col("zone_id") == zid).select("lat", "lon"), ["lat", "lon"])
        .toPandas()
    )
    pdf["w"] = (54.25 - pdf.lat) * 0.015625
    s = pdf.groupby("hour").apply(
        lambda g: (g.w * g.temperature).sum() / g.w.sum(),
        include_groups=False,
    )
    b, a = np.polyfit(s.index.to_numpy(float), s.to_numpy(), 1)
    got = {r.zone_id: r for r in rows}[zid]
    assert abs(got.slope_r6 - b) < 1e-5 and abs(got.intercept_r6 - a) < 1e-4
    assert got.n == 24


def test_geostats_plan_shapes(spark):
    """Scale-shape pins: semivariogram and Moran's I have NO pair
    join anywhere (lead windows only); zone_trend's membership join is
    a broadcast."""
    from geodata_spark.geostats import morans_i, semivariogram
    from geodata_spark.queries import q_zone_trend
    from geodata_spark.synth import synth_grid_vars

    gv = synth_grid_vars(spark, nhours=2, ny=4, nx=4, variables=("temperature",))
    for df in (semivariogram(gv, "temperature", max_lag=2),
               morans_i(gv, "temperature")):
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the only join allowed is Moran's tiny 48-row aggregate pairing
        assert "CartesianProduct" not in plan and "NestedLoop" not in plan
        assert "Generate explode" in plan or "Window" in plan
    p = q_zone_trend(spark, "unused")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p


def test_theil_sen_mk_known_series(spark):
    """Hand series per key: a perfect line recovers its slope exactly
    and maxes S; an outlier barely moves Theil–Sen (robustness) while
    OLS would shift; a constant series gives slope 0, S 0, z 0."""
    from geodata_spark.model import theil_sen_mk

    rows = []
    for t in range(6):
        rows.append((1, t, 2.0 * t + 1.0))          # perfect line
        rows.append((2, t, 2.0 * t + (100.0 if t == 5 else 1.0)))  # outlier
        rows.append((3, t, 7.5))                     # constant
    # tied-y series: S and the tie-corrected variance both exact
    for t, y in enumerate([0.0, 1.0, 1.0, 2.0]):
        rows.append((4, t, y))
    df = spark.createDataFrame(rows, "k long, hour long, temperature double")
    out = {r.k: r for r in theil_sen_mk(df, ["k"]).collect()}
    assert out[1].slope_ts == 2.0 and out[1].n == 6
    assert out[1].s_mk == 15 and out[1].n_pairs == 15   # all increasing
    import math
    var = 6 * 5 * 17 / 18.0
    assert out[1].z_mk_r6 == round(14 / math.sqrt(var), 6)
    # k=4: S=5, tie group of size 2 -> var = (4*3*13 - 2*1*9)/18
    assert out[4].s_mk == 5 and out[4].n == 4
    var4 = (156 - 18) / 18.0
    assert out[4].z_mk_r6 == round(4 / math.sqrt(var4), 6)
    # robustness: median slope still 2.0-ish despite the huge outlier
    assert abs(out[2].slope_ts - 2.0) < 25.0 and out[2].slope_ts >= 2.0
    assert out[2].slope_ts < 10.0      # OLS slope would be ~8.8; TS stays low
    assert out[3].slope_ts == 0.0 and out[3].s_mk == 0 and out[3].z_mk_r6 == 0.0


def test_cusum_changepoint_planted_shift(spark):
    """A planted level shift at t=30 is found exactly; a constant
    series has cusum 0 with the earliest-t tie-break."""
    from geodata_spark.temporal import cusum_changepoint

    rows = []
    for t in range(60):
        rows.append((1, t, 10.0 if t < 30 else 20.0))   # shift AFTER t=29
        rows.append((2, t, 5.0))                        # constant
    df = spark.createDataFrame(rows, "k long, hour long, temperature double")
    out = {r.k: r for r in cusum_changepoint(df, ["k"]).collect()}
    # mean = 15; |S| peaks at the last pre-shift index (t = 29), |S| = 150
    assert out[1].t_star == 29 and out[1].cusum_abs == 150.0
    assert out[1].n == 60
    assert out[2].t_star == 0 and out[2].cusum_abs == 0.0


def test_diurnal_harmonic_planted_sine(spark):
    """A planted pure 24 h sine recovers its amplitude and phase to
    rounding; a constant field has zero diurnal amplitude."""
    import math

    from geodata_spark.queries import _DIURNAL_COS, _DIURNAL_SIN

    import pyspark.sql.functions as F

    rows = []
    for t in range(48):
        rows.append((1.0, 1.0, t, 10.0 + 3.0 * math.cos(math.pi * t / 12.0 - 0.5)))
        rows.append((2.0, 2.0, t, 7.25))
    df = spark.createDataFrame(rows, "lat double, lon double, hour long, temperature double")
    c = F.sum(F.col("temperature") * F.expr(_DIURNAL_COS))
    s = F.sum(F.col("temperature") * F.expr(_DIURNAL_SIN))
    agg = df.groupBy("lat", "lon").agg(c.alias("c"), s.alias("s"),
                                       F.count(F.lit(1)).alias("n"))
    out = {r.lat: r for r in agg.select(
        "lat",
        (2.0 * F.sqrt(F.col("c")**2 + F.col("s")**2) / F.col("n")).alias("amp"),
        F.atan2(-F.col("s"), F.col("c")).alias("ph"),
    ).collect()}
    assert abs(out[1.0].amp - 3.0) < 1e-9
    assert abs(out[1.0].ph - (-0.5)) < 1e-9     # cos(wt - 0.5) -> phase -0.5
    assert abs(out[2.0].amp) < 1e-9


def test_wind_rose_conservation_and_numpy_twin(spark):
    """Every (hour, cell) sample lands in exactly one (sector, class)
    bucket, and a numpy reimplementation of the octant + speed rules
    agrees bucket-for-bucket on a sampled cell."""
    import numpy as np

    from geodata_spark.queries import _GV_DIMS, q_wind_rose
    from geodata_spark.synth import synth_grid_vars

    out = q_wind_rose(spark, "unused").toPandas()
    n_cells = _GV_DIMS["ny"] * _GV_DIMS["nx"]
    assert out.n.sum() == _GV_DIMS["nhours"] * n_cells        # conservation
    gv = synth_grid_vars(spark, **_GV_DIMS).select(
        "lat", "lon", "ulml", "vlml", "wnd100m"
    ).toPandas()
    cell = gv.iloc[0][["lat", "lon"]]
    sub = gv[(gv.lat == cell.lat) & (gv.lon == cell.lon)]
    t = 0.41421356237309503

    def sector(u, v):
        dx, dy = -u, -v
        if dx == 0.0 and dy == 0.0:
            return "flat"
        if abs(dy) <= abs(dx) * t:
            return "E" if dx > 0 else "W"
        if abs(dx) <= abs(dy) * t:
            return "N" if dy > 0 else "S"
        if dx > 0 and dy > 0:
            return "NE"
        if dx < 0 and dy > 0:
            return "NW"
        return "SE" if dx > 0 else "SW"

    def sclass(s):
        return ("calm[0,10)" if s < 10 else
                "moderate[10,20)" if s < 20 else "strong[20,∞)")

    want = {}
    for _, r in sub.iterrows():
        k = (sector(r.ulml, r.vlml), sclass(r.wnd100m))
        c, ssum = want.get(k, (0, 0.0))
        want[k] = (c + 1, ssum + r.wnd100m)
    got = out[(out.lat == cell.lat) & (out.lon == cell.lon)]
    assert {(r.sector, r.speed_class): (r.n, r.speed_sum)
            for _, r in got.iterrows()} == want


def test_seasonal_decompose_reconstruction(spark):
    """trend + seasonal + resid == temperature exactly on interior
    rows; a pure 24 h periodic signal decomposes to flat trend and
    zero residual."""
    import math

    from geodata_spark.queries import q_seasonal_decompose

    out = q_seasonal_decompose(spark, "unused").toPandas()
    # interior hours only: 12..35 on the 48 h series
    assert out.hour.min() == 12 and out.hour.max() == 35
    rec = out.trend + out.seasonal + out.resid
    assert (rec == out.temperature).all()          # exact reconstruction
    # planted pure periodic signal: trend flat at the offset, resid ~0
    from geodata_spark.cutout import Cutout  # noqa: F401 (import check)
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    rows = [
        (1.0, 1.0, t, 5.0 + math.sin(2 * math.pi * (t % 24) / 24.0))
        for t in range(72)
    ]
    df = spark.createDataFrame(rows, "lat double, lon double, hour long, temperature double")
    import geodata_spark.queries as Q

    wo = Window.partitionBy("lat", "lon").orderBy("hour")
    w1, w2 = wo.rowsBetween(-12, 11), wo.rowsBetween(-11, 12)
    full = (F.count(F.lit(1)).over(w1) == 24) & (F.count(F.lit(1)).over(w2) == 24)
    trend = F.when(full, (F.sum("temperature").over(w1)
                          + F.sum("temperature").over(w2)) / 48.0)
    d = df.withColumn("trend", trend).filter(F.col("trend").isNotNull()).toPandas()
    assert (abs(d.trend - 5.0) < 1e-9).all()      # MA removes the cycle


def test_cell_corr_and_acf_numpy(spark):
    """Pearson r and ACF against numpy on one reconstructed cell."""
    import numpy as np

    from geodata_spark.queries import _GV_DIMS, q_cell_acf, q_cell_corr
    from geodata_spark.synth import synth_grid_vars

    gv = synth_grid_vars(spark, **_GV_DIMS).select(
        "hour", "lat", "lon", "temperature", "wnd100m"
    ).toPandas()
    cell = gv.iloc[0][["lat", "lon"]]
    sub = gv[(gv.lat == cell.lat) & (gv.lon == cell.lon)].sort_values("hour")
    corr = {(r.lat, r.lon): r for r in q_cell_corr(spark, "unused").collect()}
    want_r = np.corrcoef(sub.temperature, sub.wnd100m)[0, 1]
    got = corr[(cell.lat, cell.lon)]
    assert got.n == len(sub) and abs(got.r_r6 - want_r) < 1e-6

    acf = {(r.lat, r.lon, r.h): r for r in q_cell_acf(spark, "unused").collect()}
    z = sub.temperature.to_numpy() - sub.temperature.mean()
    den = (z**2).sum()
    for h in (1, 3, 6):
        want = (z[:-h] * z[h:]).sum() / den
        row = acf[(cell.lat, cell.lon, h)]
        assert row.n_pairs == len(z) - h
        assert abs(row.acf_r6 - want) < 1e-6, h


def test_spell_stats_numpy_twin(spark):
    """Gaps-and-islands spell stats equal a direct numpy run-length
    scan for a sampled cell (and globals are conserved)."""
    import numpy as np

    from geodata_spark.queries import _GV_DIMS, q_spell_stats
    from geodata_spark.synth import synth_grid_vars

    gv = synth_grid_vars(spark, **_GV_DIMS).select(
        "hour", "lat", "lon", "temperature"
    ).toPandas()
    out = {(r.lat, r.lon): r for r in q_spell_stats(spark, "unused").collect()}
    cell = gv.iloc[7][["lat", "lon"]]
    sub = gv[(gv.lat == cell.lat) & (gv.lon == cell.lon)].sort_values("hour")
    hot = (sub.temperature > 285.0).to_numpy()
    # numpy run-length encode
    runs = []
    cur = 0
    for flag in hot:
        if flag:
            cur += 1
        elif cur:
            runs.append(cur)
            cur = 0
    if cur:
        runs.append(cur)
    row = out[(cell.lat, cell.lon)]
    assert row.n_spells == len(runs)
    assert row.max_spell == max(runs)
    assert row.hot_hours == sum(runs) == int(hot.sum())
    assert row.peak_t == sub.temperature[sub.temperature > 285.0].max()
    # conservation: total hot hours across cells equals the global count
    assert sum(r.hot_hours for r in out.values()) == int(
        (gv.temperature > 285.0).sum()
    )


def test_tx90p_discrete_percentile(spark):
    """The discrete p90 is the ceil(0.9 n)-th smallest stored value and
    the exceedance share counts strictly-above hours."""
    import numpy as np

    from geodata_spark.queries import _GV_DIMS, q_tx90p
    from geodata_spark.synth import synth_grid_vars

    gv = synth_grid_vars(spark, **_GV_DIMS).select(
        "hour", "lat", "lon", "temperature"
    ).toPandas()
    out = {(r.lat, r.lon): r for r in q_tx90p(spark, "unused").collect()}
    for idx in (0, 11):
        cell = gv.iloc[idx][["lat", "lon"]]
        sub = gv[(gv.lat == cell.lat) & (gv.lon == cell.lon)]
        vals = np.sort(sub.temperature.to_numpy())
        n = len(vals)
        k = -(-9 * n // 10)  # ceil(0.9 n)
        row = out[(cell.lat, cell.lon)]
        assert row.p90_t == vals[k - 1]
        assert row.n_hours == n
        assert row.n_exceed == int((vals > vals[k - 1]).sum())
        assert abs(row.frac_exceed - row.n_exceed / n) < 1e-12
        # a p90 must leave at most 10% strictly above
        assert row.n_exceed <= n - k


def test_cell_entropy_numpy_twin(spark):
    """H = ln n − Σ c·ln c / n equals the direct −Σ p ln p histogram
    entropy; bins are exact integer arithmetic on dyadic temperature."""
    import numpy as np

    from geodata_spark.queries import _GV_DIMS, q_cell_entropy
    from geodata_spark.synth import synth_grid_vars

    gv = synth_grid_vars(spark, **_GV_DIMS).select(
        "lat", "lon", "temperature"
    ).toPandas()
    out = {(r.lat, r.lon): r for r in q_cell_entropy(spark, "unused").collect()}
    cell = gv.iloc[3][["lat", "lon"]]
    sub = gv[(gv.lat == cell.lat) & (gv.lon == cell.lon)]
    bins = ((sub.temperature.to_numpy() * 16).astype(np.int64) - 4000) // 50
    assert (bins >= 0).all() and (bins < 16).all()
    _, counts = np.unique(bins, return_counts=True)
    p = counts / counts.sum()
    want = float(-(p * np.log(p)).sum())
    row = out[(cell.lat, cell.lon)]
    assert row.n_bins == len(counts)
    assert row.n == counts.sum()
    assert abs(row.entropy_r6 - want) < 1e-6
    assert 0.0 <= row.entropy_r6 <= np.log(16) + 1e-9


def test_getis_gstar_numpy_twin_and_edges(spark):
    """Gi* vs numpy brute force on a small grid: neighborhood sums,
    edge renormalization (corner n_i=4, edge 6, interior 9), and the
    hot-corner sign structure."""
    from geodata_spark.geostats import getis_ord_gstar

    rng = np.random.RandomState(11)
    arr = np.round(rng.uniform(0, 32, size=(5, 7)) * 16) / 16  # dyadic
    arr[0, 0] = 100.0  # hot corner
    out = getis_ord_gstar(_grid_df(spark, arr), "v").collect()
    got = {(r.y_idx, r.x_idx): (r.n_i, r.gi_r6) for r in out}
    ny, nx = arr.shape
    assert len(got) == ny * nx
    n = ny * nx
    m = arr.sum() / n
    s = np.sqrt((arr**2).sum() / n - m * m)
    for y in range(ny):
        for x in range(nx):
            ys = slice(max(0, y - 1), min(ny, y + 2))
            xs = slice(max(0, x - 1), min(nx, x + 2))
            hood = arr[ys, xs]
            n_i, s_i = hood.size, hood.sum()
            want = (s_i - m * n_i) / (
                s * np.sqrt((n * n_i - n_i * n_i) / (n - 1.0))
            )
            assert got[(y, x)][0] == n_i, (y, x)
            assert abs(got[(y, x)][1] - want) < 2e-6, (y, x)
    assert got[(0, 0)][0] == 4 and got[(0, 3)][0] == 6 and got[(2, 3)][0] == 9
    # the hot corner and its neighbors are the strongest hotspots
    assert got[(0, 0)][1] == max(v for _, v in got.values())
    assert got[(0, 0)][1] > 0 and got[(4, 6)][1] < got[(0, 0)][1]


def test_getis_gstar_plan_shape(spark):
    """Scale-shape pin: Gi* is scatter->gather -- a Generate explode,
    hash aggregates, and only broadcast/equi joins (no cartesian, no
    window)."""
    from geodata_spark.geostats import getis_ord_gstar
    from geodata_spark.synth import synth_grid_vars

    gv = synth_grid_vars(spark, nhours=2, ny=4, nx=4,
                         variables=("temperature",))
    plan = getis_ord_gstar(gv, "temperature")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "Generate explode" in plan
    assert "BroadcastHashJoin" in plan


def test_od_matrix_session_guard_and_flows(spark):
    """Hand-built event stream: transitions only inside the 30-min
    gap, self-loops kept, per-user ordering by (ts, event_id), and
    distinct-user counting."""
    from geodata_spark.queries import q_od_matrix
    import datetime as dt
    import os
    import tempfile

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def row(eid, uid, minutes, k):
        return (eid, t0 + dt.timedelta(minutes=minutes), uid,
                "view", 1.0, '{"k": %d}' % k)

    rows = [
        # user 1: A->B (5 min), B->B self-loop (10 min),
        # B-/->C (61 min: new session), C->A (1 min)
        row(1, 1, 0, 10), row(2, 1, 5, 11), row(3, 1, 15, 11),
        row(4, 1, 76, 12), row(5, 1, 77, 10),
        # user 2: A->B too (second distinct user on that edge)
        row(6, 2, 0, 10), row(7, 2, 29, 11),
        # user 3: single event, no transition
        row(8, 3, 0, 10),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string")
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    got = {(r.o_zone, r.d_zone): (r.n_flows, r.n_users)
           for r in q_od_matrix(spark, d).collect()}
    assert got == {
        (10, 11): (2, 2),   # A->B from users 1 and 2
        (11, 11): (1, 1),   # self-loop kept
        (12, 10): (1, 1),   # C->A inside the second session
    }


def test_areal_interp_shares_sum_to_pop(spark):
    """Pycnophylactic property: each zone's shares sum back to its
    attribute (mass preservation); overlapping zones contribute
    independent rows; every weight denominator is the zone's full
    lattice cell count."""
    from geodata_spark.queries import _AREAL_POP, q_areal_interp

    pdf = q_areal_interp(spark, "unused").toPandas()
    assert set(pdf.columns) == {"zone_id", "hex5", "n_cells_ab",
                                "n_cells_a", "pop_share_r6"}
    for z, g in pdf.groupby("zone_id"):
        # one denominator per zone, equal to the sum of its cell counts
        assert g.n_cells_a.nunique() == 1
        assert g.n_cells_ab.sum() == g.n_cells_a.iloc[0]
        # mass preservation (6-dp rounding -> loose tolerance)
        assert abs(g.pop_share_r6.sum() - _AREAL_POP[z]) < 1e-3, z
    # overlap: east_tri and coast_l both cover hexes near the diagonal
    hx = set(pdf[pdf.zone_id == "east_tri"].hex5) & set(
        pdf[pdf.zone_id == "coast_l"].hex5)
    assert hx, "expected overlapping east_tri/coast_l hex contributions"


def test_emerging_hotspots_planted_trend(spark):
    """A corner block whose values ramp up over time becomes an
    'up'-trend hotspot; a static field classifies every cell 'flat'
    with z = 0; categories agree with the row's own z/gi_last."""
    from pyspark.sql import functions as F

    from geodata_spark.geostats import getis_ord_gstar
    from geodata_spark.model import theil_sen_mk

    ny, nx, nt = 6, 6, 8
    rng = np.random.RandomState(3)
    base = np.round(rng.uniform(0, 4, size=(ny, nx)) * 16) / 16
    rows = []
    for t in range(nt):
        arr = base.copy()
        arr[0:2, 0:2] += 8.0 * t  # ramping hot corner
        for y in range(ny):
            for x in range(nx):
                rows.append((t, LAT0 + DLAT * y, LON0 + DLON * x,
                             float(arr[y, x])))
    df = spark.createDataFrame(rows, "hour long, lat double, lon double, v double")
    gi = getis_ord_gstar(df, "v")
    mk = theil_sen_mk(gi, ["y_idx", "x_idx"], t_col="hour", y_col="gi_r6")
    last = gi.groupBy("y_idx", "x_idx").agg(
        F.max_by("gi_r6", "hour").alias("gi_last"))
    out = {(r.y_idx, r.x_idx): r for r in mk.join(last, ["y_idx", "x_idx"]).collect()}
    assert len(out) == ny * nx and all(r.n == nt for r in out.values())
    corner = out[(0, 0)]
    assert corner.z_mk_r6 > 1.645 and corner.gi_last > 1.645  # hot/up
    far = out[(5, 5)]
    assert far.gi_last < 0  # the far corner turns relatively cold

    # static field: every z is exactly 0 (all-tied variance guard)
    static = [(t, LAT0 + DLAT * y, LON0 + DLON * x, 2.5)
              for t in range(4) for y in range(3) for x in range(3)]
    sdf = spark.createDataFrame(static, "hour long, lat double, lon double, v double")
    sgi = getis_ord_gstar(sdf, "v")
    smk = theil_sen_mk(sgi, ["y_idx", "x_idx"], t_col="hour", y_col="gi_r6")
    assert all(r.z_mk_r6 == 0.0 and r.s_mk == 0 for r in smk.collect())


def test_ordinary_kriging_numpy_twin(spark):
    """Kriging vs a full python re-solve on the same kNN neighborhoods:
    identical predictions/variances, exact interpolation at zero
    nugget for a target coincident with an observation pattern, and
    weights that sum to 1 (the ordinary-kriging constraint)."""
    from geodata_spark.deploy import ensure_py_files
    from geodata_spark.geostats import ordinary_kriging

    ensure_py_files(spark)
    rng = np.random.RandomState(5)
    rows = []
    for y in range(8):
        for x in range(8):
            rows.append((LAT0 + DLAT * y, LON0 + DLON * x,
                         float(np.round(rng.uniform(0, 8) * 16) / 16)))
    allc = spark.createDataFrame(rows, "lat double, lon double, v double")
    obs = allc.filter("CAST(round((lat - 18.25) / 0.5) AS INT) % 2 = 0")
    tgts = allc.filter("CAST(round((lat - 18.25) / 0.5) AS INT) % 2 = 1") \
        .select("lat", "lon")
    sill, rng_deg, k = 1.0, 1.5, 6
    got = {(r.lat, r.lon): (r.pred_r6, r.kvar_r6, r.n_used)
           for r in ordinary_kriging(obs, tgts, "v", k=k, sill=sill,
                                     range_deg=rng_deg, res=5).collect()}
    opdf = obs.toPandas()
    O = opdf[["lat", "lon"]].to_numpy()
    V = opdf.v.to_numpy()
    for (tla, tlo), (pred, kvar, n_used) in got.items():
        assert n_used == k
        d2 = ((O[:, 0] - tla) ** 2 + (O[:, 1] - tlo) ** 2)
        near = np.argsort(d2, kind="stable")[:k]
        xs, ys, v = O[near, 0], O[near, 1], V[near]
        d = np.sqrt((xs[:, None] - xs) ** 2 + (ys[:, None] - ys) ** 2)
        A = np.ones((k + 1, k + 1))
        A[:k, :k] = sill * np.exp(-d / rng_deg)
        A[k, k] = 0.0
        c = sill * np.exp(-np.sqrt((xs - tla) ** 2 + (ys - tlo) ** 2) / rng_deg)
        w = np.linalg.solve(A, np.append(c, 1.0))
        assert abs(w[:k].sum() - 1.0) < 1e-9        # OK constraint
        assert abs(pred - round(float(w[:k] @ v), 6)) < 2e-6, (tla, tlo)
        assert abs(kvar - round(float(sill - w[:k] @ c - w[k]), 6)) < 2e-6
        assert kvar > 0  # away from observations the variance is positive


def test_cell_quantiles_and_degree_days_numpy(spark):
    """Both per-cell summaries vs numpy on the synth slice: linear-
    interpolation quantiles and exact degree-hour sums."""
    from geodata_spark.queries import q_cell_quantiles, q_degree_days, _gv

    gv = _gv(spark).select("lat", "lon", "temperature").toPandas()
    qdf = {(r.lat, r.lon): r for r in q_cell_quantiles(spark, "unused").collect()}
    ddf = {(r.lat, r.lon): r for r in q_degree_days(spark, "unused").collect()}
    g = gv.groupby(["lat", "lon"]).temperature
    for (la, lo), vals in g:
        v = vals.to_numpy()
        r = qdf[(la, lo)]
        assert r.n == len(v)
        assert abs(r.p10 - np.percentile(v, 10)) < 2e-6
        assert abs(r.p50 - np.percentile(v, 50)) < 2e-6
        assert abs(r.p90 - np.percentile(v, 90)) < 2e-6
        d = ddf[(la, lo)]
        assert d.hdd == np.maximum(0.0, 18.5 - v).sum()   # dyadic exact
        assert d.cdd == np.maximum(0.0, v - 18.5).sum()
        assert d.h_below == int((v < 18.5).sum())
        assert d.h_above == int((v > 18.5).sum())


def test_weibull_wind_fit_properties(spark):
    """Weibull method-of-moments fit: Lanczos gamma matches
    math.gamma to 1e-12 on the used range, and the fit recovers the
    scipy-free analytic relations — for a known Weibull sample the
    moments map back to (k, lambda) within estimator tolerance; the
    Rayleigh special case (k=2) has sigma/mu = sqrt(4/pi - 1)."""
    import math

    from pyspark.sql import functions as F

    from geodata_spark.queries import (_lanczos_gamma_col,
                                       _lanczos_gamma_sql, q_weibull_wind)

    # gamma twin accuracy on the z range the fit visits (1..2.5)
    import duckdb
    con = duckdb.connect()
    for z in (1.0, 1.25, 1.5, 1.8, 2.0, 2.5):
        df = spark.range(1).select(_lanczos_gamma_col(F.lit(z)).alias("g"))
        g_spark = df.collect()[0].g
        g_duck = con.execute(
            f"SELECT {_lanczos_gamma_sql(repr(z))} AS g").fetchone()[0]
        assert abs(g_spark - math.gamma(z)) < 1e-12, z
        assert abs(g_duck - math.gamma(z)) < 1e-12, z

    out = q_weibull_wind(spark, "unused").collect()
    assert len(out) == 504
    for r in out:
        assert r.k_r6 is not None and r.k_r6 > 0
        assert r.lambda_r6 is not None and r.lambda_r6 > 0
        # moment identity: mean == lambda * Gamma(1 + 1/k) (round-trip
        # of the method-of-moments construction)
        assert abs(r.mean_r6
                   - r.lambda_r6 * math.gamma(1 + 1 / r.k_r6)) < 1e-4

    # planted Rayleigh-like series: sigma/mu chosen so k ~= 2
    ratio = math.sqrt(4 / math.pi - 1)
    mu = 8.0
    sd = ratio * mu
    vals = [mu - sd, mu + sd] * 24  # exact mean mu, std sd
    rows = [(h, 30.0, 100.0, float(v)) for h, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "hour long, lat double, lon double, wnd100m double")
    import geodata_spark.queries as Q
    agg = df.groupBy("lat", "lon").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("wnd100m").alias("s1"),
        F.sum(F.col("wnd100m") * F.col("wnd100m")).alias("s2"))
    muc = F.col("s1") / F.col("n")
    varc = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / F.col("n")
    k = agg.select(F.pow(F.sqrt(varc) / muc, F.lit(-1.086)).alias("k")).collect()[0].k
    # Justus' power-law is an APPROXIMATION of the exact moment
    # relation; at the Rayleigh point its error is ~1.1%
    assert abs(k - 2.0) < 0.05


def test_r7_query_plan_shapes(spark):
    """Scale-shape pins for the round-7 operator batch: no cartesian
    anywhere; od_matrix = exactly its two keyed exchanges (user
    window + pair agg); areal_interp joins via broadcast only;
    zonal_majority joins nothing (zone membership is the compiled
    function, with no cover broadcast); bloom's screen stage carries
    no join for the scan-side probe (the bitset is a codegen literal)."""
    from geodata_spark.queries import (q_areal_interp, q_bloom_decontam,
                                       q_od_matrix, q_zonal_majority)
    from geodata_spark import spatial

    sf = "/root/testdata/sf0.001"

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    p_od = plan(q_od_matrix(spark, sf))
    assert "CartesianProduct" not in p_od and "Join" not in p_od
    assert p_od.count("Exchange hashpartitioning") == 2

    p_ar = plan(q_areal_interp(spark, sf))
    assert "CartesianProduct" not in p_ar
    assert "SortMergeJoin" not in p_ar  # everything broadcast/equi

    p_zm = plan(q_zonal_majority(spark, sf))
    assert "CartesianProduct" not in p_zm
    assert spatial.zone_member_name(None, 9) in p_zm
    assert "Join" not in p_zm and "BroadcastExchange" not in p_zm

    p_bl = plan(q_bloom_decontam(spark, sf))
    assert "CartesianProduct" not in p_bl
    # exact verify join is the broadcast; the Bloom probe itself is a
    # literal-array expression, visible as the packed bitset constant
    assert "BroadcastHashJoin" in p_bl
    assert p_bl.count("element_at") >= 3


def test_dau_wau_rolling_distinct_semantics(spark):
    """The scatter rolling-distinct: WAU(day) counts users active on
    ANY of day-6..day (trailing 7), verified against a brute-force
    python recompute on a planted stream; DAU <= WAU always."""
    import datetime as dt
    import os
    import tempfile

    from geodata_spark.queries import q_dau_wau

    base = dt.datetime(2024, 1, 1, 12, 0)
    rows = []
    eid = 0
    # user 1 active days 0 and 9; user 2 days 0..4; user 3 day 2 only
    for uid, days in ((1, [0, 9]), (2, [0, 1, 2, 3, 4]), (3, [2])):
        for d in days:
            eid += 1
            rows.append((eid, base + dt.timedelta(days=d), uid, "view",
                         1.0, '{"k": 1}'))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string")
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    got = {r.day: (r.dau, r.wau) for r in q_dau_wau(spark, d).collect()}

    active = {1: {0, 9}, 2: {0, 1, 2, 3, 4}, 3: {2}}
    for day, (dau, wau) in got.items():
        want_dau = sum(1 for u in active if day in active[u])
        want_wau = sum(1 for u in active
                       if any(day - 6 <= x <= day for x in active[u]))
        assert (dau, wau) == (want_dau, want_wau), day
        assert dau <= wau
    # day 9: only user 1 is daily-active; user 2 (last active day 4)
    # still counts in the trailing week [3..9], user 3 (day 2) aged out
    assert got[9] == (1, 2)
    assert got[2] == (2, 3)
