from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from geodata_spark import sources
from geodata_spark.synth import synth_documents, synth_grid_vars


def test_raster_roundtrip(spark):
    arr = np.arange(12, dtype=float).reshape(3, 4)
    df = sources.raster_to_table(spark, arr, 10.0, 20.0, 0.5, 0.625)
    back = sources.table_to_raster(df, 3, 4)
    assert (back == arr).all()
    r = df.filter((F.col("y_idx") == 2) & (F.col("x_idx") == 3)).collect()[0]
    assert r.lat == 11.0 and abs(r.lon - 21.875) < 1e-12


def test_geotiff_ungated(spark):
    # round 7 un-gated the S7 scan (in-repo pure-Python reader,
    # geotiff.py): a missing file is now an ordinary IO error, not a
    # NotImplementedError gate; the real read path is pinned by
    # tests/test_geotiff_format.py
    with pytest.raises(FileNotFoundError):
        sources.read_geotiff(spark, "/nonexistent.tif")


def test_lon_wraparound(spark):
    df = spark.createDataFrame([(170.0,), (181.0,), (359.75,)], ["lon"])
    got = sorted(r.lon for r in sources.lon_wraparound(df).collect())
    assert got == [-179.0, -0.25, 170.0]


def test_trim_variables_prunes_scan(spark, tmp_path):
    p = str(tmp_path / "gv")
    synth_grid_vars(spark, 2, 3, 3).write.parquet(p)
    df = sources.trim_variables(spark.read.parquet(p), ["temperature", "wnd100m"])
    assert set(df.columns) == {"ts", "hour", "lat", "lon", "temperature", "wnd100m"}
    plan = df._jdf.queryExecution().executedPlan().toString()
    # column pruning reached the parquet scan: no aerosol columns read
    assert "dusmass25" not in plan
    assert "temperature" in plan


def test_meta_scan_and_merge(spark):
    gv = synth_grid_vars(spark, 2, 2, 2, variables=("temperature",))
    meta = sources.meta_scan(gv)
    assert meta.count() == 4
    a = gv.select("hour", "lat", "lon", "temperature")
    b = synth_grid_vars(spark, 2, 2, 2, variables=("wnd100m",)).select(
        "hour", "lat", "lon", "wnd100m"
    )
    merged = sources.multi_file_merge([a, b])
    assert set(merged.columns) == {"hour", "lat", "lon", "temperature", "wnd100m"}
    assert merged.count() == 8
    assert merged.filter(F.col("temperature").isNull() | F.col("wnd100m").isNull()).count() == 0


def test_spinup_ladder():
    # values checked against the reference case ladder (merra2.py:597-611)
    assert sources.spinup_stream_id(1985, 1) == "100"
    assert sources.spinup_stream_id(1992, 1) == "200"
    assert sources.spinup_stream_id(2005, 6) == "300"
    assert sources.spinup_stream_id(2015, 6) == "400"
    assert sources.spinup_stream_id(2020, 9) == "401"
    assert sources.spinup_stream_id(2020, 10) == "400"
    assert sources.spinup_stream_id(2022, 1) == "400"


# ---------------------------------------------------------------------------
# plan quality — the shapes the engine promises at scale
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def corpus_parquet(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "docs")
    synth_documents(spark, 5000).write.parquet(p)
    return p


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_plan_single_scan_no_python(spark, corpus_parquet):
    """ONE parquet scan, zone membership as the compiled function with
    no cover broadcast, zero Python."""
    from geodata_spark import spatial, zonal
    from geodata_spark.zones import ZONES

    docs = spark.read.parquet(corpus_parquet)
    pts = spatial.parse_geo_spans(docs)
    zoned = spatial.join_zones(pts, spark, ZONES, res=9)
    w = zoned.withColumn("w", zonal.oracle_area_weight_expr(F.col("lat")))
    out = zonal.zonal_weighted_mean(
        w, "val", "w", ["zone_id"], salt_buckets=8, salt_cols=["lat", "lon", "hour"]
    )
    plan = _plan(out)
    assert plan.count("FileScan parquet") + plan.count("Scan parquet") >= 1
    assert spatial.zone_member_name(ZONES, 9) in plan, "membership is the compiled function"
    assert "BroadcastExchange" not in plan, "the cover ships once per session, not per query"
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, (
        "the zone join must not touch Python"
    )
    # partial + final hash aggregation (map-side combine present)
    assert plan.count("HashAggregate") >= 4  # salted: 2 per phase


def test_parse_pushes_kind_filter(spark, corpus_parquet):
    from geodata_spark import spatial

    docs = spark.read.parquet(corpus_parquet)
    pts = spatial.parse_geo_spans(docs)
    plan = _plan(pts)
    # spans array itself can't push below explode, but the generate is
    # followed by the kind filter before any wide transform
    assert "posexplode" in plan
    assert "geo" in plan


def test_knn_no_cartesian(spark):
    from geodata_spark import knn

    src = synth_grid_vars(spark, 1, 8, 8, variables=("temperature",)).select(
        "lat", "lon", "temperature"
    )
    tgts = spark.createDataFrame([(20.0, 74.0), (21.0, 75.0)], ["lat", "lon"])
    out = knn.knn_join(tgts, src, k=2, res=6)
    plan = _plan(out)
    assert "CartesianProduct" not in plan, "kNN must join on cell ring, not cross"
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan


def test_salt_is_deterministic(spark):
    """Same input rows → same salt bucket (retry-idempotent salting);
    no nondeterministic expressions in the salted plan."""
    from geodata_spark import zonal

    df = spark.createDataFrame(
        [(i % 3, float(i), 1.0, i) for i in range(64)],
        ["zone_id", "val", "w", "row_id"],
    )
    # a salt chosen by default can collapse on constant columns:
    # salt_buckets without salt_cols is refused, as in topk_per_group
    with pytest.raises(ValueError, match="salt_cols"):
        zonal.zonal_weighted_mean(df, "val", "w", ["zone_id"], salt_buckets=8)
    out = zonal.zonal_weighted_mean(
        df, "val", "w", ["zone_id"], salt_buckets=8, salt_cols=["row_id"]
    )
    plan = _plan(out)
    assert "monotonically_increasing_id" not in plan
    # the salt expression is a pure function of row columns: two
    # independent evaluations bucket identically
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(8))
    )
    a = {r["row_id"]: r["_salt"] for r in salted.collect()}
    b = {r["row_id"]: r["_salt"] for r in salted.orderBy(F.rand(7)).collect()}
    assert a == b
    # and the salted aggregate matches the unsalted one exactly
    plain = zonal.zonal_weighted_mean(df, "val", "w", ["zone_id"]).collect()
    slt = out.collect()
    assert {tuple(r) for r in plain} == {tuple(r) for r in slt}


def test_knn_ring_join_single_shuffle_no_dedupe(spark):
    """array_distinct on the ring array removes the post-join
    dropDuplicates: exactly one aggregation-free exchange pair feeding
    the join, and duplicate-coordinate source rows all survive."""
    from geodata_spark import knn

    src = spark.createDataFrame(
        [(20.0, 74.0, 1.0), (20.0, 74.0, 2.0), (20.5, 74.5, 3.0)],
        ["lat", "lon", "temperature"],
    )
    tgts = spark.createDataFrame([(20.1, 74.1)], ["lat", "lon"])
    out = knn.knn_join(tgts, src, k=3, res=6)
    rows = out.collect()
    assert len(rows) == 3, "both rows at the shared coordinate must survive"
    vals = sorted(r["temperature_src"] for r in rows)
    assert vals == [1.0, 2.0, 3.0]


def test_topk_per_group_exact_and_plain_has_native_group_limit(spark):
    """topk_per_group (two-phase) emits exactly the plain window's rows
    under a total order, and the PLAIN path's plan carries Spark's
    native WindowGroupLimit Partial — the optimizer fact ranking.py
    documents (use plain when the rule fires)."""
    from geodata_spark.ranking import topk_per_group

    df = spark.createDataFrame(
        [(i % 3, float((i * 7) % 50), i) for i in range(500)],
        ["k", "v", "row_id"],
    )
    order = [F.col("v").desc(), F.col("row_id").asc()]
    plain = topk_per_group(df, ["k"], order, k=4)
    two = topk_per_group(df, ["k"], order, k=4, salt_buckets=8, salt_cols=["row_id"])
    want = sorted(tuple(r) for r in plain.collect())
    got = sorted(tuple(r) for r in two.collect())
    assert want == got and len(want) == 12
    plan = plain._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan
    import pytest

    with pytest.raises(ValueError, match="salt_cols"):
        topk_per_group(df, ["k"], order, k=4, salt_buckets=8)


def test_grouped_prefix_sum_equals_serial_window(spark):
    """Two-phase per-key prefix sum == the serial running window,
    bit-for-bit on integer values, including a 60%-hot key."""
    from pyspark.sql.window import Window

    from geodata_spark.ranking import grouped_prefix_sum

    rows = [(0 if i % 5 < 3 else i % 5, i, (i * 13) % 97) for i in range(2000)]
    df = spark.createDataFrame(rows, ["k", "t", "v"])
    two = grouped_prefix_sum(
        df, keys=["k"], order_cols=["t"], val_col="v",
        bin_expr=F.expr("t div 100"), out_col="cum",
    )
    w = (
        Window.partitionBy("k").orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    serial = df.withColumn("cum", F.sum("v").over(w))
    a = sorted(tuple(r) for r in two.select("k", "t", "cum").collect())
    b = sorted(tuple(r) for r in serial.select("k", "t", "cum").collect())
    assert a == b
    # the two-phase plan must not sort any key on a single partition:
    # its big window partitions by (k, _bin)
    plan = two._jdf.queryExecution().executedPlan().toString()
    assert "_bin" in plan


def test_asof_join_semantics(spark):
    """Union-trick as-of join: latest at-or-before match per key,
    inclusive at coincident timestamps, NULL when nothing precedes,
    deterministic tie-break, tolerance window."""
    from geodata_spark.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100.0), (1, 20, 200.0), (2, 5, 50.0), (3, 9, 90.0)],
        ["k", "ts", "lv"],
    )
    right = spark.createDataFrame(
        [(1, 10, 1.0, 7), (1, 10, 2.0, 9), (1, 15, 3.0, 1), (2, 6, 4.0, 2)],
        ["k", "ts", "rv", "rid"],
    )
    out = {
        (r["k"], r["ts"]): (r["rv_asof"], r["ts_asof"])
        for r in asof_join(
            left, right, on=["k"], ts_col="ts", right_cols=("rv",),
            tiebreak_col="rid",
        ).collect()
    }
    assert out[(1, 10)] == (2.0, 10)   # inclusive; tie → larger rid wins
    assert out[(1, 20)] == (3.0, 15)   # latest prior
    assert out[(2, 5)] == (None, None)  # right exists but only later
    assert out[(3, 9)] == (None, None)  # no right rows for key
    # tolerance: the (1, 20) match at ts=15 dies with a 3-second window
    tol = {
        (r["k"], r["ts"]): r["rv_asof"]
        for r in asof_join(
            left, right, on=["k"], ts_col="ts", right_cols=("rv",),
            tiebreak_col="rid", tolerance_seconds=3,
        ).collect()
    }
    assert tol[(1, 10)] == 2.0 and tol[(1, 20)] is None
    # plan shape: one window over the union — no range-join explosion
    plan = asof_join(
        left, right, on=["k"], ts_col="ts", right_cols=("rv",)
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "Window" in plan


def test_asof_join_row_atomic_nulls_and_string_tiebreak(spark):
    """A NULL in the MATCHED right row's value column must surface as
    NULL — not fall through to an older row's value (the carried match
    is row-atomic).  String tiebreaks compare natively, never cast."""
    from geodata_spark.temporal import asof_join

    left = spark.createDataFrame([(1, 6)], ["k", "ts"])
    right = spark.createDataFrame(
        [(1, 3, 7.0, "a"), (1, 5, None, "b")], ["k", "ts", "rv", "rid"]
    )
    r = asof_join(
        left, right, on=["k"], ts_col="ts", right_cols=("rv",),
        tiebreak_col="rid",
    ).collect()[0]
    # matched row is (ts=5, rv=NULL): rv_asof must be NULL with ts_asof=5,
    # NOT the older 7.0 stitched onto ts=5 (DuckDB ASOF agrees)
    assert r["ts_asof"] == 5 and r["rv_asof"] is None
    # string tie-break at coincident ts: largest rid wins, no long cast
    right2 = spark.createDataFrame(
        [(1, 6, 1.0, "E0001"), (1, 6, 2.0, "E0009")], ["k", "ts", "rv", "rid"]
    )
    r2 = asof_join(
        left, right2, on=["k"], ts_col="ts", right_cols=("rv",),
        tiebreak_col="rid",
    ).collect()[0]
    assert r2["rv_asof"] == 2.0
    # forward direction: earliest right at-or-after, mirror tolerance
    fleft = spark.createDataFrame([(1, 4), (1, 20)], ["k", "ts"])
    fwd = {
        r["ts"]: (r["rv_asof"], r["ts_asof"])
        for r in asof_join(
            fleft, right, on=["k"], ts_col="ts", right_cols=("rv",),
            tiebreak_col="rid", direction="forward",
        ).collect()
    }
    assert fwd[4] == (None, 5)      # earliest at-or-after is ts=5 (rv NULL)
    assert fwd[20] == (None, None)  # nothing after ts=20
    ftol = {
        r["ts"]: r["ts_asof"]
        for r in asof_join(
            fleft, right, on=["k"], ts_col="ts", right_cols=("rv",),
            tiebreak_col="rid", direction="forward", tolerance_seconds=0.5,
        ).collect()
    }
    assert ftol[4] is None  # ts=5 match is 1s ahead, outside the window
    import pytest

    with pytest.raises(ValueError, match="direction"):
        asof_join(fleft, right, on=["k"], direction="sideways", right_cols=("rv",))


def test_asof_join_ignores_null_right_timestamps(spark):
    """Right rows with NULL ts sort first under the window order and
    carry a non-null struct — without the explicit filter they would
    'match' every left row.  DuckDB's native ASOF ignores them; so do
    we (ADVICE r4)."""
    from geodata_spark.temporal import asof_join

    left = spark.createDataFrame([(1, 10)], ["k", "ts"])
    right = spark.createDataFrame(
        [(1, None, 99.0, 1), (1, 4, 4.0, 2)],
        "k bigint, ts bigint, rv double, rid bigint",
    )
    r = asof_join(
        left, right, on=["k"], ts_col="ts", right_cols=("rv",),
        tiebreak_col="rid",
    ).collect()[0]
    assert r["rv_asof"] == 4.0 and r["ts_asof"] == 4
    # and when the ONLY right row has NULL ts → left-join NULLs
    right2 = spark.createDataFrame(
        [(1, None, 99.0, 1)], "k bigint, ts bigint, rv double, rid bigint"
    )
    r2 = asof_join(
        left, right2, on=["k"], ts_col="ts", right_cols=("rv",),
        tiebreak_col="rid",
    ).collect()[0]
    assert r2["rv_asof"] is None and r2["ts_asof"] is None


def test_asof_join_binned_equals_plain(spark):
    """The bin-split skew path (bin_expr) must return EXACTLY the
    plain union-window rows — hot key, duplicate timestamps, both
    directions, with and without tolerance — while the big window
    partitions by (key, _bin) so no key sorts on a single task."""
    import numpy as np
    from pyspark.sql import functions as F

    from geodata_spark.temporal import asof_join

    rng = np.random.default_rng(0)
    k = rng.integers(0, 8, 800)
    k[:400] = 0  # hot key
    R = spark.createDataFrame(
        [
            (int(a), int(b), float(c), int(d))
            for a, b, c, d in zip(
                k, rng.integers(0, 200, 800), rng.integers(0, 99, 800), range(800)
            )
        ],
        "k long, ts long, rv double, rid long",
    )
    L = spark.createDataFrame(
        [
            (int(a), int(b))
            for a, b in zip(rng.integers(0, 8, 500), rng.integers(0, 200, 500))
        ],
        "k long, ts long",
    )
    for direction in ("backward", "forward"):
        for tol in (None, 20.0):
            kw = dict(
                on=["k"], ts_col="ts", right_cols=("rv",), tiebreak_col="rid",
                direction=direction, tolerance_seconds=tol,
            )
            plain = sorted(map(tuple, asof_join(L, R, **kw).collect()))
            binned = asof_join(L, R, bin_expr=F.expr("ts div 32"), **kw)
            assert sorted(map(tuple, binned.collect())) == plain
    plan = (
        asof_join(L, R, bin_expr=F.expr("ts div 32"), on=["k"], ts_col="ts",
                  right_cols=("rv",), tiebreak_col="rid")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "_bin" in plan


def test_gapfill_linear_semantics(spark):
    """Interior gaps interpolate linearly; leading/trailing gaps carry
    the nearest neighbour; non-null rows pass through untouched."""
    from geodata_spark.temporal import gapfill_linear

    rows = [
        (1, 0, None), (1, 1, 10.0), (1, 2, None), (1, 3, None),
        (1, 4, 40.0), (1, 5, None),
        (2, 0, 5.0), (2, 1, None),
    ]
    df = spark.createDataFrame(rows, "k long, t long, v double")
    out = {
        (r["k"], r["t"]): r["filled"]
        for r in gapfill_linear(df, ["k"], "t", "v").collect()
    }
    assert out[(1, 0)] == 10.0          # leading gap: carry next
    assert out[(1, 1)] == 10.0
    assert out[(1, 2)] == 20.0          # 10 + (40-10)*(2-1)/(4-1)
    assert out[(1, 3)] == 30.0
    assert out[(1, 5)] == 40.0          # trailing gap: carry prev
    assert out[(2, 1)] == 5.0


def test_stratified_sample_deterministic_and_stratified(spark):
    """Same rows kept across invocations and row orders; per-stratum
    keep rates track the configured percentages."""
    from pyspark.sql import functions as F

    from geodata_spark.pipeline.packing import stratified_sample

    df = spark.createDataFrame(
        [(f"d{i:05d}", "a" if i % 2 == 0 else "b") for i in range(2000)],
        "doc_id string, stratum string",
    )
    kept1 = {r["doc_id"] for r in stratified_sample(df, "stratum", {"a": 30, "b": 80}).collect()}
    kept2 = {
        r["doc_id"]
        for r in stratified_sample(
            df.orderBy(F.rand(3)), "stratum", {"a": 30, "b": 80}
        ).collect()
    }
    assert kept1 == kept2
    a = sum(1 for d in kept1 if int(d[1:]) % 2 == 0) / 1000
    b = sum(1 for d in kept1 if int(d[1:]) % 2 == 1) / 1000
    assert 0.22 < a < 0.38 and 0.72 < b < 0.88


def test_interval_join_binned_no_explosion(spark):
    """Binned interval join: exact overlap pairs (vs a brute-force
    theta join), each matched pair exactly once despite multi-bin
    replication, and the plan joins on the (key, bin) equi-keys —
    no CartesianProduct / BroadcastNestedLoop."""
    import numpy as np
    from pyspark.sql import functions as F

    from geodata_spark.temporal import interval_join

    rng = np.random.default_rng(4)
    L = spark.createDataFrame(
        [
            (int(k), int(i), int(s), int(s + d))
            for i, (k, s, d) in enumerate(
                zip(rng.integers(0, 5, 300), rng.integers(0, 5000, 300),
                    rng.integers(0, 200, 300))
            )
        ],
        "k long, lid long, start long, end long",
    )
    R = spark.createDataFrame(
        [
            (int(k), int(i), int(s), int(s + d))
            for i, (k, s, d) in enumerate(
                zip(rng.integers(0, 5, 300), rng.integers(0, 5000, 300),
                    rng.integers(0, 200, 300))
            )
        ],
        "k long, rid long, rstart long, rend long",
    )
    out = interval_join(L, R, on=["k"], bin_width=128,
                        l_start="start", l_end="end",
                        r_start="rstart", r_end="rend")
    got = sorted((r["k"], r["lid"], r["rid"]) for r in out.collect())
    brute = sorted(
        (r["k"], r["lid"], r["rid"])
        for r in L.join(R, "k")
        .filter((F.col("start") <= F.col("rend")) & (F.col("rstart") <= F.col("end")))
        .collect()
    )
    assert got == brute and len(got) == len(set(got))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_gapfill_single_shuffle(spark):
    """Both gap-fill carries share one (keys, t) sort: the plan holds
    exactly one Exchange below the windows."""
    from geodata_spark.temporal import gapfill_linear

    df = spark.createDataFrame(
        [(1, 0, None), (1, 1, 2.0)], "k long, t long, v double"
    )
    plan = (
        gapfill_linear(df, ["k"], "t", "v")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, plan


def test_hex_knn_plan_ring_equi_join(spark):
    """Hex-grain kNN is a ring EQUI-join on the face-local cell id:
    no cartesian/nested-loop, a hash or sort-merge join on _nbr_cell,
    and the two Arrow UDF stages (disk explode / face-local cells)
    present — plan pin for the `hex_knn` driver row."""
    from geodata_spark import knn
    from geodata_spark.synth import synth_grid_vars

    src = synth_grid_vars(spark, 1, 8, 8, variables=("temperature",)).select(
        "lat", "lon", "temperature"
    )
    tgts = spark.createDataFrame([(20.0, 74.0), (21.0, 75.0)], ["lat", "lon"])
    out = knn.knn_join(tgts, src, k=2, res=3, grain="hex")
    plan = _plan(out)
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert (
        "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
        or "ShuffledHashJoin" in plan
    )
    assert plan.count("ArrowEvalPython") >= 2  # disk UDF + face-cells UDF


def test_hex_zone_join_calls_member_function(spark):
    """Hex-grain zone membership keeps the flagship's physical shape:
    the compiled membership function on each probe key, no cover
    broadcast per query, and no Python stage (the hex encode is one
    compiled JVM function too)."""
    from geodata_spark import spatial
    from geodata_spark.synth import synth_documents

    docs = synth_documents(spark, 200)
    pts = spatial.parse_geo_spans(docs)
    out = spatial.join_zones(pts, spark, res=5, grain="hex")
    plan = _plan(out)
    assert spatial.zone_member_name(None, 5, "hex") in plan
    assert "BroadcastExchange" not in plan and "Join" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("ArrowEvalPython") == plan.count("BatchEvalPython") == 0


def test_hex_rollup_multi_single_pass(spark):
    """The hierarchical hex rollup must pay the fact table ONCE: no
    Python stage, one fact-cardinality shuffle plus one tiny re-agg
    shuffle, and no per-level union re-computation (which would show
    6 Exchanges)."""
    from geodata_spark import queries as Q

    df = Q.q_hex_rollup_multi(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("ArrowEvalPython") == plan.count("BatchEvalPython") == 0, plan
    assert plan.count("Exchange") == 2, plan


def test_radius_join_plan_equi_join(spark):
    """radius_join must stay a cell-ring equi-join at every ring width
    — no CartesianProduct / NestedLoop even when the radius forces
    ring 4."""
    from geodata_spark import knn

    src = synth_grid_vars(spark, 1, 8, 8, variables=("temperature",)).select(
        "lat", "lon", "temperature"
    )
    tgts = spark.createDataFrame([(20.0, 74.0), (21.0, 75.0)], ["lat", "lon"])
    out = knn.radius_join(tgts, src, radius_deg=1.75, res=8)
    plan = _plan(out)
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert (
        "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
        or "ShuffledHashJoin" in plan
    )


def test_bilinear_regrid_plan_no_grid_explode(spark):
    """bilinear_regrid: integer-index equi-join, the corner explode
    only on the target side (Generate sits above the target scan, the
    grid side feeds the join un-exploded), no cross product."""
    from geodata_spark import knn

    src = synth_grid_vars(spark, 1, 8, 8, variables=("temperature",)).select(
        "lat", "lon", "temperature"
    )
    tgts = spark.createDataFrame([(20.25, 74.0)], ["lat", "lon"])
    out = knn.bilinear_regrid(
        tgts, src, ["temperature"], lat0=18.25, dlat=0.5,
        lon0=73.3125, dlon=0.625, ny=8, nx=8,
    )
    plan = _plan(out)
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert plan.count("Generate") == 1, "only the target side explodes"
