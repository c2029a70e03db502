#!/usr/bin/env python
"""Write BENCH/PLANS.md: the executed physical plans of the headline
queries, annotated with what to look for.  The plan SHAPES are pinned
by tests (tests/test_sources_plans.py etc.); this artifact makes them
readable without running anything.

Usage: python tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.001"

NOTES = {
    "zonal_daily_wavg": (
        "flagship: ONE parquet scan, span explode + kind filter, "
        "broadcast zone-cover join, CASE-short-circuit PIP in codegen "
        "(no Python stage), PLAIN partial+final hash aggregation — "
        "map-side combine reduces each task to <=|groups| rows before "
        "the shuffle, so the hot cell never reaches a reducer as a "
        "hot key (salting dropped r7: its second phase measured 14% "
        "overhead; still re-measured every round in the skew bench)"
    ),
    "tpch_bigjoin_revenue": (
        "big-big join: SortMergeJoin between the two fact exchanges; "
        "date predicates pushed to the parquet scan (PushedFilters)"
    ),
    "knn_neighbors": (
        "kNN: ring-cell equi-join (no CartesianProduct), "
        "rank window over the candidate ring only"
    ),
    "events_asof": (
        "as-of join: union of tagged sides, ONE window sort per key — "
        "no range-join pair explosion"
    ),
    "events_asof_binned": (
        "skew as-of: the big window partitions by (user_id, _bin); the "
        "cross-bin carry is a tiny keys-by-bins window + left join"
    ),
    "interval_join": (
        "interval join: sequence-explode onto bins, shuffle equi-join "
        "on (key, bin) — no BroadcastNestedLoop / CartesianProduct"
    ),
    "minhash_lsh_dedup": (
        "MinHash LSH: banded bucket self-join (candidates within "
        "buckets only) + inverted-index Jaccard verify — never all-pairs"
    ),
    "gapfill_linear": (
        "gap-fill: both ignorenulls carries share one (keys, t) sort — "
        "exactly one Exchange"
    ),
    "mask_contours": (
        "contours: two line-key window passes (row-neighbours, then "
        "column-neighbours); no self-join"
    ),
    "hex_knn": (
        "hex-grain kNN: face-local disk explode (Arrow UDF) on the "
        "target side, face-local cell keys on the source side, ring "
        "EQUI-join on the hex id — no CartesianProduct; rank window "
        "over the candidate disk only"
    ),
    "hex_rollup_multi": (
        "hierarchical rollup: ONE Catalyst encode at res 5, one "
        "fact-cardinality shuffle, then the (res, token) triple "
        "explodes on the small aggregate and re-aggregates once — "
        "no GROUPING SETS fact-table Expand, no per-level union "
        "recompute"
    ),
    "zonal_wavg_hex": (
        "hex-grain flagship: no Python stage — the hex encode is "
        "Catalyst projections in the scan stage; broadcast "
        "hex-polyfill cover join, CASE-short-circuit PIP still in "
        "codegen, two-phase hash agg"
    ),
    "zorder_stats": (
        "Z-order key audit: the Morton key is ONE codegen expression "
        "over the scan (no Python, no join); single two-phase hash agg"
    ),
    "regrid_bilinear": (
        "bilinear regrid: corner explode (Generate) on the tiny target "
        "side ONLY, integer-index equi-join against the un-exploded "
        "grid, weighted-sum hash agg — no CartesianProduct"
    ),
    "geo_radius": (
        "radius query: ring-cell equi-join sized from radius/edge "
        "(here ring 1 at res 7), dyadic dist2 filter above the join — "
        "no CartesianProduct / NestedLoop"
    ),
    "climatology_anomaly": (
        "deseasonalize: ONE Window (partition = cell x phase) carries "
        "both climatology and anomaly — single Exchange, no self-join"
    ),
    "events_sessions_swin": (
        "built-in session_window: partial MergingSessions before the "
        "shuffle, final after — the map-side-combine shape that makes "
        "gap-merge sessions scale"
    ),
    "terrain_slope": (
        "DEM gradient: two analytic Window passes (row-adjacent, then "
        "column-adjacent) — two Exchanges total, no shifted-copy joins"
    ),
    "regrid_conservative": (
        "conservative regrid: target indices + integer overlap weights "
        "computed SCAN-SIDE (two Generates, ≤4x fan-out), ONE hash agg "
        "— zero joins anywhere in the plan"
    ),
    "semivariogram": (
        "semivariogram: all 6 lags from ONE lead-window pass per axis "
        "(two ordered Exchanges), explode over the materialized lag "
        "columns, tiny final agg — no pair self-join"
    ),
    "focal_mean": (
        "focal mean: 9-offset scatter Generate, map-side-combined hash "
        "agg, join back ON THE AGG KEY (partitioning reused) — "
        "hole-correct without an 8-way neighbor join"
    ),
    "events_funnel": (
        "funnel: every stage aggregates or joins on user_id — one "
        "logical shuffle key end-to-end; conditional-min cascade, no "
        "full-stream window"
    ),
    "geo_radius_gc": (
        "geodesic radius: cos(lat)-widened ring-cell equi-join "
        "prefilter, haversine refine as codegen expressions above the "
        "join — no CartesianProduct"
    ),
    "knn_gc": (
        "geodesic kNN: same ring prefilter; rank window over the "
        "bounded candidate set only, total tie-break"
    ),
    "boilerplate": (
        "boilerplate screen: ONE shingle-keyed shuffle; the hot set "
        "re-enters as a BroadcastHashJoin (Zipf-small by construction)"
    ),
    "watershed": (
        "watershed: D8 scatter Generate + max_by agg + equi-join (no "
        "8-way neighbor join); the label rounds are pointer DOUBLING — "
        "O(log path) equi-joins at runtime, shown here as the d8 + "
        "first-round shape"
    ),
    "theilsen_mk": (
        "Theil-Sen/MK: within-group pair self-join (O(T^2) per series, "
        "T bounded by the time grain), plus two group-keyed aggregates "
        "for the exact n and the tie correction — no global blowup"
    ),
    "cusum_changepoint": (
        "CUSUM: mean, ordered prefix sum and the ranking all share ONE "
        "per-group window partitioning — a single Exchange"
    ),
    "diurnal_harmonic": (
        "single-bin DFT: cos/sin products are codegen expressions over "
        "the scan; one map-side-combined hash agg, nothing else"
    ),
    "seasonal_decompose": (
        "classical decomposition: trend MA, per-phase seasonal and "
        "residual all share the per-cell window partitioning; lead "
        "columns are projected BEFORE the explode (window-in-generator "
        "is illegal in Spark)"
    ),
    "cell_corr": (
        "Pearson r: five dyadic sum aggregates in ONE map-side-combined "
        "hash agg over the scan; a single final projection does the "
        "sqrt — no window, no join"
    ),
    "cell_acf": (
        "multi-lag ACF: one ordered lead-window pass materializes all "
        "6 lags, then explode + hash agg — same shape as semivariogram "
        "on the time axis; no self-join"
    ),
    "spell_stats": (
        "spell runs: filter + ONE ordered per-cell window (row_number) "
        "+ two hash aggs on the same cell key — gaps-and-islands with "
        "a single logical shuffle key end to end"
    ),
    "tx90p": (
        "discrete p90: rank + count share one per-cell window "
        "Exchange; the one-row-per-cell percentile table re-enters as "
        "a BroadcastHashJoin; exceedance is a map-side-combined agg"
    ),
    "cell_entropy": (
        "histogram entropy: exact integer binning in codegen over the "
        "scan, two-level hash agg (cell,bin → cell); H = ln n − "
        "Σ c·ln c / n folds normalization into the same agg — no "
        "window, no join"
    ),
    "ann_pq_topk": (
        "PQ/ADC scoring: ONE scan of the (id, codes) table, broadcast "
        "query join, codebooks as literal arrays in codegen, "
        "WindowGroupLimit top-k — training (per-subspace Lloyd) runs "
        "at plan-build time with model-sized collects only"
    ),
    "getis_gstar": (
        "focal scatter->gather: constant 9x Generate explode, ONE "
        "map-side-combined agg on (hour, ty, tx), join back on the "
        "agg's own key, broadcast per-hour global aggregate — no pair "
        "self-join, no window"
    ),
    "od_matrix": (
        "one user-keyed ordered window (lag of zone + ts) then one "
        "hash aggregate — the sessionization two-exchange shape; zone "
        "extraction is Catalyst regexp, no JSON library"
    ),
    "weibull_wind": (
        "one map-side-combined agg (n, sum, sum-of-squares); the "
        "whole fit incl. Lanczos gamma is per-group scalar projection "
        "in codegen — no second pass, no window, no join"
    ),
    "cell_quantiles": (
        "ONE map-side-combined hash agg keyed by cell; exact "
        "percentile buffers 48 values per group (time-range bounded); "
        "GK sketch documented as the 100 TB path"
    ),
    "degree_days": (
        "one map-side-combined agg, greatest()/CASE in codegen, "
        "dyadic-exact sums — no window, no join"
    ),
    "dedup_apply": (
        "clustering result is cluster-sized: survivor filter, size "
        "join, and the unclustered anti-join are ALL broadcast — the "
        "corpus is scanned once and never shuffled"
    ),
    "zonal_majority": (
        "broadcast codegen CASE PIP join, one map-side-combined "
        "(zone, class) count, winner via max(struct) in the tiny "
        "per-zone agg — no rank window"
    ),
    "bigram_logprob": (
        "one bigram explode (adjacent-token zip, no window), map-side-"
        "combined counts, score join keyed on the PAIR (bigram vocab "
        "is never broadcast at 100 TB), history counts broadcast"
    ),
    "focal_majority": (
        "scatter->gather with a per-class count: 9x Generate explode, "
        "TWO map-side-combined aggs (position,class then position), "
        "winner via max(struct(count,-class)) in the agg itself — no "
        "window, no rank shuffle"
    ),
    "terrain_curvature": (
        "two adjacency-guarded analytic windows (one per axis) — the "
        "slope_finite_diff shape; pure add/subtract in codegen, zero "
        "joins, zero explodes"
    ),
    "kriging_interp": (
        "ring-pruned kNN equi-join feeds one applyInPandas group "
        "exchange keyed by target; each group is k+1<=9 rows, the "
        "NumPy solve is model-sized — no cross join, no collect"
    ),
    "emerging_hotspots": (
        "Gi* scatter->gather feeds a WITHIN-cell pair self-join "
        "(T=48 bounded, never table-sized), tie agg, one max_by agg — "
        "the category CASE is pure projection"
    ),
    "areal_interp": (
        "ONE lattice scan (codegen CASE PIP + hex encode in the same "
        "stage), one map-side-combined count on (zone, hex); zone "
        "totals re-aggregate the tiny matrix; broadcast pop dim"
    ),
    "bloom_decontam": (
        "Bloom bitset as a literal long array: k AND-ed bit probes in "
        "whole-stage codegen screen every corpus shingle with NO join; "
        "only survivors take the exact broadcast join — two shuffles "
        "total (the two per-doc aggs)"
    ),
    "dau_wau": (
        "rolling COUNT DISTINCT via scatter: dedup (user, day) once, "
        "explode each pair to its 7 covered days, one distinct-count "
        "agg — no range self-join, no sketch"
    ),
    "tpch_big_orders": (
        "Q18 shape: HAVING runs on the lineitem pre-aggregate BELOW "
        "both joins — the big-big pair reduces to the qualifying-order "
        "set before orders/customer are touched"
    ),
    "ann_ivfpq_topk": (
        "three multiplicative reductions, each an equi-join: cell "
        "probe prunes partitions, ADC reads 8-byte codes (broadcast "
        "per-query LUTs), exact re-rank touches shortlist rows only"
    ),
    "ann_pq_refine": (
        "two-pass ANN: compressed ADC shortlist (one code-table scan) "
        "then an id-keyed semi-join re-rank touching nq*shortlist raw "
        "vectors — the full-precision pass never rescans the corpus"
    ),
}


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as E

    qs = E.queries()
    out = [
        "# PLANS — executed physical plans of the headline queries\n",
        f"\nGenerated by tools/dump_plans.py at sf0.001 ({SF}); the shapes",
        "\nshown here are pinned by the plan tests in tests/.\n",
    ]
    for name, note in NOTES.items():
        df = qs[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        out.append(f"\n## {name}\n\n{note}\n\n```\n{plan}\n```\n")
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "PLANS.md"), "w") as f:
        f.write("".join(out))
    print("wrote BENCH/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
