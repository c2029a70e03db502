"""Zonal aggregation — the engine's flagship operator (A1/A2).

Reference semantics: per zone z and time t, the masked weighted mean

    value(z, t) = Σ_cells v·mask·area / Σ_cells mask·area

(``docs/source/mask/mask_on_cutout.ipynb`` PV_dict cell, built from
``cutout.mask`` ``src/geodata/cutout.py:440-500`` and ``add_grid_area``
``cutout.py:394-438``).

Spark plan: hash aggregation with automatic partial (map-side) + final
phases.  For hot zones (dense coastal/urban cells → key skew,
north_rule) a **salted two-phase** variant spreads each hot key over S
sub-keys before the final combine; because sum is algebraic the result
is identical, only the shuffle layout changes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geodata_spark.sqltext import ident

EARTH_R_KM = 6371.0088


def grid_area_expr(lat: Column, dlat_deg: float, dlon_deg: float) -> Column:
    """Exact spherical cell area in km² as a Catalyst expression.

    Area of the lat band slice: R²·Δλ·(sin(φ+Δφ/2) − sin(φ−Δφ/2)).
    The reference computes the same quantity with an Albers
    equal-area projection per lat row (``cutout.py:1004-1033``); the
    closed form below agrees to <0.1% and needs no projection library.
    Deterministic scalar function of lat only → evaluated inside
    whole-stage codegen, no UDF.
    """
    import math

    dlam = math.radians(dlon_deg)
    half = dlat_deg / 2.0
    phi = F.radians(lat)
    return (
        F.lit(EARTH_R_KM * EARTH_R_KM * dlam)
        * (F.sin(phi + F.lit(math.radians(half))) - F.sin(phi - F.lit(math.radians(half))))
    )


def oracle_area_weight_expr(lat: Column) -> Column:
    """Dyadic-rational area proxy used by oracle-checked queries.

    ``(54.25 − lat) · 2⁻⁶`` — exact in IEEE-754 for the synth grid's
    lat values, so Σ(v·w) and Σ(w) are order-independent and DuckDB
    reproduces them bit-for-bit.  Monotone-decreasing in lat like a
    true area weight on the northern hemisphere.  The physically exact
    weight (:func:`grid_area_expr`) is used by non-oracle paths and
    validated against numpy in pytest.
    """
    return (F.lit(54.25) - lat) * F.lit(0.015625)


ORACLE_AREA_WEIGHT_SQL = "((54.25 - lat) * 0.015625)"


def zonal_weighted_mean(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    keys: list[str],
    salt_buckets: int | None = None,
    out_col: str = "wavg",
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Σ(v·w)/Σ(w) per key group, optionally salted (two-phase).

    With ``salt_buckets=S`` the aggregation runs as
    groupBy(keys, salt) partial → groupBy(keys) final, bounding any
    single reducer's share of a hot zone to ~1/S.  Sums are algebraic,
    so both variants produce identical results (bit-identical for
    dyadic inputs).

    The salt is **deterministic**: ``pmod(xxhash64(salt_cols), S)`` over
    stable row columns.  A nondeterministic salt (e.g.
    ``monotonically_increasing_id``) would re-bucket rows on a partial
    stage retry after a shuffle-fetch failure, double-counting or
    dropping rows downstream — the SPARK-23207 bug class.  Deterministic
    salting keeps retries idempotent at any scale.

    ``salt_cols`` is required with ``salt_buckets`` (``ValueError``
    otherwise), as in :func:`ranking.topk_per_group`: pass
    high-cardinality row columns the query already reads (the flagship
    passes lat/lon/hour).  A salt over only the keys, value and weight
    collapses a hot key into one bucket when value and weight are
    near-constant within it (e.g. weight=1 counting), and a salt over
    every input column defeats column pruning (the scan must read and
    hash unrelated strings).
    """
    if salt_buckets is not None and not salt_cols:
        raise ValueError(
            "zonal_weighted_mean: salt_cols is required when salt_buckets is set "
            "(pass deterministic, high-cardinality row columns)"
        )
    if salt_buckets is None:
        vq, wq = ident(value_col), ident(weight_col)
        return df.groupBy(*keys).agg(
            F.expr(f"sum({vq} * {wq}) / sum({wq}) AS {ident(out_col)}"),
            F.expr(f"sum({wq}) AS weight_sum"),
            F.expr("count(1) AS n_points"),
        )
    v, w = F.col(value_col), F.col(weight_col)
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(salt_buckets))
    )
    partial = salted.groupBy(*keys, "_salt").agg(
        F.sum(v * w).alias("_vw"),
        F.sum(w).alias("_w"),
        F.count(F.lit(1)).alias("_n"),
    )
    return partial.groupBy(*keys).agg(
        (F.sum("_vw") / F.sum("_w")).alias(out_col),
        F.sum("_w").alias("weight_sum"),
        F.sum("_n").alias("n_points"),
    )
