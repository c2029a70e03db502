"""Distributed raster hydrology: D8 flow direction + watershed labels.

The classic DEM pre-analysis pair (ESRI/GRASS ``flowdirection`` /
``watershed``) re-expressed for a relational engine:

- **D8 flow direction** is a scatter→gather over the 8-neighborhood
  (the focal_mean_3x3 shape): each cell scatters its elevation to its
  neighbors, each center picks the strictly-lower neighbor with the
  steepest descent.  Slope comparison uses drop²/dist² — dist² ∈
  {1, 2}, so the ratio stays DYADIC and the argmax is bit-deterministic
  (no sqrt, no tolerance); ties break on (dy, dx) ascending.  Cells
  with no lower neighbor (pits / plateau minima) are sinks and point
  to themselves.

- **Watershed labeling** follows the resulting FUNCTIONAL graph (one
  outgoing edge per cell) to its sink by pointer DOUBLING: each round
  root ← root(root), halving the remaining path length, so convergence
  is O(log max-path-length) rounds.  The rounds run on
  ``fixpoint.fixpoint`` (a hard RuntimeError on non-convergence instead
  of a silent cap); its exact probe is the sum of each cell's flow-step
  distance to its current root, which grows exactly when some root
  moves.

Where the rounds run: a D8 table of at most ``fixpoint.LOCAL_MAX_ROWS``
cells (1M) is collected once and doubled in numpy on the driver
(``root ← root[root]`` over row indices from one argsort/searchsorted),
about 120 B of driver memory per cell, so ≤ ~120 MB at the bound.
Above it each round is one checkpointed Spark equi-join on the packed
cell key over a table of one row per raster cell, ~40 rounds bounding
a 10^12-cell flow path.  Either way the D8 stage itself stays
distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geodata_spark.cells import Y_SHIFT as Y_STEP  # packed (y, x) key stride
from geodata_spark.fixpoint import fixpoint, lookup


def flow_direction_d8(layer: DataFrame, value_col: str = "value") -> DataFrame:
    """Per-cell D8 downstream pointer.

    Output: (y_idx, x_idx, cell, parent, drop2_over_d2) where ``cell``
    / ``parent`` are packed long keys (y·2²⁷ + x); sinks have
    parent == cell and drop2_over_d2 == 0.
    """
    base = layer.select(
        F.col("y_idx").cast("long").alias("y_idx"),
        F.col("x_idx").cast("long").alias("x_idx"),
        F.col(value_col).cast("double").alias("_z"),
    ).withColumn(
        "cell", F.col("y_idx") * F.lit(Y_STEP) + F.col("x_idx")
    )
    offs = F.array(*[
        F.struct(
            F.lit(dy).alias("dy"), F.lit(dx).alias("dx"),
            F.lit(float(dy * dy + dx * dx)).alias("d2"),
        )
        for dy in (-1, 0, 1)
        for dx in (-1, 0, 1)
        if not (dy == 0 and dx == 0)
    ])
    # scatter: neighbor elevation arrives at the center it can drain
    scattered = base.withColumn("_o", F.explode(offs)).select(
        (F.col("cell") + F.col("_o.dy") * Y_STEP + F.col("_o.dx")).alias("cell"),
        F.col("_z").alias("_zn"),
        (-F.col("_o.dy")).alias("dy"),   # direction center -> neighbor
        (-F.col("_o.dx")).alias("dx"),
        F.col("_o.d2").alias("d2"),
    )
    cand = base.join(scattered, "cell").filter(F.col("_zn") < F.col("_z"))
    drop = F.col("_z") - F.col("_zn")
    slope2 = (drop * drop) / F.col("d2")   # d2 ∈ {1,2}: stays dyadic
    best = cand.groupBy("cell").agg(
        F.max_by(
            F.struct(
                F.col("dy").alias("dy"), F.col("dx").alias("dx"),
                slope2.alias("s2"),
            ),
            # max slope2; ties -> smallest dy, then smallest dx
            F.struct(slope2.alias("a"), (-F.col("dy")).alias("b"),
                     (-F.col("dx")).alias("c")),
        ).alias("_b")
    )
    return (
        base.join(best, "cell", "left")
        .select(
            "y_idx", "x_idx", "cell",
            F.coalesce(
                F.col("cell") + F.col("_b.dy") * Y_STEP + F.col("_b.dx"),
                F.col("cell"),
            ).alias("parent"),
            F.coalesce(F.col("_b.s2"), F.lit(0.0)).alias("drop2_over_d2"),
        )
    )


def watershed(
    layer: DataFrame, value_col: str = "value", max_iters: int = 64
) -> DataFrame:
    """Basin label per cell: the packed key of the sink its D8 flow
    path reaches, by pointer doubling (O(log path-length) rounds).
    Rasters of at most ``fixpoint.LOCAL_MAX_ROWS`` cells (1M) double on
    the driver, holding ~120 B per cell there (≤ ~120 MB); larger ones
    run one checkpointed Spark round each.

    Output: (y_idx, x_idx, cell, basin) — ``basin`` is the sink's
    packed key, so sink rows have basin == cell.
    """
    # _d: flow steps from the cell to its current root; a jump adds the
    # root's own _d, so sum(_d) grows exactly when some root moves
    d8 = flow_direction_d8(layer, value_col).select(
        "y_idx", "x_idx", "cell", F.col("parent").alias("root"),
        (F.col("parent") != F.col("cell")).cast("long").alias("_d"),
    )

    def jump(cur: DataFrame) -> DataFrame:
        hop = cur.select(
            F.col("cell").alias("_pc"), F.col("root").alias("_pr"),
            F.col("_d").alias("_pd"),
        )
        return cur.join(hop, cur.root == hop._pc).select(  # total: roots are live cells
            "y_idx", "x_idx", "cell",
            F.col("_pr").alias("root"), (F.col("_d") + F.col("_pd")).alias("_d"),
        )

    def jump_local(cols):
        cell, d = cols["cell"], cols["_d"]
        at = lookup(cell, cols["root"])  # row of each root: roots are live cells
        while True:
            d = d + d[at]
            at = at[at]
            yield {**cols, "root": cell[at], "_d": d}

    ws, _ = fixpoint(
        d8, jump, lambda cur: [F.sum("_d").alias("d")], max_iters,
        "watershed: pointer doubling", jump_local,
    )
    return ws.select("y_idx", "x_idx", "cell", F.col("root").alias("basin"))
