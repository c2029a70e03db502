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
  is O(log max-path-length) rounds, with a hard RuntimeError on
  non-convergence instead of a silent cap.  The Spark rounds' exact
  probe is the sum of each cell's flow-step distance to its current
  root, which grows exactly when some root moves.

Where it runs: a raster of at most ``fixpoint.LOCAL_MAX_ROWS`` cells
(1M) runs whole on the driver after ONE bounded Arrow collect of
``(y_idx, x_idx, value)``: D8 is one ``fixpoint.lookup`` per offset
and the doubling is ``root ← root[root]`` over row indices, both in
numpy, about 170 B of driver memory per cell (numpy and Arrow), so
≤ ~170 MB at the bound.  The driver D8 orders heights as Spark does
(NULL never drains nor is drained into; NaN above every value), so
every raster under the bound takes this path.  Larger rasters run the
D8 stage in Spark and one checkpointed Spark equi-join per round on
the packed cell key, ~40 rounds bounding a 10^12-cell flow path.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geodata_spark import fixpoint as fp
from geodata_spark.cells import Y_SHIFT as Y_STEP  # packed (y, x) key stride
from geodata_spark.fixpoint import fixpoint, lookup

# D8 offsets (dy, dx), center -> neighbour, in tie-break order
_OFFSETS = [(dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1) if (dy, dx) != (0, 0)]


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
        for dy, dx in _OFFSETS
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


# The doubling state is (y_idx, x_idx, cell, root, _d).  _d: flow steps
# from the cell to its current root; a jump adds the root's own _d, so
# sum(_d) grows exactly when some root moves.

def _jump(cur: DataFrame) -> DataFrame:
    hop = cur.select(
        F.col("cell").alias("_pc"), F.col("root").alias("_pr"),
        F.col("_d").alias("_pd"),
    )
    return cur.join(hop, cur.root == hop._pc).select(  # total: roots are live cells
        "y_idx", "x_idx", "cell",
        F.col("_pr").alias("root"), (F.col("_d") + F.col("_pd")).alias("_d"),
    )


def _jump_local(cols):
    cell, d = cols["cell"], cols["_d"]
    at = lookup(cell, cols["root"])  # row of each root: roots are live cells
    while True:
        d = d + d[at]
        at = at[at]
        yield {**cols, "root": cell[at], "_d": d}


def _d8_local(cell: np.ndarray, z: np.ndarray, null: np.ndarray) -> np.ndarray:
    """:func:`flow_direction_d8`'s ``parent`` in numpy, for distinct
    cells: one :func:`~geodata_spark.fixpoint.lookup` per offset, in
    ``_OFFSETS`` order, under Spark's order for doubles (NaN above
    every value and equal to NaN).  A neighbour is lower when
    ``zn < z`` or when ``z`` alone is NaN; it replaces the best so far
    on a greater drop²/d2, or a NaN one over a non-NaN best, so ties
    keep the smallest (dy, dx), as ``max_by`` does.  The best starts
    below 0, because a strictly lower neighbour whose drop² underflows
    to 0 still drains the cell.  A ``null`` cell neither drains nor is
    drained into."""
    parent, best = cell.copy(), np.full(len(cell), -1.0)
    for dy, dx in _OFFSETS:
        nbr = cell + dy * Y_STEP + dx
        at = lookup(cell, nbr)
        zn = z[at]  # at == -1 (absent) is masked out below
        with np.errstate(over="ignore", invalid="ignore"):  # inf and NaN as in Spark
            s2 = (z - zn) * (z - zn) / float(dy * dy + dx * dx)
        lower = (zn < z) | (np.isnan(z) & ~np.isnan(zn))
        steeper = (s2 > best) | (np.isnan(s2) & ~np.isnan(best))
        take = (at >= 0) & ~null & ~null[at] & lower & steeper
        parent = np.where(take, nbr, parent)
        best = np.where(take, s2, best)
    return parent


def _local_start(cols: pa.Table) -> fp.Columns:
    """The starting state of the doubling, ``(y_idx, x_idx, cell, root,
    _d)``, from the collected ``(y_idx, x_idx, _z)``.  A row with a NULL
    coordinate is dropped, as in the Spark rounds (its key joins
    nothing).  Raises ``ValueError`` on a coordinate whose packed key
    could overflow a long (Spark raises under ANSI) and on a repeated
    cell."""
    cols = cols.filter(pc.and_(pc.is_valid(cols["y_idx"]), pc.is_valid(cols["x_idx"])))
    y, x = (cols.column(name).to_numpy() for name in ("y_idx", "x_idx"))
    yx = np.concatenate([y, x])
    if not ((-(2**35) < yx) & (yx < 2**35)).all():
        raise ValueError("watershed: |y_idx| and |x_idx| must be below 2^35")
    cell = y * Y_STEP + x
    i = fp.first_repeat(cell)
    if i is not None:
        raise ValueError(f"watershed: cell (y_idx={y[i]}, x_idx={x[i]}) is repeated")
    z = cols.column("_z")
    parent = _d8_local(cell, z.to_numpy(), z.is_null().to_numpy())
    return {
        "y_idx": y, "x_idx": x, "cell": cell, "root": parent,
        "_d": (parent != cell).astype(np.int64),
    }


def watershed(
    layer: DataFrame, value_col: str = "value", max_iters: int = 64
) -> DataFrame:
    """Basin label per cell: the packed key of the sink its D8 flow
    path reaches, by pointer doubling (O(log path-length) rounds).

    Rasters of at most ``fixpoint.LOCAL_MAX_ROWS`` cells (1M) run whole
    on the driver: one Arrow collect of ``(y_idx, x_idx, value)`` (job
    ``watershed local``), D8 and the doubling in numpy, ~170 B of driver
    memory per cell (≤ ~170 MB at the bound).  Larger rasters run the
    Spark D8 stage and the rounds of ``fixpoint.fixpoint``.

    Each ``(y_idx, x_idx)`` cell must appear once.  Under the bound a
    repeated cell raises ``ValueError`` before any round.  Above it a
    repeated cell is invalid input that is not checked: each doubling
    round joins every row to every copy of its root, so the rows that
    point at the cell multiply every round.  A row with a NULL
    coordinate is dropped.

    Output: (y_idx, x_idx, cell, basin) — ``basin`` is the sink's
    packed key, so sink rows have basin == cell.
    """
    spark = layer.sparkSession
    base = layer.selectExpr(  # one SQL text per column: few py4j calls
        "CAST(y_idx AS BIGINT) AS y_idx", "CAST(x_idx AS BIGINT) AS x_idx",
        f"CAST({value_col} AS DOUBLE) AS _z",
    )
    cols = fp.collect_at_most(base, fp.LOCAL_MAX_ROWS, "watershed local")
    what = "watershed: pointer doubling"
    if cols is None:
        d8 = flow_direction_d8(layer, value_col).select(
            "y_idx", "x_idx", "cell", F.col("parent").alias("root"),
            (F.col("parent") != F.col("cell")).cast("long").alias("_d"),
        )
        ws, _ = fixpoint(d8, _jump, lambda cur: [F.sum("_d").alias("d")], max_iters, what)
    else:
        out, _ = fp.finish_local(_local_start(cols), _jump_local, max_iters, what)
        y, x = (base.schema[name].nullable for name in ("y_idx", "x_idx"))
        schema = T.StructType([
            T.StructField("y_idx", T.LongType(), y),
            T.StructField("x_idx", T.LongType(), x),
            *(T.StructField(name, T.LongType(), y or x) for name in ("cell", "root", "_d")),
        ])
        ws = fp.local_result(spark, pa.table(out), schema)
    return ws.selectExpr("y_idx", "x_idx", "cell", "root AS basin")
