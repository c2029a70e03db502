#!/usr/bin/env python
"""Write BENCH/LAYOUT.md: measured Z-order layout evidence.

Same rows, two layouts (key-agnostic shuffle vs Z-order
range-partition + sort), identical file count and row-group size.
For a set of bbox selectivities this reports

  * the metadata-only row-group pruning fraction
    (``layout.rowgroup_prune_stats`` — what any parquet pushdown
    reader skips), and
  * the measured wall time of the same Spark bbox aggregation over
    each layout (median of N reps),

at two parallelism levels (local[8] vs local[32]) so the scan-side
scaling of the clustered layout is on record too.

Usage: python tools/bench_layout.py [--docs 120000] [--reps 5]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# bboxes inside the synth corpus domain (lat 18.25..53.75,
# lon 73.31..135.81 — synth.py's MERRA2-shaped grid)
BBOXES = {
    "city (1x1 deg)": ((30.0, 31.0), (100.0, 101.0)),
    "region (4x6 deg)": ((20.0, 24.0), (74.0, 80.0)),
    "subcontinent (20x30 deg)": ((25.0, 45.0), (90.0, 120.0)),
}


def _bbox_agg(spark, path, lat_r, lon_r):
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    out = (
        df.filter(
            (F.col("lat") >= lat_r[0]) & (F.col("lat") <= lat_r[1])
            & (F.col("lon") >= lon_r[0]) & (F.col("lon") <= lon_r[1])
        )
        .agg(F.count(F.lit(1)), F.sum("val"))
        .collect()
    )
    return out[0][0]


def _timed(fn, reps):
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return min(ts), statistics.median(ts)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=120_000)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH", "LAYOUT.md"))
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from geodata_spark import layout, spatial
    from geodata_spark.session import get_spark
    from geodata_spark.synth import synth_documents

    tmp = tempfile.mkdtemp(prefix="bench_layout_")
    unsorted_p = os.path.join(tmp, "unsorted")
    sorted_p = os.path.join(tmp, "zsorted")

    # build both layouts once, with a 32-core session
    spark = get_spark("bench_layout_32", master="local[32]")
    pts = (
        spatial.parse_geo_spans(synth_documents(spark, args.docs))
        .select("lat", "lon", "val")
    )
    n_rows = pts.count()
    n_files, block = 16, 1 << 20
    (
        pts.repartition(n_files, F.col("val"))
        .write.mode("overwrite")
        .option("parquet.block.size", str(block))
        .parquet(unsorted_p)
    )
    layout.write_spatial_sorted(
        pts, sorted_p, num_files=n_files, block_bytes=block
    )

    prune = {}
    for name, (lat_r, lon_r) in BBOXES.items():
        su = layout.rowgroup_prune_stats(unsorted_p, lat_r, lon_r)
        sz = layout.rowgroup_prune_stats(sorted_p, lat_r, lon_r)
        prune[name] = (su, sz)
    spark.stop()

    timings = {}
    for cores in (8, 32):
        spark = get_spark(f"bench_layout_{cores}", master=f"local[{cores}]")
        for name, (lat_r, lon_r) in BBOXES.items():
            for label, path in (("shuffled", unsorted_p), ("z-order", sorted_p)):
                _bbox_agg(spark, path, lat_r, lon_r)  # warm (fs cache, codegen)
                mn, med = _timed(
                    lambda: _bbox_agg(spark, path, lat_r, lon_r), args.reps
                )
                timings[(cores, name, label)] = (mn, med)
        spark.stop()

    lines = [
        "# Z-order layout: measured pruning and scan time",
        "",
        f"Input: {n_rows:,} geo spans (synth corpus, {args.docs:,} docs), "
        f"written twice with identical file count ({n_files}) and parquet "
        f"block size ({block >> 20} MiB): once key-agnostic (`repartition` "
        "on a value hash — the append-order worst case), once via "
        "`layout.write_spatial_sorted` (Morton-key range partition + "
        "in-file sort).  Pruning fractions come from parquet row-group "
        "min/max metadata only (`layout.rowgroup_prune_stats`) — the same "
        "statistics any pushdown reader consults.  Times are the "
        f"median of {args.reps} reps of the same bbox count+sum "
        "aggregation (min in parentheses), after one warm-up rep.",
        "",
        "## Row groups touched (metadata-only)",
        "",
        "| bbox | shuffled: groups | rows % | z-order: groups | rows % |",
        "|---|---|---|---|---|",
    ]
    for name, (su, sz) in prune.items():
        lines.append(
            f"| {name} | {su['touched']}/{su['total']} "
            f"| {100 * su['rows_touched'] / su['rows_total']:.1f} "
            f"| {sz['touched']}/{sz['total']} "
            f"| {100 * sz['rows_touched'] / sz['rows_total']:.1f} |"
        )
    lines += [
        "",
        "## Measured bbox scan+agg wall time",
        "",
        "| cores | bbox | shuffled s | z-order s | speedup |",
        "|---|---|---|---|---|",
    ]
    for cores in (8, 32):
        for name in BBOXES:
            mu, medu = timings[(cores, name, "shuffled")]
            mz, medz = timings[(cores, name, "z-order")]
            lines.append(
                f"| {cores} | {name} | {medu:.3f} ({mu:.3f}) "
                f"| {medz:.3f} ({mz:.3f}) | {medu / medz:.2f}x |"
            )
    lines += [
        "",
        "At 100 TB the pruning column is the story: a bbox that touches "
        "2% of row groups reads 2% of the bytes — before any executor "
        "scales anything.  The scan-time table under-states the win at "
        "this SF because per-query fixed cost (plan, task launch) "
        "dominates sub-second scans; the byte-level effect grows "
        "linearly with data while the fixed cost does not.",
        "",
        "Raw: " + json.dumps(
            {
                f"{c}|{n}|{l}": [round(v, 4) for v in tv]
                for (c, n, l), tv in timings.items()
            },
            sort_keys=True,
        ),
        "",
    ]
    with open(args.out, "w") as f:
        f.write("\n".join(lines))
    print("wrote", args.out)


if __name__ == "__main__":
    main()
