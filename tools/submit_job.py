#!/usr/bin/env python
"""spark-submit entry point (north_rule deployment contract).

Run as::

    spark-submit --master <master> \
        --py-files /tmp/geodata_spark_pyfiles_<stamp>.zip \
        tools/submit_job.py <sf_dir>

The script imports ``geodata_spark`` ONLY from the --py-files zip
(its own directory does not contain the package), runs the flagship
zonal aggregation at grid and at hex grain and a grid zone join
checked against numpy, and prints one JSON line with both row counts
and the check — the minimal proof that the engine deploys to a
cluster with no repo checkout on any node, its JVM functions included
(the hex encode and zone membership, compiled from the zip's Java
sources and registered in this session, which ``session.get_spark``
did not build).
tests/test_spark_submit.py executes this for real against a local
master from a neutral CWD.
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import SparkSession


def grid_join_exact(spark) -> bool:
    """A grid zone join of seeded points over ZONES gives the zones
    geometry.points_in_rings gives: the compiled membership function
    runs on the executors from the zip's Java source."""
    import numpy as np

    from geodata_spark import geometry, spatial
    from geodata_spark.zones import ZONES

    allv = np.concatenate([r for rs in ZONES.values() for r in rs])
    lon, lat = np.random.default_rng(7).uniform(allv.min(0), allv.max(0), (2000, 2)).T
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(lon, lat))],
        "idx long, lon double, lat double",
    )
    got = {(r.idx, r.zone_id) for r in spatial.join_zones(df, spark, ZONES, res=9).collect()}
    want = {
        (int(i), zid)
        for zid, rings in ZONES.items()
        for i in np.flatnonzero(geometry.points_in_rings(lon, lat, rings))
    }
    return bool(want) and got == want


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = SparkSession.builder.appName("geodata_spark_submit_smoke").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # import AFTER the session exists: in a spark-submit run the
    # package arrives via --py-files on driver and executors alike
    from geodata_spark import queries as Q

    rows = len(Q.q_zonal_daily_wavg(spark, sf_dir).collect())
    hex_rows = len(Q.q_zonal_wavg_hex(spark, sf_dir).collect())
    print(json.dumps({
        "query": "zonal_daily_wavg", "rows": rows, "hex_rows": hex_rows,
        "grid_join_exact": grid_join_exact(spark),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
