#!/usr/bin/env python
"""spark-submit entry point (north_rule deployment contract).

Run as::

    spark-submit --master <master> \
        --py-files /tmp/geodata_spark_pyfiles_<stamp>.zip \
        tools/submit_job.py <sf_dir>

The script imports ``geodata_spark`` ONLY from the --py-files zip
(its own directory does not contain the package), runs the flagship
zonal aggregation at grid and at hex grain, and prints one JSON line
with both row counts — the minimal proof that the engine deploys to a
cluster with no repo checkout on any node, its JVM hex encode
included (compiled from the zip's Java source and registered in this
session, which ``session.get_spark`` did not build).
tests/test_spark_submit.py executes this for real against a local
master from a neutral CWD.
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import SparkSession


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = SparkSession.builder.appName("geodata_spark_submit_smoke").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # import AFTER the session exists: in a spark-submit run the
    # package arrives via --py-files on driver and executors alike
    from geodata_spark import queries as Q

    rows = len(Q.q_zonal_daily_wavg(spark, sf_dir).collect())
    hex_rows = len(Q.q_zonal_wavg_hex(spark, sf_dir).collect())
    print(json.dumps({"query": "zonal_daily_wavg", "rows": rows, "hex_rows": hex_rows}))
    spark.stop()


if __name__ == "__main__":
    main()
