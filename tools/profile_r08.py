#!/usr/bin/env python
"""Round-8 component-level profiling (guide §1: measure first).

Breaks the flagship / hex-flagship pipelines into cumulative stages and
times each with the noop sink, so the expensive component is identified
before anything is changed.  Not part of the frozen bench.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(name, build, reps=3):
    df = build()
    _noop(df)
    best = 1e9
    for _ in range(reps):
        df = build()
        t0 = time.time()
        _noop(df)
        best = min(best, time.time() - t0)
    print(f"{name:40s} {best:8.3f}s")
    return best


def main() -> None:
    from pyspark.sql import functions as F

    from geodata_spark import cells, queries as Q, spatial, zonal
    from geodata_spark.deploy import ensure_py_files
    from geodata_spark.session import get_spark
    from geodata_spark.zones import ZONES

    spark = get_spark("profile_r08", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    ensure_py_files(spark)

    which = sys.argv[1] if len(sys.argv) > 1 else "hex"

    if which == "hex":
        # corpus-derived hex flagship at SF_DIR scale
        n = Q.corpus_size(spark, SF_DIR)
        print(f"corpus n_docs = {n}")
        from geodata_spark.synth import synth_documents

        timed("synth only (docs nested)", lambda: synth_documents(spark, n))
        timed("synth+explode", lambda: spatial.explode_spans(synth_documents(spark, n)))
        timed("synth+parse", lambda: spatial.parse_geo_spans(synth_documents(spark, n)))

        def upto_join():
            pts = spatial.parse_geo_spans(synth_documents(spark, n))
            return spatial.join_zones(pts, spark, ZONES, res=5, grain="hex")

        timed("synth+parse+hexjoin", upto_join)
        timed("full zonal_wavg_hex", lambda: Q.QUERIES["zonal_wavg_hex"](spark, SF_DIR))

        def grid_join():
            pts = spatial.parse_geo_spans(synth_documents(spark, n))
            return spatial.join_zones(pts, spark, ZONES, res=9)

        timed("synth+parse+gridjoin (ctrl)", grid_join)

    elif which == "tier1":
        import bench as B

        B.ensure_corpus(spark, B.N_DOCS)
        B._tune_splits(spark, B.corpus_path(B.N_DOCS), CPUS)
        path = B.corpus_path(B.N_DOCS)

        timed("scan only (full columns)", lambda: spark.read.parquet(path))
        timed("scan+explode", lambda: spatial.explode_spans(spark.read.parquet(path)))
        timed("scan+parse", lambda: spatial.parse_geo_spans(spark.read.parquet(path)))

        def upto_join():
            pts = spatial.parse_geo_spans(spark.read.parquet(path))
            return spatial.join_zones(pts, spark, ZONES, res=9)

        timed("scan+parse+join", upto_join)
        timed("flagship full", lambda: B.flagship(spark, B.N_DOCS))

        # cell_rollup components
        def rollup():
            pts = spatial.parse_geo_spans(spark.read.parquet(path),
                                          kinds=("geo", "raster_tile"))
            enc = pts.withColumn("cell_r9", cells.cell_expr(F.col("lat"), F.col("lon"), 9))
            return enc.groupBy(cells.parent_expr(F.col("cell_r9"), 4).alias("cell_r5")).agg(
                F.count(F.lit(1)).alias("n"), F.sum("val").alias("v"))

        timed("cell_rollup full", rollup)

        def span_sig():
            spans = spatial.explode_spans(spark.read.parquet(path))
            return spans.groupBy("doc_id").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("offset").cast("long")).alias("s"))

        timed("span_explode full", span_sig)

    elif which == "dedup":
        from geodata_spark.pipeline import dedup as DD

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").withColumn(
            "doc_id", F.col("doc_id").cast("long"))
        print("docs:", docs.count())
        timed("shingles", lambda: DD.with_shingles(docs))
        timed("minhash signatures", lambda: DD.minhash_signatures(
            docs, hash_mode="md5_60"))
        timed("lsh cands (no ckpt)", lambda: DD.lsh_candidate_pairs(
            DD.minhash_signatures(docs, hash_mode="md5_60"), hash_mode="md5_60"))

        def full_pairs():
            return DD.minhash_dedup(docs, threshold=0.3, hash_mode="md5_60")

        timed("minhash_dedup pairs", full_pairs, reps=2)

        def cc():
            pairs = DD.minhash_dedup(docs, threshold=0.3, hash_mode="md5_60")
            return DD.connected_components(pairs)

        timed("pairs + connected_components", cc, reps=2)

    spark.stop()


if __name__ == "__main__":
    main()
