"""fixpoint: rounds, one Spark job per round, the iteration bound."""

import pytest
from pyspark.sql import functions as F


def _decrement(df):
    return df.select(F.greatest(F.col("v") - 1, F.lit(0)).alias("v"))


def _total(df):
    return [F.sum("v").alias("s")]


def test_fixpoint_rounds_and_one_job_per_round(spark):
    from geodata_spark.fixpoint import fixpoint

    sc = spark.sparkContext
    start = spark.range(6).select(F.col("id").alias("v"))  # sum 15 -> 10 -> 6 -> 3 -> 1 -> 0
    sc.setJobGroup("test_fixpoint", "fixpoint job count")
    try:
        state, rounds = fixpoint(start, _decrement, _total, 64, "decrement")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rounds == 6  # five rounds that change the sum, one that confirms it
    # the starting state and every round: one checkpoint job each, probe included
    assert len(sc.statusTracker().getJobIdsForGroup("test_fixpoint")) == rounds + 1
    assert sorted(r.v for r in state.collect()) == [0] * 6


def test_fixpoint_raises_at_the_bound(spark):
    from geodata_spark.fixpoint import fixpoint

    start = spark.range(6).select(F.col("id").alias("v"))
    with pytest.raises(RuntimeError, match="decrement did not converge in 3 rounds"):
        fixpoint(start, _decrement, _total, 3, "decrement")
