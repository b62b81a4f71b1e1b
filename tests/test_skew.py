"""Salting: semantic equivalence with a plain groupBy."""

from __future__ import annotations

from pyspark.sql import functions as F

from hummingbird_spark.operators.skew import salted_agg
from tests.conftest import SF_SMOKE


def test_salted_agg_matches_plain_groupby(spark):
    df = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    plain = {
        (r.l_returnflag,): (r.n, r.qty)
        for r in df.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("l_quantity").alias("qty")).collect()
    }
    salted = {
        (r.l_returnflag,): (r.n, r.qty)
        for r in salted_agg(
            df, "l_returnflag",
            [F.count(F.lit(1)).alias("n"),
             F.sum("l_quantity").alias("qty")],
            salt=8,
        ).collect()
    }
    assert set(plain) == set(salted)
    for k in plain:
        assert plain[k][0] == salted[k][0]
        assert abs(plain[k][1] - salted[k][1]) < 1e-6


def test_salted_agg_spreads_hot_key(spark):
    # a pathologically skewed frame: one key owns 99% of rows
    df = spark.range(10000).select(
        F.when(F.col("id") < 9900, F.lit("hot")).otherwise(
            F.col("id").cast("string")
        ).alias("k")
    )
    out = {r.k: r.n for r in salted_agg(
        df, "k", [F.count(F.lit(1)).alias("n")], salt=16
    ).collect()}
    assert out["hot"] == 9900
    # phase-1 really splits the hot key across salt values
    phase1 = (
        df.withColumn("__salt", (F.rand(seed=42) * 16).cast("int"))
        .filter(F.col("k") == "hot")
        .select("__salt").distinct().count()
    )
    assert phase1 > 8
