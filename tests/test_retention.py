"""Capped-collection retention (operators/retention.py): keep_newest
must equal a plain orderBy-desc-limit, and enforcement must trim to the
cap by dropping the oldest rows — including via the D1 capped/size/max
properties passthrough (collection_creator.go:55-66 semantics)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from hummingbird_spark.commit import recover
from hummingbird_spark.operators.compact import table_bytes
from hummingbird_spark.operators.retention import (
    enforce_capped_from_properties,
    enforce_retention,
    keep_newest,
)
from hummingbird_spark.sources.ddl import read_table_properties
from tests.conftest import InjectedCrash, crash_publish

CAPPED = {"mongo.option.capped": "true", "mongo.option.max": "100",
          "mongo.option.size": "10000000"}


def _table_with_properties(spark, path, rows, props):
    """A `seq` table of `rows` rows with the D1 properties sidecar."""
    spark.range(rows).select(F.col("id").alias("seq")).write.parquet(path)
    with open(f"{path}/_table_properties.json", "w") as fh:
        json.dump(props, fh)


def _caps(path):
    props = read_table_properties(path)
    return (json.loads(props.get("mongo.option.capped", "false")),
            json.loads(props["mongo.option.max"]))


def test_keep_newest_matches_sort_limit(spark):
    df = spark.range(10_000).select(
        F.col("id").alias("k"),
        (F.col("id") * 7 % 1000).alias("v"),
    )
    got = sorted(r.k for r in keep_newest(df, "k", 250).collect())
    want = sorted(r.k for r in
                  df.orderBy(F.desc("k")).limit(250).collect())
    assert got == want
    # degenerate caps
    assert keep_newest(df, "k", 0).count() == 0
    assert keep_newest(df, "k", 20_000).count() == 10_000


def test_keep_newest_distributed_shape(spark):
    """No single-partition window: the plan's Window partitions by the
    range-partition id, never by the empty frame."""
    df = spark.range(1000).select(F.col("id").alias("k"))
    plan = keep_newest(df, "k", 10)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "__pid" in plan  # per-partition window key present
    assert "windowspecdefinition(k" not in plan.replace(" ", "")


def test_enforce_retention_rows(spark, tmp_path):
    path = str(tmp_path / "capped.parquet")
    spark.range(1000).select(
        F.col("id").alias("seq"), (F.col("id") % 17).alias("v")
    ).write.parquet(path)
    report = enforce_retention(spark, path, "seq", max_rows=300)
    assert report["enforced"] and report["dropped"] == 700
    left = spark.read.parquet(path)
    assert left.count() == 300
    # the newest 300 survive
    assert left.agg(F.min("seq")).first()[0] == 700
    # idempotent second pass
    again = enforce_retention(spark, path, "seq", max_rows=300)
    assert not again["enforced"] and again["dropped"] == 0


def test_enforce_retention_bytes(spark, tmp_path):
    path = str(tmp_path / "sized.parquet")
    spark.range(2000).select(
        F.col("id").alias("seq"),
        F.concat(F.lit("x" * 50), F.col("id").cast("string")).alias("pad"),
    ).coalesce(1).write.parquet(path)
    report = enforce_retention(
        spark, path, "seq", max_bytes=table_bytes(spark, path) // 2
    )
    assert report["enforced"]
    after = spark.read.parquet(path)
    n = after.count()
    assert 0 < n < 2000
    # oldest dropped: survivors are a contiguous newest suffix
    assert after.agg(F.min("seq")).first()[0] == 2000 - n


def test_capped_properties_roundtrip(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "from_props.parquet")
    _table_with_properties(spark, path, 500, CAPPED)
    report = enforce_capped_from_properties(spark, path, "seq")
    assert report["enforced"] and report["rows_after"] == 100
    assert spark.read.parquet(path).agg(F.min("seq")).first()[0] == 400
    assert _caps(path) == (True, 100)

    # kill a second table's enforcement right after the commit point:
    # the properties publish with the data, so recovery keeps them
    path2 = str(tmp_path / "killed.parquet")
    _table_with_properties(spark, path2, 500, CAPPED)
    crash_publish(monkeypatch, after_commit=True)
    with pytest.raises(InjectedCrash):
        enforce_capped_from_properties(spark, path2, "seq")
    monkeypatch.undo()
    recover(spark, path2)
    assert spark.read.parquet(path2).agg(F.min("seq")).first()[0] == 400
    assert _caps(path2) == (True, 100)


def test_uncapped_table_is_left_alone(spark, tmp_path):
    path = str(tmp_path / "plain.parquet")
    _table_with_properties(spark, path, 50, {})
    report = enforce_capped_from_properties(spark, path, "seq")
    assert not report["enforced"]
    assert spark.read.parquet(path).count() == 50
