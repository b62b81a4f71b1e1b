"""DDL passthrough (D1-D4) and progress (A4) tests."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from hummingbird_spark.operators.metrics import Progress
from hummingbird_spark.sources.ddl import (
    TableSpec,
    create_table,
    read_table_properties,
)
from tests.conftest import SF_SMOKE


def test_create_table_with_spec(spark, tmp_path):
    df = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    spec = TableSpec(
        namespace="db.orders",
        options={"collation": {"locale": "en"}, "capped": False},
        indexes=[{"name": "by_cust", "key": {"o_custkey": 1}}],
        shard_key="o_orderkey",
        chunk_bounds=[500, 1000],
    )
    path = str(tmp_path / "orders.parquet")
    props = create_table(spark, df, path, spec, mode="overwrite")
    assert props["mongo.shard_key"] == "o_orderkey"
    assert "locale" in props["mongo.option.collation"]
    # properties sidecar round-trips (TBLPROPERTIES passthrough)
    assert read_table_properties(path) == props
    back = spark.read.parquet(path)
    assert back.count() == 1500
    # chunk pre-split honored EXACTLY: one partition dir per chunk,
    # key ranges match the declared bounds
    got = {
        (r["__chunk"], r["lo"], r["hi"])
        for r in back.groupBy("__chunk")
        .agg(F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi"))
        .collect()
    }
    assert {c for c, _, _ in got} == {0, 1, 2}
    for c, lo, hi in got:
        if c == 0:
            assert hi < 500
        elif c == 1:
            assert 500 <= lo and hi < 1000
        else:
            assert lo >= 1000


def test_create_table_refuses_existing(spark, tmp_path):
    # D4: DoesDataExist (config_copier.go:114-130)
    df = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    path = str(tmp_path / "r.parquet")
    create_table(spark, df, path, TableSpec("db.r"), mode="overwrite")
    with pytest.raises(FileExistsError):
        create_table(spark, df, path, TableSpec("db.r"))


def test_progress_eta():
    # A4 (data_copier.go:146-175)
    p = Progress(completed=25, total=100, started_at=time.time() - 50)
    assert p.percent == 25.0
    eta = p.eta_seconds()
    assert 140 < eta < 160  # 50s for 25 => ~150s for remaining 75
    assert Progress(0, 100, time.time()).eta_seconds() is None
    assert Progress(0, 0, time.time()).percent == 100.0
