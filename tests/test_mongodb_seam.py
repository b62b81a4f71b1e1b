"""MongoDB connector seam tests (sources/mongodb.py).

The sandbox has neither a MongoDB server nor the connector jar, so
these tests pin the DISPATCH and CONFIG-MAPPING layers: MigrationConfig
-> connector read options, the doc-count block -> partition-MB
conversion, Mongo-side $match pushdown, and the clear failure mode when
the jar is absent. The reference surface being mirrored:
client_pool.go:26-68 (URI plumbing), splitter.go:51-108 (key-range
partitioning -> SamplePartitioner).
"""

from __future__ import annotations

import json

import pytest

from hummingbird_spark.config import Include, MigrationConfig
from hummingbird_spark.sources.mongodb import (
    SAMPLE_PARTITIONER,
    SHARDED_PARTITIONER,
    block_to_partition_mb,
    mongodb_read_options,
)


def _cfg(**kw):
    base = dict(
        command="data-only",
        source="mongodb://src:27017",
        target="mongodb://dst:27017",
        includes=[Include(namespace="shop.orders", to="shop.orders_v2")],
    )
    base.update(kw)
    return MigrationConfig(**base)


def test_read_options_map_namespace_key_and_block():
    cfg = _cfg(key="_id", block=4096)
    opts = mongodb_read_options(cfg, cfg.includes[0], avg_doc_bytes=2048)
    assert opts["connection.uri"] == "mongodb://src:27017"
    assert opts["database"] == "shop"
    assert opts["collection"] == "orders"
    assert opts["partitioner"] == SAMPLE_PARTITIONER
    assert opts["partitioner.options.partition.field"] == "_id"
    # 4096 docs * 2048 B = 8 MiB
    assert opts["partitioner.options.partition.size"] == "8"


def test_block_to_partition_mb_floors_at_one():
    assert block_to_partition_mb(10, avg_doc_bytes=100) == 1
    assert block_to_partition_mb(10_000, avg_doc_bytes=1024) == 9
    assert block_to_partition_mb(10_000, avg_doc_bytes=2048) == 19


def test_read_options_filter_becomes_match_pipeline():
    inc = Include(namespace="shop.orders",
                  filter={"status": {"$in": ["A", "B"]}})
    cfg = _cfg(includes=[inc])
    opts = mongodb_read_options(cfg, inc)
    assert json.loads(opts["aggregation.pipeline"]) == [
        {"$match": {"status": {"$in": ["A", "B"]}}}
    ]


def test_read_options_sharded_uses_chunk_partitioner():
    cfg = _cfg()
    opts = mongodb_read_options(cfg, cfg.includes[0], sharded=True)
    assert opts["partitioner"] == SHARDED_PARTITIONER
    assert "partitioner.options.partition.field" not in opts


def test_read_options_rejects_non_json_filter():
    """include.filter must be strict-JSON MQL: a datetime operand
    can't survive json.dumps into aggregation.pipeline, and silently
    diverging from the re-apply path is worse than failing loudly."""
    import datetime

    inc = Include(namespace="shop.orders",
                  filter={"ts": {"$gte": datetime.datetime(2024, 1, 1)}})
    cfg = _cfg(includes=[inc])
    with pytest.raises(ValueError, match="strict JSON"):
        mongodb_read_options(cfg, inc)


def test_missing_datasource_classifier_uses_error_condition():
    """Classification prefers the structured AnalysisException error
    condition over message-substring scanning: an unrelated error that
    happens to MENTION 'Failed to find' must not be labeled as the
    missing-jar case, and a genuine DATA_SOURCE_NOT_FOUND must be
    caught regardless of message shape."""
    from pyspark.errors import AnalysisException

    from hummingbird_spark.sources.mongodb import _is_missing_datasource

    missing = AnalysisException(
        message="Failed to find the data source: mongodb",
        errorClass="DATA_SOURCE_NOT_FOUND", messageParameters={})
    assert _is_missing_datasource(missing)

    unrelated = AnalysisException(
        message="A column named `Failed to find` cannot be resolved",
        errorClass="COLUMN_NOT_FOUND", messageParameters={})
    assert not _is_missing_datasource(unrelated)

    # unstructured fallback: plain exceptions still classify by text
    assert _is_missing_datasource(
        RuntimeError("java.lang.ClassNotFoundException: mongodb"))
    assert not _is_missing_datasource(RuntimeError("connection refused"))


def test_live_mongodb_roundtrip(spark):
    """Guarded live integration: runs only when the environment
    provides a reachable MongoDB and the connector jar
    (HB_SPARK_MONGODB_URI set + format resolvable). Round-trips a tiny
    frame through write->read and checks the upsert key contract —
    ready for the day the sandbox gains a Mongo container."""
    import os

    uri = os.environ.get("HB_SPARK_MONGODB_URI")
    if not uri:
        pytest.skip("HB_SPARK_MONGODB_URI not set (no live MongoDB)")
    cfg = MigrationConfig(
        command="data-only", source=uri, target=uri,
        includes=[Include(namespace="hbtest.roundtrip")])
    inc = cfg.includes[0]
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "_id long, v string")
    (df.write.format("mongodb")
       .options(**{"connection.uri": uri, "database": "hbtest",
                   "collection": "roundtrip", "operationType": "replace",
                   "idFieldList": "_id"})
       .mode("append").save())
    back = (spark.read.format("mongodb")
            .options(**mongodb_read_options(cfg, inc)).load())
    got = {(r["_id"], r["v"]) for r in back.collect()}
    assert {(1, "a"), (2, "b")} <= got


def test_read_source_dispatches_mongodb_and_reports_missing_jar(spark):
    """mongodb:// URIs route to the connector branch; without the jar
    the error must say how to get it, not a raw ClassNotFound."""
    from hummingbird_spark.sources.tables import read_source

    with pytest.raises(RuntimeError, match="mongo-spark-connector"):
        read_source(spark, "mongodb://localhost:27017",
                    database="db", collection="c")
    # explicit fmt= works the same
    with pytest.raises(RuntimeError, match="--packages"):
        read_source(spark, "mongodb://localhost:27017", fmt="mongodb",
                    database="db", collection="c")


def test_run_migration_dispatches_mongodb_source(spark, tmp_path):
    """A reference-shaped config with a mongodb:// source routes
    copy_table through the connector seam; in the jar-less sandbox that
    surfaces the actionable --packages error (proving the dispatch path
    is wired end-to-end, not just in read_source)."""
    from hummingbird_spark.operators.copy import run_migration

    cfg = MigrationConfig(
        command="data-only",
        source="mongodb://localhost:27017",
        target=str(tmp_path / "out"),
        includes=[Include(namespace="shop.orders")],
    )
    with pytest.raises(RuntimeError, match="mongo-spark-connector"):
        run_migration(spark, cfg)


def test_compare_migration_reads_the_mongodb_source(spark, tmp_path):
    """compare_migration reads a mongodb:// source as the copy does,
    through the connector seam: in the jar-less sandbox the same
    actionable --packages error, not a file-system error about the
    `mongodb` scheme."""
    from hummingbird_spark.operators.compare import compare_migration

    cfg = MigrationConfig(
        command="data-only",
        source="mongodb://localhost:27017",
        target=str(tmp_path / "out"),
        includes=[Include(namespace="shop.orders")],
    )
    with pytest.raises(RuntimeError, match="mongo-spark-connector"):
        compare_migration(spark, cfg)
