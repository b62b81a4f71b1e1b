"""MongoDB connector seam (SURVEY §2.1 S1 — the reference's real I/O
plane).

The reference reads live MongoDB through pooled clients and range
cursors (`client_pool.go:26-68`, `mongo_utils.go:18-63`, splitter
cursors `splitter.go:51-108`). The Spark-first equivalent is the
public MongoDB Spark Connector v10+ (`spark.read.format("mongodb")`),
which plans one Spark partition per key range — the same shape as the
reference's block splitter, with the connector's partitioner doing
what `splitter.go` does by hand.

This module maps our `MigrationConfig`/`Include` surface onto the
connector's option namespace. The sandbox has no MongoDB server and no
connector jar, so `read_source(..., fmt="mongodb")` raises a clear
error at `.load()` time if the jar is absent; the option-mapping layer
is pure and unit-tested (`tests/test_mongodb_seam.py`). On a real
cluster: submit with
`--packages org.mongodb.spark:mongo-spark-connector_2.13:10.4.1`.

Block-size mapping: the reference splits by DOCUMENT COUNT
(`neutrino.go:17-22` caps block at 10k docs); the connector's
SamplePartitioner splits by PARTITION SIZE in MB. We convert with an
explicit average-document-size estimate (`avg_doc_bytes`, default
1 KiB) rather than hiding the unit change:
    partition.size MB ≈ max(1, block * avg_doc_bytes / 2^20)
At 100 TB the partitioner choice is the scan-parallelism knob — the
sampled key-range split keeps every Mongo cursor range-bounded exactly
like the reference's `splitter.go` ranges.
"""

from __future__ import annotations

from typing import Any

from hummingbird_spark.config import Include, MigrationConfig
from hummingbird_spark.sources.catalog import split_namespace

# Public connector partitioner class names (mongodb.com/docs/spark-connector)
SAMPLE_PARTITIONER = (
    "com.mongodb.spark.sql.connector.read.partitioner.SamplePartitioner"
)
SHARDED_PARTITIONER = (
    "com.mongodb.spark.sql.connector.read.partitioner.ShardedPartitioner"
)

DEFAULT_AVG_DOC_BYTES = 1024


def block_to_partition_mb(block: int,
                          avg_doc_bytes: int = DEFAULT_AVG_DOC_BYTES) -> int:
    """Doc-count block (reference unit) -> connector partition.size MB."""
    return max(1, (block * avg_doc_bytes) >> 20)


def mongodb_read_options(
    cfg: MigrationConfig,
    include: Include,
    avg_doc_bytes: int = DEFAULT_AVG_DOC_BYTES,
    sharded: bool = False,
) -> dict[str, str]:
    """Map one include of a migration config onto connector read
    options. The partition field is the migration's range key (the
    reference hardwires `_id`, `migrator.go:290-305`); sharded sources
    use the connector's ShardedPartitioner, which reads the cluster's
    own chunk boundaries — the J2 shard-alignment analogue."""
    db, coll = split_namespace(include.namespace)
    opts = {
        "connection.uri": cfg.source,
        "database": db,
        "collection": coll,
    }
    if sharded:
        opts["partitioner"] = SHARDED_PARTITIONER
    else:
        opts["partitioner"] = SAMPLE_PARTITIONER
        opts["partitioner.options.partition.field"] = cfg.key
        opts["partitioner.options.partition.size"] = str(
            block_to_partition_mb(cfg.block, avg_doc_bytes))
    # Mongo-side $match pushdown: the connector accepts an aggregation
    # pipeline; the include filter IS a $match (F1), evaluated by the
    # server before rows reach Spark — the Mongo-source equivalent of
    # parquet predicate pushdown. The filter must be strict-JSON MQL:
    # it originates from migration.json (already strict JSON on disk),
    # and copy.py relies on this pushdown being equivalent to
    # transform_for_include's re-apply, so a filter carrying non-JSON
    # operand types (datetime/ObjectId/Decimal128) is rejected loudly
    # here rather than silently diverging — use extended-JSON string
    # forms ({"$date": ...}, {"$oid": ...}) in the config instead.
    if include.filter:
        import json

        try:
            opts["aggregation.pipeline"] = json.dumps(
                [{"$match": include.filter}])
        except TypeError as e:
            raise ValueError(
                f"include.filter for {include.namespace!r} is not "
                f"strict JSON ({e}); express non-JSON operands in "
                "extended-JSON string form, e.g. "
                '{"$date": "..."} or {"$oid": "..."}') from e
    return opts


def _is_missing_datasource(e: Exception) -> bool:
    """True when `e` means "the mongodb data source isn't registered"
    (connector jar absent). Prefer the structured error class —
    AnalysisException carries DATA_SOURCE_NOT_FOUND as its error
    condition in Spark 3.4+/4.x — because the rendered message shape
    varies across Spark versions and Py4J wrapping; the substring scan
    is only the fallback for unstructured/older shapes."""
    try:
        from pyspark.errors import AnalysisException

        if isinstance(e, AnalysisException):
            cond = None
            for getter in ("getCondition", "getErrorClass"):
                fn = getattr(e, getter, None)
                if fn is None:
                    continue
                try:
                    cond = fn()
                except Exception:
                    cond = None
                if cond:
                    break
            if cond:
                # structured verdict: trust it either way
                return cond in ("DATA_SOURCE_NOT_FOUND",
                                "FAILED_TO_LOAD_DATA_SOURCE")
    except ImportError:
        pass
    s = str(e)
    return ("ClassNotFound" in s or "Failed to find" in s
            or "DATA_SOURCE_NOT_FOUND" in s)


def read_mongodb(spark, uri: str, **options) -> Any:
    """`spark.read.format("mongodb")` with a clear failure mode when
    the connector jar is not on the classpath (the sandbox case)."""
    opts = {"connection.uri": uri, **options}
    try:
        return spark.read.format("mongodb").options(**opts).load()
    except Exception as e:  # connector jar absent -> ClassNotFound
        if _is_missing_datasource(e):
            raise RuntimeError(
                "MongoDB Spark Connector not on the classpath; submit "
                "with --packages org.mongodb.spark:mongo-spark-"
                "connector_2.13:10.4.1"
            ) from e
        raise
