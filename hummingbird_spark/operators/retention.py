"""Capped-collection retention (SURVEY §2.11 D1; reference
collection_creator.go:55-66: capped/size/max options).

Mongo capped collections drop the OLDEST documents once the collection
exceeds its max document count or byte size. The reference passes these
options through at create time; on parquet nothing enforces them — this
module is the enforcement pass, run after appends (the batch analogue
of Mongo's on-insert eviction), published through
hummingbird_spark/commit.py like operators/compact.py.

Scale shape — global "keep newest N" WITHOUT a single-partition window
or a driver-side TakeOrdered:

  1. range-repartition by the order column DESC (newest rows land in
     the lowest partitions; Spark samples boundaries — no full sort),
  2. count rows per partition (a tiny aggregate),
  3. broadcast the cumulative offsets; keep a row iff its partition's
     start offset + its within-partition rank <= N. Per-partition
     windows are bounded by partition size, and only the offset table
     (num_partitions rows) touches the driver.
"""

from __future__ import annotations

import json
import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hummingbird_spark.commit import publish, put_text, recover
from hummingbird_spark.operators.compact import table_bytes
from hummingbird_spark.sources.ddl import read_table_properties


def keep_newest(df: DataFrame, order_col: str, n: int,
                num_partitions: int | None = None) -> DataFrame:
    """Exact global top-n by `order_col` (desc), distributed: range
    partitioning gives a global order across partitions, per-partition
    row_number gives the order within, and the broadcast offset table
    stitches them into a global rank. Ties break by the full tuple
    (order_col desc only — stable because range partitioning assigns
    equal keys to one partition)."""
    if n <= 0:
        return df.limit(0)
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
    parts = df.repartitionByRange(num_partitions, F.desc(order_col))
    # pin the partition assignment: __pid is read by TWO jobs (the
    # sizes aggregate, then the final filter), and AQE may coalesce
    # the range shuffle differently per job, silently shifting ids —
    # materializing freezes them (caught by the sf0.01 oracle gate:
    # 526 rows returned for n=500)
    tagged = parts.withColumn(
        "__pid", F.spark_partition_id()
    ).localCheckpoint(eager=True)
    sizes = {
        r["__pid"]: r["cnt"]
        for r in tagged.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    # only partitions whose global offset is below n can contribute
    # (range partitioning is ordered, so every row in a partition
    # with offset >= n has global rank > n) — pre-filtering them
    # keeps the per-partition window sort proportional to ~n rows,
    # not to the table (r11: the window was sorting ALL rows to rank
    # a top-500)
    contrib = [pid for pid, off in offsets.items() if off < n]
    off_col = F.lit(0)
    for pid in contrib:
        off_col = F.when(F.col("__pid") == pid, offsets[pid]) \
            .otherwise(off_col)
    w = Window.partitionBy("__pid").orderBy(F.desc(order_col))
    return (
        tagged.filter(F.col("__pid").isin(contrib))
        .withColumn("__rank", F.row_number().over(w) + off_col)
        .filter(F.col("__rank") <= n)
        .drop("__pid", "__rank")
    )


def enforce_retention(
    spark: SparkSession,
    path: str,
    order_col: str,
    max_rows: int | None = None,
    max_bytes: int | None = None,
) -> dict:
    """Trim `path` so it holds at most max_rows rows / max_bytes bytes,
    dropping the oldest rows by `order_col` (capped-collection
    semantics: `max` caps documents, `size` caps bytes — the byte cap
    converts to a row cap via the table's current average row size,
    which is how storage engines reason about it too).

    Returns a report dict; a no-op when already under the caps."""
    recover(spark, path)
    df = spark.read.parquet(path)
    total = df.count()
    bytes_now = table_bytes(spark, path)

    caps = []
    if max_rows is not None:
        caps.append(int(max_rows))
    if max_bytes is not None and total > 0:
        avg_row = bytes_now / total
        caps.append(int(math.floor(max_bytes / avg_row)))
    cap = min(caps) if caps else None
    if cap is None or total <= cap:
        return {"path": path, "rows_before": total, "rows_after": total,
                "dropped": 0, "enforced": False}

    props = read_table_properties(path)
    kept = keep_newest(df, order_col, cap)

    def write(stage: str) -> None:
        kept.write.parquet(stage)
        if props:  # publishes together with the data
            put_text(spark, f"{stage}/_table_properties.json",
                     json.dumps(props, indent=2, sort_keys=True))

    def verify(stage: str) -> None:
        n_stage = spark.read.parquet(stage).count()
        if n_stage != cap:
            raise RuntimeError(
                f"retention rewrite kept {n_stage} rows, expected {cap}; "
                f"live table untouched"
            )

    publish(spark, path, write, verify=verify)
    return {"path": path, "rows_before": total, "rows_after": cap,
            "dropped": total - cap, "enforced": True}


def enforce_capped_from_properties(
    spark: SparkSession, path: str, order_col: str
) -> dict:
    """Read the D1 passthrough options (`mongo.option.capped/size/max`
    in the sidecar that sources/ddl.py describes) and enforce them —
    the maintenance-job entry point for tables created from a capped
    source collection."""
    props = read_table_properties(path)
    if not json.loads(props.get("mongo.option.capped", "false")):
        return {"path": path, "enforced": False, "dropped": 0,
                "reason": "not capped"}
    max_docs = props.get("mongo.option.max")
    max_size = props.get("mongo.option.size")
    return enforce_retention(
        spark, path, order_col,
        max_rows=int(json.loads(max_docs)) if max_docs else None,
        max_bytes=int(json.loads(max_size)) if max_size else None,
    )
