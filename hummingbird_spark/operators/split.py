"""Block splitting — the reference's task partitioner (SURVEY §2.10 P1).

The reference walks each collection in _id order and emits a sub-task per
`block` rows (default 10,000; splitter.go:27-108). Two Spark-native
equivalents, used for different purposes:

  - `partition_for_copy` (the scale path): `repartitionByRange` — Spark
    samples the key distribution and produces contiguous, balanced ranges
    without a global sort. This is what the copy pipeline uses: at 100 TB
    it costs one shuffle whose partitioning is then reused by the write.
    It never counts rows first: footer stats size an unfiltered parquet
    copy, and AQE sizes everything else.

  - `block_boundaries` (exact parity path): reproduces the reference's
    "boundary every Nth row" semantics declaratively with
    row_number() OVER (ORDER BY key). A global ORDER BY is a single-reducer
    sort at the row_number stage, so this is for inspection/tests and
    small-to-medium tables, not the 100 TB hot path — the copy itself
    never needs exact 10k boundaries, only balanced ranges.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def block_boundaries(df: DataFrame, key: str, block: int = 10_000) -> DataFrame:
    """Emit one row per block: (block_id, lo, hi, rows) with inclusive
    key bounds — splitter.go:76-102 semantics ([first,last] per block).
    """
    w = Window.orderBy(key)
    return (
        df.select(key)
        .withColumn("rn", F.row_number().over(w) - 1)
        .withColumn("block_id", (F.col("rn") / block).cast("long"))
        .groupBy("block_id")
        .agg(
            F.min(key).alias("lo"),
            F.max(key).alias("hi"),
            F.count(F.lit(1)).alias("rows"),
        )
        .orderBy("block_id")
    )


def partition_for_copy(df: DataFrame, key: str, rows: int | None = None,
                       block: int = 10_000, max_partitions: int = 4096) -> DataFrame:
    """Range-partition `df` on `key` — the scale-path splitter. With
    `rows` known (parquet footers of an unfiltered copy), into
    ~`block`-row partitions. Otherwise no count scan: the range shuffle
    gets no partition number, so AQE sizes it at run time, coalescing
    the `spark.sql.shuffle.partitions` ranges toward its advisory size.
    """
    if rows is None:
        return df.repartitionByRange(F.col(key))
    num = max(1, min(max_partitions, math.ceil(rows / block)))
    return df.repartitionByRange(num, F.col(key))
