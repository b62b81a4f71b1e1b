"""Block splitting — the reference's task partitioner (SURVEY §2.10 P1).

The reference walks each collection in _id order and emits a sub-task per
`block` rows (default 10,000; splitter.go:27-108). `partition_for_copy`
is the Spark-native equivalent: `repartitionByRange` samples the key
distribution and produces contiguous, balanced ranges without a global
sort. At 100 TB it costs one shuffle whose partitioning is then reused by
the write. It never counts rows first: footer stats size an unfiltered
parquet copy, and AQE sizes everything else. The copy needs balanced
ranges, not the reference's exact every-Nth-row boundaries.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
