"""Skew handling — salting for skewed aggregation keys. AQE's skew-join
handles most join skew automatically; this is the explicit tool for
aggregation skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_agg(df: DataFrame, key: str, aggs: list, salt: int = 16,
               final_aggs: list | None = None) -> DataFrame:
    """Two-phase aggregation for skewed keys: phase 1 groups by
    (key, salt) spreading a hot key over `salt` reducers, phase 2 merges
    the partials. `aggs` are phase-1 expressions whose aliases must be
    re-aggregable by `final_aggs` (default: SUM of each phase-1 alias,
    correct for count/sum).

    Semantically identical to a plain groupBy (tested against the
    oracle); the win is purely physical: no reducer receives more than
    ~1/salt of a hot key's rows.
    """
    salted = df.withColumn(
        "__salt", (F.rand(seed=42) * salt).cast("int")
    )
    phase1 = salted.groupBy(key, "__salt").agg(*aggs)
    names = [c for c in phase1.columns if c not in (key, "__salt")]
    merged = phase1.groupBy(key).agg(
        *(final_aggs or [F.sum(c).alias(c) for c in names])
    )
    return merged
