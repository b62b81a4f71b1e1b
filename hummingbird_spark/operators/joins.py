"""Join family (SURVEY §2.3 + north-star extensions).

The reference needs only existence semi-joins and CDC key-matching
(J1-J3), which are plain df.join calls (`left_semi` / `left_anti`).
This module adds the two operators Spark lacks natively:

  asof_join   — "most recent right row at or before each left row"
                (backward as-of, the market-data / attribution join).
                Implemented with the union+window trick: tag both sides,
                sort within (key, time) partitions, forward-fill the
                right row. One shuffle on the key, NO range explosion —
                the scalable shape (a naive range join is O(L·R) per
                key; this is O((L+R) log(L+R)) via the sort).
  range_join  — equi-key + time-interval predicate. The equi key keeps
                it a hash/sort-merge join; the range predicate filters
                post-match (Spark pushes it into the join condition).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_time: str,
    right_time: str,
    right_cols: list[str] | None = None,
    suffix: str = "_right",
    direction: str = "backward",
    tolerance: float | None = None,
) -> DataFrame:
    """As-of join (pandas merge_asof semantics), per key:

      backward (default): greatest right_time <= left_time
      forward:            smallest right_time >= left_time
      nearest:            whichever of the two is closer (ties ->
                          backward, as in pandas)

    tolerance (in the time column's native units — seconds for
    timestamps) nulls the match when |left_time - matched_time|
    exceeds it.

    Union+window implementation: one shuffle on `key`; right values
    reach left rows via last/first(ignorenulls) over
    unbounded-preceding / unbounded-following windows. Side ordering
    at equal timestamps makes exact matches visible in both
    directions (<= / >= semantics).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown asof direction: {direction!r}")
    rcols = right_cols or [c for c in right.columns
                           if c not in (key, right_time)]
    lcols = left.columns

    l_tagged = left.select(
        F.col(key), F.col(left_time).alias("__t"), F.lit(1).alias("__side"),
        *[F.col(c) for c in lcols if c not in (key,)],
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"__r_{c}")
          for c in rcols],
        F.lit(None).cast(dict(right.dtypes)[right_time]).alias("__rt"),
    )
    r_tagged = right.select(
        F.col(key), F.col(right_time).alias("__t"), F.lit(0).alias("__side"),
        *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c)
          for c in lcols if c not in (key,)],
        *[F.col(c).alias(f"__r_{c}") for c in rcols],
        F.col(right_time).alias("__rt"),
    )

    # backward: right rows sort BEFORE left at equal ts (<= visible);
    # forward: right rows sort AFTER left at equal ts (>= visible)
    wb = (
        Window.partitionBy(key)
        .orderBy(F.col("__t").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(key)
        .orderBy(F.col("__t").asc(), F.col("__side").desc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    unioned = l_tagged.unionByName(r_tagged)
    fills = []
    if direction in ("backward", "nearest"):
        fills += [F.last(f"__r_{c}", ignorenulls=True).over(wb)
                  .alias(f"__fb_{c}") for c in rcols]
        fills += [F.last("__rt", ignorenulls=True).over(wb).alias("__fb_rt")]
    if direction in ("forward", "nearest"):
        fills += [F.first(f"__r_{c}", ignorenulls=True).over(wf)
                  .alias(f"__ff_{c}") for c in rcols]
        fills += [F.first("__rt", ignorenulls=True).over(wf).alias("__ff_rt")]
    filled = unioned.select("*", *fills)

    if direction == "nearest":
        t = F.col("__t").cast("double")
        bt = F.col("__fb_rt").cast("double")
        ft = F.col("__ff_rt").cast("double")
        pick_b = F.col("__ff_rt").isNull() | (
            F.col("__fb_rt").isNotNull() & ((t - bt) <= (ft - t)))
        chosen = [(F.when(pick_b, F.col(f"__fb_{c}"))
                   .otherwise(F.col(f"__ff_{c}"))).alias(f"__f_{c}")
                  for c in rcols]
        chosen_rt = F.when(pick_b, F.col("__fb_rt")) \
            .otherwise(F.col("__ff_rt")).alias("__f_rt")
    else:
        tag = "fb" if direction == "backward" else "ff"
        chosen = [F.col(f"__{tag}_{c}").alias(f"__f_{c}") for c in rcols]
        chosen_rt = F.col(f"__{tag}_rt").alias("__f_rt")
    filled = filled.select("*", *chosen, chosen_rt)

    if tolerance is not None:
        within = (
            F.abs(F.col("__t").cast("double")
                  - F.col("__f_rt").cast("double")) <= float(tolerance))
        filled = filled.select(
            *[c for c in filled.columns
              if not c.startswith("__f_")],
            *[F.when(within, F.col(f"__f_{c}")).alias(f"__f_{c}")
              for c in rcols],
            F.when(within, F.col("__f_rt")).alias("__f_rt"),
        )
    out = filled.filter(F.col("__side") == 1).select(
        F.col(key),
        *[F.col(c) for c in lcols if c not in (key,)],
        *[F.col(f"__f_{c}").alias(f"{c}{suffix}"
                                  if c in lcols else c) for c in rcols],
        F.col("__f_rt").alias(f"{right_time}{suffix}"),
    )
    return out


def range_join(
    left: DataFrame,
    right: DataFrame,
    key_left: str,
    key_right: str,
    time_col: Column,
    low: Column,
    high: Column,
    how: str = "inner",
) -> DataFrame:
    """Equi-key + interval join: key match AND low <= time <= high.
    The equality keeps it hash-joinable; the band is extra join
    condition (no cartesian blowup)."""
    cond = (
        (F.col(key_left) == F.col(key_right))
        & (time_col >= low)
        & (time_col <= high)
    )
    return left.join(right, cond, how)
