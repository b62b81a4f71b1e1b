"""Continuous aggregate: an incrementally-maintained windowed rollup
table (the "hypertable rollup" custom-operator class — TimescaleDB
continuous aggregates / Druid rollup expressed Spark-first).

The reference maintains running counters as it streams (apply tallies,
oplog_utils.go:79-85; progress rollups, workspace.go:177-187). The
analytics generalization: a persistent table of per-(window, key)
aggregates that each micro-batch UPDATES in place, so dashboard-style
queries read the tiny rollup, never the raw stream history.

Design for 100 TB of events:
  - each micro-batch pre-aggregates to partial sums FIRST (map-side
    combine inside the batch: the merge joins |windows x keys| rows,
    never |events| rows),
  - the rollup table is keyed (window_start, key); merging is an
    upsert that ADDS partials to stored sums — commutative and
    associative, so batch boundaries don't matter,
  - idempotent replay: a batch-id ledger makes re-delivered batches
    (checkpoint recovery re-runs the last uncommitted batch) no-ops —
    the plain-parquet stand-in for a transactional sink's exactly-once,
  - only SUM/COUNT-decomposable aggregates belong here (avg = sum ÷
    count at read time); MIN/MAX merge too, quantiles need sketches.

The same merge body targets Delta/Iceberg `MERGE INTO` in production;
on plain parquet the table is small (it is a rollup), so the rewrite
per batch is the rollup's size, not the stream's.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from hummingbird_spark.commit import publish, recover
from hummingbird_spark.streaming.ledger import BatchLedger


def window_rollup_partials(
    batch: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    value_col: str = "value",
    hist_range: tuple[float, float] | None = None,
    hist_bins: int = 32,
    distinct_col: str | None = None,
) -> DataFrame:
    """One micro-batch -> partial aggregates per (window_start, key).
    Runs map-side combine + one small shuffle over the BATCH only.

    hist_range=(lo, hi): also keep a mergeable fixed-bin histogram
    sketch of value_col (functions/sketch.py), which makes approximate
    quantiles readable from the rollup — the non-decomposable
    aggregate the SUM/COUNT algebra alone can't give you.

    distinct_col: also keep a DataSketches HLL sketch (binary partial,
    hll_sketch_agg) so approximate COUNT DISTINCT of that column reads
    from the rollup — distinct counts are the other classically
    non-decomposable aggregate; HLL partials merge losslessly
    (hll_union), so incremental == one-shot."""
    from hummingbird_spark.functions.sketch import (
        assemble_sketch,
        histogram_sketch,
    )

    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col(value_col).cast("double")).alias("sum_value"),
        F.min(F.col(value_col).cast("double")).alias("min_value"),
        F.max(F.col(value_col).cast("double")).alias("max_value"),
    ]
    if hist_range is not None:
        aggs += histogram_sketch(F.col(value_col), hist_range[0],
                                 hist_range[1], hist_bins)
    if distinct_col is not None:
        # hll_sketch_agg accepts int/bigint/string/binary — stringify
        # so any column type (doubles, dates) sketches uniformly
        aggs.append(
            F.hll_sketch_agg(F.col(distinct_col).cast("string"))
            .alias("hll"))
    out = (
        batch.groupBy(
            F.window(F.col(ts_col), window).alias("__w"),
            F.col(key_col).alias("key"),
        )
        .agg(*aggs)
    )
    cols = [
        F.col("__w.start").alias("window_start"),
        "key", "n_events", "sum_value", "min_value", "max_value",
    ]
    if hist_range is not None:
        cols.append(assemble_sketch(hist_bins).alias("hist"))
    if distinct_col is not None:
        cols.append("hll")
    return out.select(*cols)


def merge_rollup_batch(
    spark: SparkSession,
    partials: DataFrame,
    rollup_path: str,
    batch_id: int | None = None,
) -> None:
    """Upsert partial aggregates into the persistent rollup table:

      MERGE INTO rollup USING partials
        ON rollup.window_start = partials.window_start
       AND rollup.key = partials.key
      WHEN MATCHED THEN UPDATE SET n += n, sum += sum,
                                   min = least(...), max = greatest(...)
      WHEN NOT MATCHED THEN INSERT *

    `batch_id` (from foreachBatch) is recorded in a ledger file; an
    already-applied id is skipped, making checkpoint-recovery replays
    idempotent even though += is not (the publish-then-ledger order
    and its crash window are documented once in streaming/ledger.py,
    with the single-driver assumption).

    Null keys merge too: the join matches on null-safe equality, so a
    null key (or a null window_start from an unparseable timestamp)
    accumulates in ONE rollup row instead of appending a new null-key
    row every batch."""
    led = BatchLedger(rollup_path)
    if led.seen(batch_id):
        return
    recover(spark, rollup_path)

    from hummingbird_spark.functions.sketch import merge_sketches

    p = partials.withColumnRenamed("window_start", "__ws") \
        .withColumnRenamed("key", "__k")
    if os.path.exists(os.path.join(rollup_path, "_SUCCESS")):
        cur = spark.read.parquet(rollup_path)
        merged = cur.join(
            p,
            cur.window_start.eqNullSafe(p.__ws) & cur.key.eqNullSafe(p.__k),
            "full_outer",
        ).select(
            F.coalesce(cur.window_start, p.__ws).alias("window_start"),
            F.coalesce(cur.key, p.__k).alias("key"),
            (F.coalesce(cur.n_events, F.lit(0))
             + F.coalesce(p.n_events, F.lit(0))).alias("n_events"),
            (F.coalesce(cur.sum_value, F.lit(0.0))
             + F.coalesce(p.sum_value, F.lit(0.0))).alias("sum_value"),
            # Spark's least/greatest skip nulls already; the coalesce
            # covers the all-null side of the full outer join explicitly
            F.coalesce(
                F.least(cur.min_value, p.min_value),
                cur.min_value, p.min_value,
            ).alias("min_value"),
            F.coalesce(
                F.greatest(cur.max_value, p.max_value),
                cur.max_value, p.max_value,
            ).alias("max_value"),
            *([merge_sketches(cur.hist, p.hist).alias("hist")]
              if "hist" in cur.columns and "hist" in p.columns else []),
            *([
                F.when(cur.hll.isNull(), p.hll)
                .when(p.hll.isNull(), cur.hll)
                .otherwise(F.hll_union(cur.hll, p.hll)).alias("hll")
            ] if "hll" in cur.columns and "hll" in p.columns else []),
        )
    else:
        merged = p.select(
            F.col("__ws").alias("window_start"),
            F.col("__k").alias("key"),
            "n_events", "sum_value", "min_value", "max_value",
            *(["hist"] if "hist" in p.columns else []),
            *(["hll"] if "hll" in p.columns else []),
        )

    publish(spark, rollup_path, merged.write.parquet)
    led.record(batch_id)


def start_continuous_rollup(
    spark: SparkSession,
    source_dir: str,
    rollup_path: str,
    schema,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    value_col: str = "value",
    checkpoint: str | None = None,
    hist_range: tuple[float, float] | None = None,
    hist_bins: int = 32,
    distinct_col: str | None = None,
) -> StreamingQuery:
    """File-source stream -> per-batch partials -> rollup merge. The
    rollup is queryable (spark.read.parquet) while the stream runs.
    hist_range/distinct_col thread through to the sketch columns."""
    stream = spark.readStream.schema(schema).json(source_dir)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        partials = window_rollup_partials(
            batch_df, ts_col=ts_col, key_col=key_col,
            window=window, value_col=value_col,
            hist_range=hist_range, hist_bins=hist_bins,
            distinct_col=distinct_col,
        )
        merge_rollup_batch(spark, partials, rollup_path, batch_id=batch_id)

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation",
                checkpoint or rollup_path + "._checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def refresh_rollup(
    spark: SparkSession,
    raw: DataFrame,
    rollup_path: str,
    window_start_min,
    window_start_max,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    value_col: str = "value",
    hist_range: tuple[float, float] | None = None,
    hist_bins: int = 32,
    distinct_col: str | None = None,
) -> None:
    """Recompute the rollup rows whose window_start falls in
    [window_start_min, window_start_max) from the RAW data and swap
    them in — the repair path (TimescaleDB refresh_continuous_
    aggregate): late corrections, deletes, or a double-applied batch
    break the merge's additive model, and the fix is re-deriving the
    affected windows from source, never patching partials.

    Only the raw rows of the affected range are scanned (pushdown
    filter on ts); untouched rollup rows are carried over verbatim.
    Idempotent by construction — no ledger interaction needed. Pass
    the same sketch options the rollup was built with so the refreshed
    rows carry matching columns."""
    lo = F.lit(window_start_min).cast("timestamp")
    hi = F.lit(window_start_max).cast("timestamp")
    affected_raw = raw.filter(
        (F.col(ts_col) >= lo) & (F.col(ts_col) < hi))
    recomputed = window_rollup_partials(
        affected_raw, ts_col=ts_col, key_col=key_col, window=window,
        value_col=value_col, hist_range=hist_range,
        hist_bins=hist_bins, distinct_col=distinct_col,
    )
    recover(spark, rollup_path)
    cur = spark.read.parquet(rollup_path)
    kept = cur.filter(
        (F.col("window_start") < lo) | (F.col("window_start") >= hi))
    merged = kept.unionByName(
        recomputed.select(*cur.columns), allowMissingColumns=False)

    publish(spark, rollup_path, merged.write.parquet)


def read_rollup(spark: SparkSession, rollup_path: str,
                hist_range: tuple[float, float] | None = None,
                hist_bins: int = 32) -> DataFrame:
    """The query surface: avg reconstructed from decomposable parts;
    when the rollup carries a histogram sketch AND the caller supplies
    the (lo, hi) range it was built with, p50/p95 read directly from
    the merged sketch (error <= one bin width)."""
    r = spark.read.parquet(rollup_path)
    cols = [
        "window_start", "key", "n_events", "sum_value",
        "min_value", "max_value",
        (F.col("sum_value") / F.col("n_events")).alias("avg_value"),
    ]
    if hist_range is not None and "hist" in r.columns:
        from hummingbird_spark.functions.sketch import sketch_quantile

        lo, hi = hist_range
        cols += [
            F.col("hist"),
            sketch_quantile(F.col("hist"), 0.5, lo, hi, hist_bins)
            .alias("p50_value"),
            sketch_quantile(F.col("hist"), 0.95, lo, hi, hist_bins)
            .alias("p95_value"),
        ]
    if "hll" in r.columns:
        cols.append(
            F.hll_sketch_estimate(F.col("hll")).alias("approx_distinct"))
    return r.select(*cols)
