"""Continuous aggregate (streaming/rollup.py): the incrementally
maintained windowed rollup must equal a from-scratch batch aggregation
of everything merged so far, and replaying a batch (checkpoint
recovery) must change nothing."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F
from pyspark.sql import types as T

from hummingbird_spark.streaming.rollup import (
    merge_rollup_batch,
    window_rollup_partials,
)

EVENT_SCHEMA = T.StructType([
    T.StructField("ts", T.TimestampType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
])


def _batch1():
    return [
        ("2024-01-01T00:05:00", "click", 1.0),
        ("2024-01-01T00:20:00", "click", 3.0),
        ("2024-01-01T00:40:00", "view", 10.0),
        ("2024-01-01T01:10:00", "click", 5.0),
    ]


def _batch2():
    return [
        ("2024-01-01T00:50:00", "click", 7.0),   # same window as batch1
        ("2024-01-01T01:30:00", "view", 2.0),
        ("2024-01-01T02:15:00", "click", 4.0),   # new window
    ]


def _events(spark, rows):
    return spark.createDataFrame(
        [(datetime.datetime.fromisoformat(ts), et, v) for ts, et, v in rows],
        EVENT_SCHEMA)


def _expected(spark, rows):
    return {
        (r.window_start, r.key): (r.n_events, r.sum_value, r.min_value,
                                  r.max_value)
        for r in window_rollup_partials(_events(spark, rows)).collect()
    }


def _actual(spark, path):
    return {
        (r.window_start, r.key): (r.n_events, r.sum_value, r.min_value,
                                  r.max_value)
        for r in spark.read.parquet(path).collect()
    }


def test_incremental_equals_batch_recompute(spark, tmp_path):
    rollup = str(tmp_path / "rollup.parquet")

    merge_rollup_batch(
        spark, window_rollup_partials(_events(spark, _batch1())), rollup,
        batch_id=0)
    assert _actual(spark, rollup) == _expected(spark, _batch1())

    merge_rollup_batch(
        spark, window_rollup_partials(_events(spark, _batch2())), rollup,
        batch_id=1)
    assert _actual(spark, rollup) == _expected(
        spark, _batch1() + _batch2()
    )


def test_batch_replay_is_idempotent(spark, tmp_path):
    rollup = str(tmp_path / "rollup.parquet")
    df = spark.createDataFrame(
        [("2024-01-01 00:05:00", "click", 1.0),
         ("2024-01-01 00:20:00", "click", 3.0)],
        "ts string, event_type string, value double",
    ).select(F.to_timestamp("ts").alias("ts"), "event_type", "value")
    partials = window_rollup_partials(df)

    merge_rollup_batch(spark, partials, rollup, batch_id=0)
    once = _actual(spark, rollup)
    # checkpoint-recovery replay of the same batch id: must be a no-op
    merge_rollup_batch(spark, partials, rollup, batch_id=0)
    assert _actual(spark, rollup) == once
    # a NEW batch id with the same content does apply (+= semantics)
    merge_rollup_batch(spark, partials, rollup, batch_id=1)
    twice = _actual(spark, rollup)
    key = ("2024-01-01 00:00:00", "click")
    assert {k[1] for k in twice} == {"click"}
    (n, s, mn, mx) = list(twice.values())[0]
    assert n == 2 * list(once.values())[0][0]
    assert s == 2 * list(once.values())[0][1]
    assert (mn, mx) == (1.0, 3.0)


def test_null_keys_merge_instead_of_duplicating(spark, tmp_path):
    """A null key must accumulate in ONE rollup row across batches —
    the merge joins null-safely. (Null-ts rows never reach the merge:
    Spark's window() plants an IS NOT NULL filter on the time column.)"""
    rollup = str(tmp_path / "rollup_nulls.parquet")
    df = spark.createDataFrame(
        [(datetime.datetime.fromisoformat("2024-01-01T00:05:00"),
          None, 2.0),
         (None, None, 7.0)],  # dropped by window()'s null-ts filter
        EVENT_SCHEMA,
    )
    merge_rollup_batch(spark, window_rollup_partials(df), rollup, batch_id=0)
    merge_rollup_batch(spark, window_rollup_partials(df), rollup, batch_id=1)

    out = spark.read.parquet(rollup).collect()
    # one (window_start, null key) row, merged — not one per batch
    assert len(out) == 1
    assert out[0].key is None
    assert out[0].n_events == 2
    assert out[0].sum_value == 4.0


def test_histogram_sketch_rollup_quantiles(spark, tmp_path):
    """The sketch column that quantiles read from merges across
    batches exactly: incremental histogram == from-scratch histogram."""
    from hummingbird_spark.streaming.rollup import (
        merge_rollup_batch as merge,
        window_rollup_partials as partials,
    )

    rollup = str(tmp_path / "hist_rollup.parquet")
    lo, hi, bins = 0.0, 100.0, 50
    t0 = datetime.datetime(2024, 1, 1)
    rows1 = [(t0, "a", float(v)) for v in range(0, 60)]
    rows2 = [(t0, "a", float(v)) for v in range(60, 100)]
    b1 = spark.createDataFrame(rows1, EVENT_SCHEMA)
    b2 = spark.createDataFrame(rows2, EVENT_SCHEMA)

    merge(spark, partials(b1, hist_range=(lo, hi), hist_bins=bins),
          rollup, batch_id=0)
    merge(spark, partials(b2, hist_range=(lo, hi), hist_bins=bins),
          rollup, batch_id=1)

    out = spark.read.parquet(rollup).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_events == 100
    # incremental merge == one-shot histogram over the union
    both = b1.unionByName(b2)
    one_shot = partials(both, hist_range=(lo, hi), hist_bins=bins) \
        .collect()[0]
    assert list(r.hist) == list(one_shot.hist)


def test_hll_distinct_rollup(spark, tmp_path):
    """HLL partials merge losslessly: the incrementally maintained
    approx-distinct equals the one-shot sketch over the union, and at
    small cardinality the estimate is exact."""
    from hummingbird_spark.streaming.rollup import (
        merge_rollup_batch as merge,
        window_rollup_partials as partials,
    )

    rollup = str(tmp_path / "hll_rollup.parquet")
    t0 = datetime.datetime(2024, 1, 1)
    # values 0..39 in batch 1, 20..59 in batch 2 -> 60 distinct overall
    b1 = spark.createDataFrame(
        [(t0, "a", float(v)) for v in range(0, 40)], EVENT_SCHEMA)
    b2 = spark.createDataFrame(
        [(t0, "a", float(v)) for v in range(20, 60)], EVENT_SCHEMA)

    merge(spark, partials(b1, distinct_col="value"), rollup, batch_id=0)
    merge(spark, partials(b2, distinct_col="value"), rollup, batch_id=1)

    r = spark.read.parquet(rollup).select(
        "n_events",
        F.hll_sketch_estimate("hll").alias("approx_distinct")).collect()[0]
    assert r.n_events == 80
    assert r.approx_distinct == 60  # HLL exact at this cardinality
