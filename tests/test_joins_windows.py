"""Edge-case tests for the as-of join, range join, and window operators."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F

from hummingbird_spark.operators.joins import asof_join, range_join
from hummingbird_spark.operators.windows import (
    session_window_agg,
    tumbling_window_agg,
)

T = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731


def test_asof_backward_semantics(spark):
    left = spark.createDataFrame([
        Row(k="u1", lt=T(10), which="ten"),
        Row(k="u1", lt=T(30), which="thirty"),
        Row(k="u1", lt=T(5), which="five"),     # before any right row
        Row(k="u2", lt=T(10), which="other"),   # key with no right rows
    ])
    right = spark.createDataFrame([
        Row(k="u1", rt=T(8), tag="r8"),
        Row(k="u1", rt=T(10), tag="r10"),       # exact tie with lt=10
        Row(k="u1", rt=T(20), tag="r20"),
    ])
    out = {r.which: r for r in asof_join(
        left, right, key="k", left_time="lt", right_time="rt",
        right_cols=["tag"],
    ).collect()}
    assert out["ten"].tag == "r10"       # <= includes exact match
    assert out["thirty"].tag == "r20"    # most recent prior
    assert out["five"].tag is None       # nothing before -> null
    assert out["other"].tag is None      # no right rows for key
    assert out["thirty"].rt_right == T(20)


def test_asof_forward_nearest_tolerance(spark):
    """merge_asof parity: forward takes the next right row (>=
    inclusive), nearest picks the closer side with backward ties, and
    tolerance nulls matches outside the band."""
    left = spark.createDataFrame([
        Row(k="u1", lt=T(10), which="ten"),
        Row(k="u1", lt=T(14), which="fourteen"),   # 8 behind=6, 20 ahead=6
        Row(k="u1", lt=T(25), which="late"),       # after last right row
    ])
    right = spark.createDataFrame([
        Row(k="u1", rt=T(8), tag="r8"),
        Row(k="u1", rt=T(10), tag="r10"),
        Row(k="u1", rt=T(20), tag="r20"),
    ])

    fwd = {r.which: r for r in asof_join(
        left, right, key="k", left_time="lt", right_time="rt",
        right_cols=["tag"], direction="forward").collect()}
    assert fwd["ten"].tag == "r10"        # >= includes exact match
    assert fwd["fourteen"].tag == "r20"
    assert fwd["late"].tag is None        # nothing after

    near = {r.which: r for r in asof_join(
        left, right, key="k", left_time="lt", right_time="rt",
        right_cols=["tag"], direction="nearest").collect()}
    assert near["ten"].tag == "r10"
    assert near["fourteen"].tag == "r10"  # equidistant -> backward wins
    assert near["late"].tag == "r20"      # only backward exists

    tol = {r.which: r for r in asof_join(
        left, right, key="k", left_time="lt", right_time="rt",
        right_cols=["tag"], direction="backward", tolerance=3.0
    ).collect()}
    assert tol["ten"].tag == "r10"        # delta 0 <= 3
    assert tol["fourteen"].tag is None    # nearest backward is 4 away
    assert tol["late"].tag is None        # 5 away


def test_asof_does_not_leak_across_keys(spark):
    left = spark.createDataFrame([Row(k="a", lt=T(10)), Row(k="b", lt=T(10))])
    right = spark.createDataFrame([Row(k="a", rt=T(5), tag="A")])
    out = {r.k: r.tag for r in asof_join(
        left, right, key="k", left_time="lt", right_time="rt",
        right_cols=["tag"],
    ).collect()}
    assert out == {"a": "A", "b": None}


def test_range_join_band(spark):
    left = spark.createDataFrame([Row(ka=1, lo=T(10), hi=T(20))])
    right = spark.createDataFrame([
        Row(kb=1, t=T(9)), Row(kb=1, t=T(10)), Row(kb=1, t=T(20)),
        Row(kb=1, t=T(21)), Row(kb=2, t=T(15)),
    ])
    out = range_join(
        left, right, "ka", "kb",
        time_col=F.col("t"), low=F.col("lo"), high=F.col("hi"),
    ).collect()
    assert sorted(r.t for r in out) == [T(10), T(20)]  # inclusive band


def test_tumbling_and_session_windows(spark):
    df = spark.createDataFrame([
        Row(ts=T(1), u=1), Row(ts=T(10), u=1),   # session A (gap 15m)
        Row(ts=T(40), u=1),                      # session B
        Row(ts=T(2), u=2),
    ])
    tumb = tumbling_window_agg(df, "ts", "30 minutes")
    got = {(r.win_start, r.n_events) for r in tumb.collect()}
    assert got == {(T(0), 3), (T(30), 1)}

    sess = session_window_agg(df, "ts", "15 minutes", "u")
    got = {(r.u, r.session_start, r.session_end, r.n_events)
           for r in sess.collect()}
    assert (1, T(1), T(25), 2) in got     # ends last_ts + gap
    assert (1, T(40), T(55), 1) in got
    assert (2, T(2), T(17), 1) in got


def test_asof_matches_pandas_merge_asof(spark):
    """Randomized differential test: asof_join vs pandas merge_asof on
    every direction and a tolerance band (numeric time axis)."""
    import random

    import pandas as pd

    rng = random.Random(99)
    left_rows = [("k%d" % rng.randint(0, 2), float(rng.randint(0, 100)))
                 for _ in range(60)]
    right_rows = [("k%d" % rng.randint(0, 2), float(rng.randint(0, 100)),
                   rng.randint(1, 999))
                  for _ in range(40)]
    # dedupe right at (key, time): merge_asof picks the LAST among
    # equal-time rows, our union+window the last in input order —
    # dedupe (as the attribution query does) to remove the ambiguity
    seen = {}
    for k, t, v in right_rows:
        seen[(k, t)] = v
    right_rows = [(k, t, v) for (k, t), v in seen.items()]

    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left_rows)],
        "k string, lt double, lid long")
    right = spark.createDataFrame(right_rows, "k string, rt double, v long")

    lpd = pd.DataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left_rows)],
        columns=["k", "lt", "lid"]).sort_values("lt", kind="stable")
    rpd = pd.DataFrame(right_rows, columns=["k", "rt", "v"]) \
        .sort_values("rt", kind="stable")

    for direction, tol in [("backward", None), ("forward", None),
                           ("nearest", None), ("backward", 7.0),
                           ("nearest", 3.0)]:
        got = {r.lid: r.v for r in asof_join(
            left, right, key="k", left_time="lt", right_time="rt",
            right_cols=["v"], direction=direction, tolerance=tol,
        ).collect()}
        want_df = pd.merge_asof(
            lpd, rpd, left_on="lt", right_on="rt", by="k",
            direction=direction,
            **({"tolerance": tol} if tol is not None else {}))
        want = {int(r.lid): (None if pd.isna(r.v) else int(r.v))
                for r in want_df.itertuples()}
        assert got == want, direction
