"""Stratified weighted reservoir: partition invariance of the sample,
statistical sanity of the weighting (heavier items sampled more), the
without-replacement/per-stratum contracts, and the streaming twin's
EXACT batch equivalence + replay idempotency (the property derived
priorities buy that classic reservoir sampling cannot have)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import types as T

from hummingbird_spark.operators.dsir import stratified_reservoir

SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("source", T.StringType()),
    T.StructField("w", T.LongType()),
])

ROWS = [(i, f"s{i % 4}", 1 + (i * 13) % 50 + (9000 if i % 37 == 0 else 0))
        for i in range(400)]


def test_partition_invariant_and_contracts(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    base = [(r.source, r.doc_id, r.rk)
            for r in stratified_reservoir(df, "source", 6, "w")
            .orderBy("source", "rk").collect()]
    for parts in (1, 7, 32):
        got = [(r.source, r.doc_id, r.rk)
               for r in stratified_reservoir(df.repartition(parts),
                                             "source", 6, "w")
               .orderBy("source", "rk").collect()]
        assert got == base
    # contracts: 6 per stratum, no duplicate ids, ranks 1..6
    per = {}
    seen = set()
    for src, doc, rk in base:
        per.setdefault(src, []).append(rk)
        assert doc not in seen
        seen.add(doc)
    assert all(sorted(v) == [1, 2, 3, 4, 5, 6] for v in per.values())


def test_weighting_favors_heavy_items(spark):
    # 4 strata x ~3 huge-weight items each (w ~ 9000 vs <= 50):
    # E-S keys put nearly all of them in a k=6 sample
    df = spark.createDataFrame(ROWS, SCHEMA)
    got = stratified_reservoir(df, "source", 6, "w").collect()
    heavy_sampled = sum(1 for r in got if r.w > 8000)
    heavy_total = sum(1 for _, _, w in ROWS if w > 8000)
    assert heavy_sampled >= heavy_total - 1


def test_seed_changes_sample(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    a = {r.doc_id for r in stratified_reservoir(df, "source", 6, "w",
                                                seed="a").collect()}
    b = {r.doc_id for r in stratified_reservoir(df, "source", 6, "w",
                                                seed="b").collect()}
    assert a != b


def test_streaming_equals_batch_and_replay(spark, tmp_path):
    from hummingbird_spark.streaming.reservoir import (
        read_reservoir,
        start_continuous_reservoir,
    )

    src = str(tmp_path / "in")
    store = str(tmp_path / "rsv")
    os.makedirs(src)
    for b in range(4):
        with open(os.path.join(src, f"{b}.json"), "w") as fh:
            for doc_id, source, w in ROWS[b * 100:(b + 1) * 100]:
                fh.write(json.dumps(
                    {"doc_id": doc_id, "source": source, "w": w}) + "\n")

    q = start_continuous_reservoir(spark, src, store, SCHEMA,
                                   "source", 6, weight_col="w")
    q.awaitTermination(180)

    batch = {(r.source, r.doc_id)
             for r in stratified_reservoir(
                 spark.createDataFrame(ROWS, SCHEMA),
                 "source", 6, "w").collect()}
    streamed = {(r.source, r.doc_id)
                for r in read_reservoir(spark, store).collect()}
    assert streamed == batch  # EXACT equivalence, not statistical

    q = start_continuous_reservoir(spark, src, store, SCHEMA,
                                   "source", 6, weight_col="w")
    q.awaitTermination(180)
    again = {(r.source, r.doc_id)
             for r in read_reservoir(spark, store).collect()}
    assert again == batch  # ledger: replay is a no-op


def test_cutoff_path_equals_window_and_invariant(spark):
    # hot stratum: 90% of rows in one source — the regime the cutoff
    # exists for; the sample must be IDENTICAL to the window path and
    # partition-invariant (the cutoff derives from exact aggregates)
    rows = [(i, "hot" if i % 10 else "rare", 1 + (i * 13) % 50)
            for i in range(4000)]
    df = spark.createDataFrame(rows, SCHEMA)
    base = sorted((r.source, r.doc_id, r.rk)
                  for r in stratified_reservoir(df, "source", 6, "w")
                  .collect())
    for parts in (1, 7, 32):
        got = sorted(
            (r.source, r.doc_id, r.rk)
            for r in stratified_reservoir(
                df.repartition(parts), "source", 6, "w",
                method="cutoff").collect())
        assert got == base


def test_merge_double_apply_is_noop(spark, tmp_path):
    """The crash-window semantics fix: a batch re-applied WITHOUT the
    ledger's protection (batch_id=None twice) leaves the reservoir
    byte-identical — duplicate (strata, id) rows collapse before the
    top-k window because the E-S key is a pure function of the row."""
    from pyspark.sql import functions as F

    from hummingbird_spark.operators.dsir import aes_key
    from hummingbird_spark.streaming.reservoir import (
        merge_reservoir_batch,
        read_reservoir,
    )

    store = str(tmp_path / "rsv")
    batch = spark.createDataFrame(
        [(i, f"s{i % 2}", 1.0 + i % 5) for i in range(40)],
        "doc_id long, source string, w double",
    ).select(
        "source", "doc_id", "w",
        aes_key(F.col("doc_id"), F.col("w"), "t").alias("__key"))

    merge_reservoir_batch(spark, batch, store, "source", "doc_id", 5)
    once = sorted(tuple(r) for r in read_reservoir(spark, store)
                  .collect())
    # simulate the replayed batch landing after the data-dir rename
    # but before any ledger write
    merge_reservoir_batch(spark, batch, store, "source", "doc_id", 5)
    twice = sorted(tuple(r) for r in read_reservoir(spark, store)
                   .collect())
    assert twice == once
    per = {}
    for r in twice:
        per[r[0]] = per.get(r[0], 0) + 1
    assert per == {"s0": 5, "s1": 5}


def test_merge_crash_after_commit_keeps_store(spark, tmp_path,
                                              monkeypatch):
    """Kill a store merge right after the live reservoir is moved aside
    (with rmtree-then-rename it would be gone, and the replay would
    rebuild the reservoir from its own batch alone): the replay
    recovers the store first and converges to the clean run."""
    from pyspark.sql import functions as F

    from hummingbird_spark.operators.dsir import aes_key
    from hummingbird_spark.streaming.reservoir import (
        merge_reservoir_batch,
        read_reservoir,
    )
    from tests.conftest import InjectedCrash, crash_publish

    def batch(lo, hi):
        return spark.createDataFrame(
            [(i, f"s{i % 2}", 1.0 + i % 5) for i in range(lo, hi)],
            "doc_id long, source string, w double",
        ).select("source", "doc_id", "w",
                 aes_key(F.col("doc_id"), F.col("w"), "t").alias("__key"))

    def state(store):
        return sorted(tuple(r) for r in read_reservoir(spark, store)
                      .collect())

    ref, store = str(tmp_path / "ref"), str(tmp_path / "rsv")
    for path in (ref, store):
        merge_reservoir_batch(spark, batch(0, 40), path, "source",
                              "doc_id", 5, batch_id=0)
    merge_reservoir_batch(spark, batch(40, 80), ref, "source", "doc_id",
                          5, batch_id=1)

    crash_publish(monkeypatch, after_commit=True, under=store)
    with pytest.raises(InjectedCrash):
        merge_reservoir_batch(spark, batch(40, 80), store, "source",
                              "doc_id", 5, batch_id=1)
    monkeypatch.undo()
    merge_reservoir_batch(spark, batch(40, 80), store, "source",
                          "doc_id", 5, batch_id=1)
    assert state(store) == state(ref)
    assert [d for d in os.listdir(tmp_path) if ".__" in d] == []


def test_rearrival_with_changed_weight_is_deterministic(spark, tmp_path):
    """The same id re-arriving in a later batch with a DIFFERENT
    weight must resolve identically on every run and partitioning:
    the merge keeps the max-__key row per (strata, id), so the
    survivor is a pure function of the data, never of partition
    order (the old dropDuplicates kept an arbitrary one)."""
    from pyspark.sql import functions as F

    from hummingbird_spark.operators.dsir import aes_key
    from hummingbird_spark.streaming.reservoir import (
        merge_reservoir_batch,
        read_reservoir,
    )

    def keyed(rows, parts):
        return spark.createDataFrame(
            rows, "doc_id long, source string, w double",
        ).repartition(parts).select(
            "source", "doc_id", "w",
            aes_key(F.col("doc_id"), F.col("w"), "t").alias("__key"))

    batch_a = [(i, f"s{i % 2}", 1.0 + i % 5) for i in range(40)]
    # every id re-arrives with a different weight (so a different
    # __key); expected survivor = the max-__key version of each id
    batch_b = [(i, f"s{i % 2}", 2.0 + (i * 7) % 9) for i in range(40)]

    states = []
    for parts in (1, 7, 32):
        store = str(tmp_path / f"rsv{parts}")
        merge_reservoir_batch(spark, keyed(batch_a, parts), store,
                              "source", "doc_id", 5)
        merge_reservoir_batch(spark, keyed(batch_b, parts), store,
                              "source", "doc_id", 5)
        states.append(sorted(
            (r["source"], r["doc_id"], r["w"], r["__key"])
            for r in read_reservoir(spark, store).collect()))
    assert states[0] == states[1] == states[2]
    # the surviving weight for any sampled id is the max-__key one
    both = {}
    for rows in (batch_a, batch_b):
        for i, s, w in rows:
            k = keyed([(i, s, w)], 1).collect()[0]["__key"]
            if (s, i) not in both or k > both[(s, i)][1]:
                both[(s, i)] = (w, k)
    for s, i, w, k in states[0]:
        assert (w, k) == both[(s, i)]
