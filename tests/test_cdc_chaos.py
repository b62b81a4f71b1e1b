"""CDC sink crash-window chaos tests (VERDICT r4 #5): kill the apply
inside its publish, restart, and prove the target converges to the
clean-run state with no double-apply — the reference's resume guarantee
(workspace.go:276-309 + resume.go:13-82) transplanted to the parquet
sink.

Each sink (flat, and bucketed with num_buckets=8) is killed once before
the commit point and once after it, through commit.py's file-system
seam (tests/conftest.py::crash_publish). That every other kill point
recovers to exactly the pre- or the post-publish state is proven once,
for whole-directory and partition publishes, by tests/test_commit.py;
these tests check the sink on top of that: the replayed batch converges
from either state. Recovery runs on entry to both apply variants, so
"restart" is simply the next apply (or the checkpoint-replayed batch in
the streaming test).
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import types as T

from hummingbird_spark.streaming.cdc import (
    OPLOG_SCHEMA,
    apply_cdc_batch,
    apply_cdc_batch_bucketed,
    decode_write_models,
    read_cdc_target,
    reduce_write_models,
    start_cdc_stream,
)
from tests.conftest import InjectedCrash, crash_publish

TARGET_SCHEMA = T.StructType([
    T.StructField("_id", T.LongType()),
    T.StructField("x", T.StringType()),
    T.StructField("n", T.LongType()),
])

T0 = dt.datetime(2024, 1, 1)


def _ev(seq, op, o, o2=None, ns="db.c", ts=None):
    return (
        ts or (T0 + dt.timedelta(seconds=seq)),
        seq,
        ns,
        op,
        json.dumps(o) if isinstance(o, dict) else o,
        json.dumps(o2) if isinstance(o2, dict) else o2,
    )


# inserts, updates, a delete, a patch — touches several buckets at
# num_buckets=8 so the bucketed publish replaces several partitions
BATCH = [
    _ev(1, "i", {"_id": 10, "x": "ten", "n": 100}),
    _ev(2, "u", {"$set": {"x": "TWO"}}, {"_id": 2}),
    _ev(3, "d", {"_id": 3}),
    _ev(4, "u", {"$unset": {"n": 1}}, {"_id": 4}),
    _ev(5, "i", {"_id": 11, "x": "eleven", "n": 110}),
    _ev(6, "u", {"_id": 5, "x": "five!", "n": 55}, {"_id": 5}),
]

SEED = [(i, f"v{i}", i * 10) for i in range(1, 6)]

# the clean run of BATCH over SEED
WANT = sorted([
    (1, "v1", 10), (2, "TWO", 20), (4, "v4", None),
    (5, "five!", 55), (10, "ten", 100), (11, "eleven", 110),
])


def _models(spark, rows):
    return reduce_write_models(
        decode_write_models(spark.createDataFrame(rows, OPLOG_SCHEMA)))


def _seed_flat(spark, path):
    spark.createDataFrame(SEED, TARGET_SCHEMA).write.parquet(path)


def _seed_bucketed(spark, path, num_buckets):
    seed_rows = [_ev(i, "i", {"_id": _id, "x": x, "n": n})
                 for i, (_id, x, n) in enumerate(SEED)]
    apply_cdc_batch_bucketed(
        spark, _models(spark, seed_rows), path, "_id", TARGET_SCHEMA,
        num_buckets=num_buckets)


def _state(spark, path):
    df = read_cdc_target(spark, path, TARGET_SCHEMA)
    return sorted(tuple(r) for r in
                  df.select("_id", "x", "n").collect())


def _leftovers(path):
    return [d for d in os.listdir(os.path.dirname(path))
            if d.startswith(os.path.basename(path) + ".")]


@pytest.mark.parametrize("after_commit", [False, True],
                         ids=["before_commit", "after_commit"])
@pytest.mark.parametrize("num_buckets", [None, 8], ids=["flat", "bucketed"])
def test_swap_crash_then_replay_converges(spark, tmp_path, monkeypatch,
                                          num_buckets, after_commit):
    """Kill the batch's publish before its commit point (the target
    keeps its pre-batch state) or after it (the first live item is
    moved aside: the flat target, or one touched bucket, is missing
    until recovery rolls forward), then 'restart' by re-applying the
    same batch. Both must converge to the clean state and leave no
    sibling behind."""
    path = str(tmp_path / "t")
    if num_buckets:
        _seed_bucketed(spark, path, num_buckets)
    else:
        _seed_flat(spark, path)
    models = _models(spark, BATCH).cache()

    def apply():
        if num_buckets:
            apply_cdc_batch_bucketed(spark, models, path, "_id",
                                     TARGET_SCHEMA, num_buckets=num_buckets)
        else:
            apply_cdc_batch(spark, models, path, "_id", TARGET_SCHEMA)

    fired = crash_publish(monkeypatch, after_commit)
    with pytest.raises(InjectedCrash):
        apply()
    assert fired

    # checkpoint-replay equivalent: the same reduced batch re-applies
    apply()
    assert _state(spark, path) == WANT
    assert _leftovers(path) == []
    models.unpersist()


def _write_oplog_file(oplog_dir, name, rows):
    with open(os.path.join(oplog_dir, name), "w") as f:
        for r in rows:
            f.write(json.dumps({
                "ts": r[0].isoformat(), "seq": r[1], "ns": r[2],
                "op": r[3], "o": r[4], "o2": r[5],
            }) + "\n")


@pytest.mark.parametrize("num_buckets", [None, 8])
def test_stream_crash_mid_swap_restarts_from_checkpoint(
        spark, tmp_path, monkeypatch, num_buckets):
    """End-to-end streaming version: batch 0 seeds the target
    cleanly, batch 1's publish crashes right after its commit point
    (the merge path with a real swap window, not the seed write),
    the query dies, and a RESTART from the same checkpoint replays the
    batch and converges — the reference's resume guarantee driven
    through the real foreachBatch + checkpoint machinery."""
    oplog_dir = str(tmp_path / "oplogs")
    target_root = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(oplog_dir)
    os.makedirs(target_root)
    schemas = {"db.c": TARGET_SCHEMA}

    def run_stream():
        return start_cdc_stream(spark, oplog_dir, target_root, schemas,
                                key="_id", checkpoint=ckpt,
                                num_buckets=num_buckets)

    # batch 0: seed inserts, applied cleanly
    _write_oplog_file(oplog_dir, "b0.json", [
        _ev(i, "i", {"_id": _id, "x": x, "n": n})
        for i, (_id, x, n) in enumerate(SEED)
    ])
    run_stream().awaitTermination()

    # batch 1: the mutation batch, crashed inside its publish
    _write_oplog_file(oplog_dir, "b1.json", BATCH)
    crash_publish(monkeypatch, after_commit=True)
    q = run_stream()
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination()
    monkeypatch.undo()

    # restart from the same checkpoint: batch 1 replays and converges
    run_stream().awaitTermination()

    assert _state(spark, os.path.join(target_root, "c.parquet")) == WANT
