"""The reference's primary end-to-end scenario (SURVEY §3.1, start.go):
CDC capture starts BEFORE the backfill copy; after the copy completes,
the stream replays everything captured during the copy window and the
target converges to the live source state. This is the Spark analogue of
oplog_streamer_test.go + start_test.go.

Timeline simulated here:
  t0: source snapshot exists (the 'cluster' being migrated)
  t1: oplog capture begins (events accumulate in the oplog dir)
  t2: backfill copies the t0 snapshot (while more events arrive)
  t3: stream applies all captured events (catch-up) -> convergence
  t4: more live events -> restart stream from checkpoint -> still
      converged (the live-tail phase)
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import replace

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hummingbird_spark.config import Include, MigrationConfig
from hummingbird_spark.operators.compare import compare_migration
from hummingbird_spark.operators.copy import run_migration
from hummingbird_spark.streaming.cdc import start_cdc_stream
from tests.conftest import InjectedCrash, crash_publish

SCHEMA = T.StructType([
    T.StructField("_id", T.LongType()),
    T.StructField("color", T.StringType()),
    T.StructField("qty", T.LongType()),
])

T0 = dt.datetime(2024, 6, 1)


def _write_oplog(path, name, events):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for seq, op, o, o2 in events:
            f.write(json.dumps({
                "ts": (T0 + dt.timedelta(seconds=seq)).strftime(
                    "%Y-%m-%dT%H:%M:%S.000Z"),
                "seq": seq, "ns": "shop.items", "op": op,
                "o": json.dumps(o), "o2": json.dumps(o2) if o2 else None,
            }) + "\n")


def test_full_migration_with_concurrent_cdc(spark, tmp_path):
    src_dir = str(tmp_path / "source")
    tgt_dir = str(tmp_path / "target")
    oplog_dir = str(tmp_path / "oplog")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src_dir)
    os.makedirs(tgt_dir)

    # t0: snapshot — 50 rows
    snapshot = [(i, ["Red", "Green", "Blue"][i % 3], i * 10)
                for i in range(50)]
    spark.createDataFrame(snapshot, SCHEMA).write.parquet(
        f"{src_dir}/items.parquet"
    )

    # t1: capture begins; mutations arrive while backfill runs:
    # update 5 rows, delete 3, insert 4 new
    during_copy = (
        [(100 + i, "u", {"$set": {"qty": 9999}}, {"_id": i})
         for i in range(5)]
        + [(200 + i, "d", {"_id": 10 + i}, None) for i in range(3)]
        + [(300 + i, "i", {"_id": 1000 + i, "color": "New", "qty": i}, None)
           for i in range(4)]
    )
    _write_oplog(oplog_dir, "during_copy.json", during_copy)

    # t2: backfill the t0 snapshot (quickstart-style config)
    cfg = MigrationConfig(
        command="data-only", source=src_dir, target=tgt_dir,
        includes=[Include(namespace="items")], key="_id", drop=True,
    )
    report = run_migration(spark, cfg)
    assert report.total_rows == 50

    # t3: catch-up replay of everything captured during the copy
    q = start_cdc_stream(spark, oplog_dir, tgt_dir,
                         {"shop.items": SCHEMA}, includes=["shop.*"],
                         key="_id", checkpoint=ckpt)
    q.awaitTermination(120)

    # expected live state: apply the same mutations to the snapshot
    live = {i: [i, ["Red", "Green", "Blue"][i % 3], i * 10]
            for i in range(50)}
    for i in range(5):
        live[i][2] = 9999
    for i in range(3):
        del live[10 + i]
    for i in range(4):
        live[1000 + i] = [1000 + i, "New", i]
    expected = spark.createDataFrame(
        [tuple(v) for v in live.values()], SCHEMA
    )
    target = spark.read.parquet(f"{tgt_dir}/items.parquet")
    # converged after catch-up: equal as multisets
    assert expected.exceptAll(target).count() == 0
    assert target.exceptAll(expected).count() == 0

    # t4: live tail — new events, restart from checkpoint
    _write_oplog(oplog_dir, "live.json", [
        (400, "u", {"$v": 2, "diff": {"u": {"color": "Live"}}}, {"_id": 0}),
        (401, "d", {"_id": 1000}, None),
    ])
    q2 = start_cdc_stream(spark, oplog_dir, tgt_dir,
                          {"shop.items": SCHEMA}, includes=["shop.*"],
                          key="_id", checkpoint=ckpt)
    q2.awaitTermination(120)
    target2 = {r._id: r for r in
               spark.read.parquet(f"{tgt_dir}/items.parquet").collect()}
    assert target2[0].color == "Live" and target2[0].qty == 9999
    assert 1000 not in target2
    assert len(target2) == len(live) - 1


def test_migration_then_compare_detects_divergence(spark, tmp_path):
    """V1 as the post-migration gate: tamper with the target, compare
    must flag it (compare.go:13-31 behavior)."""
    src_dir, tgt_dir = str(tmp_path / "s"), str(tmp_path / "t")
    os.makedirs(src_dir)
    spark.createDataFrame([(i, "c", i) for i in range(20)], SCHEMA) \
        .write.parquet(f"{src_dir}/items.parquet")
    cfg = MigrationConfig(command="data-only", source=src_dir,
                          target=tgt_dir,
                          includes=[Include(namespace="items")],
                          key="_id", drop=True)
    run_migration(spark, cfg)
    assert compare_migration(spark, cfg)[0].equal

    tampered_dir = str(tmp_path / "tampered")
    spark.read.parquet(f"{tgt_dir}/items.parquet").withColumn(
        "qty", F.when(F.col("_id") == 7, 42).otherwise(F.col("qty"))
    ).write.parquet(f"{tampered_dir}/items.parquet")
    res = compare_migration(spark, replace(cfg, target=tampered_dir))[0]
    assert not res.equal
    assert res.missing_in_target == 1 and res.extra_in_target == 1


def test_resume_recopies_exactly_the_killed_copy(spark, tmp_path,
                                                 monkeypatch):
    """A `start --drop` killed inside the last table's publish, before
    its commit point: the tables copied before it stand, the killed one
    is absent (dropped first, never published), so `resume` recopies
    exactly it, from the source as it is now, and skips the others."""
    src_dir, tgt_dir = str(tmp_path / "s"), str(tmp_path / "t")
    names = ("a", "b", "c")

    def write_sources(qty):
        for name in names:
            spark.createDataFrame([(i, name, i * qty) for i in range(20)],
                                  SCHEMA).write.mode("overwrite").parquet(
                f"{src_dir}/{name}.parquet")

    write_sources(1)
    cfg = MigrationConfig(command="data-only", source=src_dir,
                          target=tgt_dir, key="_id", drop=True,
                          includes=[Include(namespace=n) for n in names])
    run_migration(spark, cfg)
    write_sources(2)  # a table the killed run leaves stale would differ
    fired = crash_publish(monkeypatch, after_commit=False,
                          under=f"{tgt_dir}/c.parquet")
    with pytest.raises(InjectedCrash):
        run_migration(spark, cfg)
    assert fired
    report = run_migration(spark, cfg, resume=True)
    assert [(r.namespace, r.skipped, r.rows_copied)
            for r in report.results] == [
        ("a", True, 0), ("b", True, 0), ("c", False, 20)]
    assert [(r.namespace, r.equal) for r in compare_migration(spark, cfg)
            ] == [("a", True), ("b", True), ("c", True)]
    assert sorted(os.listdir(tgt_dir)) == [f"{n}.parquet" for n in names]


class _Killed(Exception):
    pass


def test_every_kill_of_a_top_up_recovers(spark, tmp_path, monkeypatch):
    """A top-up killed at each file-system step it takes (every call
    through commit._mutate, the process dead from then on), then
    recovered: the target holds its old rows or its old rows plus the
    delta, its schema record is present and is the schema a mergeSchema
    read of its files gives, and nothing is left beside it."""
    import shutil

    from hummingbird_spark import commit
    from hummingbird_spark.operators.copy import copy_table

    src = str(tmp_path / "src")
    spark.createDataFrame([(k, "a") for k in range(5)],
                          "_id long, tag string").write.parquet(
        f"{src}/c.parquet")
    clean = str(tmp_path / "clean")
    inc = Include(namespace="c")

    def cfg(target):
        return MigrationConfig(command="data-only", source=src,
                               target=target, key="_id", includes=[inc])

    copy_table(spark, cfg(clean), inc)
    spark.createDataFrame([(k, "b", k * 1.5) for k in range(10)],
                          "_id long, tag string, extra double").write.mode(
        "overwrite").parquet(f"{src}/c.parquet")
    old = {(k, "a") for k in range(5)}
    new = ({(k, "a", None) for k in range(5)}
           | {(k, "b", k * 1.5) for k in range(5, 10)})

    real, outcomes = commit._mutate, []
    for n in range(1, 40):
        root = str(tmp_path / f"k{n}")
        shutil.copytree(clean, root)
        path = f"{root}/c.parquet"
        calls = [0]

        def seam(fs, op, *args):
            calls[0] += 1
            if calls[0] >= n:
                raise _Killed()
            return real(fs, op, *args)

        monkeypatch.setattr(commit, "_mutate", seam)
        try:
            copy_table(spark, cfg(root), inc)
            killed = False
        except _Killed:
            killed = True
        finally:
            monkeypatch.setattr(commit, "_mutate", real)
        commit.recover(spark, path)
        got = {tuple(r) for r in commit.read_published(spark, path).collect()}
        assert got in (old, new), f"kill at mutation {n}"
        assert commit.recorded_schema(spark, path) == spark.read.option(
            "mergeSchema", "true").parquet(path).schema, n
        assert os.listdir(root) == ["c.parquet"], n
        if not killed:
            assert got == new
            break
        outcomes.append(got == new)
    # one commit point: kills before it roll back, kills after it forward
    assert outcomes == sorted(outcomes)
    assert False in outcomes and True in outcomes
