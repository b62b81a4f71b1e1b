"""Compaction maintenance pass (operators/compact.py): the small-file
hygiene step for the bucketed CDC sink and any append-heavy target."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hummingbird_spark.commit import publish, read_published
from hummingbird_spark.operators.compact import (
    compact_table,
    parquet_file_count,
)
from hummingbird_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE, InjectedCrash, crash_publish


def test_compact_flat_table(spark, tmp_path):
    target = str(tmp_path / "t")
    # simulate many tiny appends: 24 single-file writes
    li = load_table(spark, SF_SMOKE, "lineitem").limit(240)
    rows = li.count()
    for i in range(24):
        (li.filter(F.pmod("l_orderkey", F.lit(24)) == i)
         .coalesce(1).write.mode("append").parquet(target))
    assert parquet_file_count(spark, target) >= 20

    report = compact_table(spark, target)
    assert report["files_after"] == 1  # tiny table -> one file
    assert report["rows"] == rows
    assert spark.read.parquet(target).count() == rows


def test_compact_preserves_partition_layout(spark, tmp_path):
    target = str(tmp_path / "p")
    d = (load_table(spark, SF_SMOKE, "orders")
         .withColumn("__bucket", F.pmod(F.xxhash64("o_orderkey"), F.lit(4))))
    # 3 appends x 4 buckets -> >= 12 files
    for _ in range(3):
        (d.repartition(2).write.mode("append")
         .partitionBy("__bucket").parquet(target))
    rows = spark.read.parquet(target).count()
    before = parquet_file_count(spark, target)
    assert before >= 12

    report = compact_table(spark, target, partition_cols=["__bucket"])
    assert report["files_after"] == 4  # one file per bucket dir
    assert report["rows"] == rows
    back = spark.read.parquet(target)
    assert back.count() == rows
    assert sorted(r.__getitem__("__bucket") for r in
                  back.select("__bucket").distinct().collect()) == [0, 1, 2, 3]


def test_compact_failure_leaves_live_table(spark, tmp_path, monkeypatch):
    """A rewrite whose verification fails must raise, delete its stage,
    and leave the live table byte-for-byte readable."""
    import glob
    import shutil

    import hummingbird_spark.operators.compact as mod

    target = str(tmp_path / "f")
    load_table(spark, SF_SMOKE, "nation").write.parquet(target)
    rows = spark.read.parquet(target).count()

    def bad_rewrite(spark, path, write, **kw):
        def duplicating(stage):  # a rewrite that gains rows
            write(stage)
            part = sorted(glob.glob(os.path.join(stage, "part-*")))[0]
            shutil.copy(part, part.replace("part-", "part-dup-"))
        return publish(spark, path, duplicating, **kw)

    monkeypatch.setattr(mod, "publish", bad_rewrite)
    with pytest.raises(RuntimeError, match="row-count mismatch"):
        compact_table(spark, target)

    assert spark.read.parquet(target).count() == rows
    assert os.listdir(tmp_path) == ["f"]


def test_bucketed_cdc_then_compact_lifecycle(spark, tmp_path):
    """Full maintenance lifecycle: bucketed CDC merge accumulates files
    per bucket across micro-batches; compaction collapses each bucket
    dir to one file WITHOUT changing the converged state, and the
    bucketed merge keeps working against the compacted layout."""
    from hummingbird_spark.streaming.cdc import start_cdc_stream
    from tests.test_migration_lifecycle import SCHEMA, _write_oplog

    tgt = str(tmp_path / "tgt")
    oplog = str(tmp_path / "oplog")
    ckpt = str(tmp_path / "ckpt")

    _write_oplog(oplog, "b1.json",
                 [(i, "i", {"_id": i, "color": "Red", "qty": i}, None)
                  for i in range(40)])
    _write_oplog(oplog, "b2.json",
                 [(100 + i, "u", {"$set": {"qty": 7}}, {"_id": i})
                  for i in range(10)])
    q = start_cdc_stream(spark, oplog, tgt, {"shop.items": SCHEMA},
                         includes=["shop.*"], key="_id", checkpoint=ckpt,
                         num_buckets=4)
    q.awaitTermination(120)

    table = f"{tgt}/items.parquet"
    before = parquet_file_count(spark, table)
    state = sorted(tuple(r) for r in spark.read.parquet(table)
                   .select("_id", "color", "qty").collect())
    assert len(state) == 40

    report = compact_table(spark, table, partition_cols=["__bucket"])
    assert report["files_after"] == 4 <= before
    after = sorted(tuple(r) for r in spark.read.parquet(table)
                   .select("_id", "color", "qty").collect())
    assert after == state

    # stream continues against the compacted layout
    _write_oplog(oplog, "b3.json", [(200, "d", {"_id": 0}, None)])
    q2 = start_cdc_stream(spark, oplog, tgt, {"shop.items": SCHEMA},
                          includes=["shop.*"], key="_id", checkpoint=ckpt,
                          num_buckets=4)
    q2.awaitTermination(120)
    assert spark.read.parquet(table).count() == 39


def test_compact_swap_crash_windows_heal(spark, tmp_path, monkeypatch):
    """Chaos over the compaction publish: killed before its commit
    point or right after it (live table moved aside), the next
    compact_table call recovers a readable, content-identical live
    table and leaves no sibling behind."""
    import shutil

    src = str(tmp_path / "t")
    for after_commit in (False, True):
        spark.range(100).selectExpr("id", "id * 2 AS v") \
            .repartition(8).write.parquet(src)
        want = sorted(tuple(r) for r in spark.read.parquet(src).collect())
        crash_publish(monkeypatch, after_commit)
        with pytest.raises(InjectedCrash):
            compact_table(spark, src)
        monkeypatch.undo()
        report = compact_table(spark, src)
        assert report["rows"] == 100, after_commit
        got = sorted(tuple(r) for r in spark.read.parquet(src)
                     .select("id", "v").collect())
        assert got == want, after_commit
        assert os.listdir(tmp_path) == ["t"]
        shutil.rmtree(src)


def test_compact_keeps_a_column_only_one_bucket_carries(spark, tmp_path):
    """An evolved column lands only in the touched bucket's files; the
    other buckets keep the narrower footers. Compaction reads by the
    table's schema record, so the column and its value survive, and
    the rewrite keeps the record."""
    from hummingbird_spark.streaming.cdc import (
        apply_cdc_batch_bucketed, decode_write_models, reduce_write_models,
    )
    from tests.test_cdc import TARGET_SCHEMA, _ev, _oplog_df

    path = str(tmp_path / "bt.parquet")

    def batch(rows):
        apply_cdc_batch_bucketed(
            spark, reduce_write_models(decode_write_models(
                _oplog_df(spark, rows))),
            path, "_id", TARGET_SCHEMA, num_buckets=4, evolve=True)

    batch([_ev(i, "i", {"_id": i, "x": f"x{i}", "n": i})
           for i in range(1, 9)])
    # _id 2 hashes to __bucket=1; __bucket=0 holds _ids 1 and 8
    batch([_ev(100, "u", {"$set": {"grade": "A"}}, {"_id": 2})])

    compact_table(spark, path, partition_cols=["__bucket"])
    got = {r._id: r for r in
           read_published(spark, path).drop("__bucket").collect()}
    assert set(got) == set(range(1, 9))
    assert got[2].grade == "A"
    assert all(got[i].grade is None for i in got if i != 2)
    assert os.path.exists(os.path.join(path, "_schema.json"))


def test_compact_of_an_append_store_adds_no_schema_record(spark, tmp_path):
    """A table its writers append to with Spark's own append mode has no
    schema record, and compaction adds none: a record would not describe
    the next appended files, and the next compaction would read by it
    and drop a column only those files carry."""
    from hummingbird_spark.commit import recorded_schema

    store = str(tmp_path / "store")
    for k in (1, 2):
        spark.createDataFrame([(k, "a")], "k long, v string") \
            .write.mode("append").parquet(store)
    compact_table(spark, store)
    assert recorded_schema(spark, store) is None
    spark.createDataFrame([(3, "c", 9)], "k long, v string, w long") \
        .write.mode("append").parquet(store)
    compact_table(spark, store)
    back = spark.read.option("mergeSchema", "true").parquet(store)
    assert sorted((r.k, r.w) for r in back.collect()) == [
        (1, None), (2, None), (3, 9)]
