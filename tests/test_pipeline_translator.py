"""Mongo aggregation-pipeline translator (pipeline.py): the reference's
own pipelines (workspace.go:214-256, sim.go:244-247) plus the stage
surface, checked against hand-written DataFrame results."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hummingbird_spark.pipeline import mongo_pipeline_to_df
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def orders(spark):
    return spark.read.parquet(f"{SF_SMOKE}/orders.parquet")


def test_status_count_pipeline(spark, orders):
    """The A1 rollup verbatim: [{$sort: {status: 1}},
    {$group: {_id: "$status", count: {$sum: 1}}}]."""
    out = mongo_pipeline_to_df(orders, [
        {"$sort": {"o_orderstatus": 1}},
        {"$group": {"_id": "$o_orderstatus", "count": {"$sum": 1}}},
    ])
    got = {r._id: r["count"] for r in out.collect()}
    want = {r.o_orderstatus: r["count"] for r in
            orders.groupBy("o_orderstatus").count().collect()}
    assert got == want


def test_match_group_sum_avg(spark, orders):
    out = mongo_pipeline_to_df(orders, [
        {"$match": {"o_orderstatus": "F",
                    "o_totalprice": {"$gt": 1000}}},
        {"$group": {"_id": "$o_orderpriority",
                    "total": {"$sum": "$o_totalprice"},
                    "mean": {"$avg": "$o_totalprice"},
                    "n": {"$sum": 1}}},
        {"$sort": {"_id": 1}},
    ])
    want = (
        orders.filter((F.col("o_orderstatus") == "F")
                      & (F.col("o_totalprice") > 1000))
        .groupBy(F.col("o_orderpriority").alias("_id"))
        .agg(F.sum("o_totalprice").alias("total"),
             F.avg("o_totalprice").alias("mean"),
             F.count(F.lit(1)).alias("n"))
        .orderBy("_id")
    )
    assert [tuple(r) for r in out.collect()] == \
        [tuple(r) for r in want.collect()]


def test_project_skip_limit(spark, orders):
    out = mongo_pipeline_to_df(orders, [
        {"$sort": {"o_orderkey": 1}},
        {"$project": {"o_orderkey": 1, "price": "$o_totalprice"}},
        {"$skip": 5},
        {"$limit": 3},
    ])
    rows = out.collect()
    assert out.columns == ["o_orderkey", "price"]
    want = [r.o_orderkey for r in
            orders.orderBy("o_orderkey").limit(8).collect()][5:]
    assert [r.o_orderkey for r in rows] == want


def test_exclusion_project(spark, orders):
    out = mongo_pipeline_to_df(orders, [
        {"$project": {"o_comment": 0}},
    ])
    assert "o_comment" not in out.columns
    assert "o_orderkey" in out.columns


def test_count_stage(spark, orders):
    out = mongo_pipeline_to_df(orders, [
        {"$match": {"o_orderstatus": "O"}},
        {"$count": "n_open"},
    ])
    assert out.columns == ["n_open"]
    assert out.collect()[0].n_open == \
        orders.filter(F.col("o_orderstatus") == "O").count()


def test_unwind_and_compound_group(spark):
    df = spark.createDataFrame(
        [("a", [1, 2, 2]), ("b", [3]), ("c", [])],
        "k string, xs array<int>",
    )
    out = mongo_pipeline_to_df(df, [
        {"$unwind": "$xs"},
        {"$group": {"_id": {"key": "$k", "x": "$xs"},
                    "n": {"$sum": 1}}},
    ])
    got = {(r._id.key, r._id.x): r.n for r in out.collect()}
    assert got == {("a", 1): 1, ("a", 2): 2, ("b", 3): 1}
    # preserveNullAndEmptyArrays keeps 'c'
    kept = mongo_pipeline_to_df(df, [
        {"$unwind": {"path": "$xs", "preserveNullAndEmptyArrays": True}},
    ])
    assert kept.filter(F.col("k") == "c").count() == 1


def test_unwind_include_array_index(spark):
    df = spark.createDataFrame(
        [("a", [7, 8]), ("b", []), ("c", None)], "k string, xs array<int>")
    out = mongo_pipeline_to_df(df, [
        {"$unwind": {"path": "$xs", "includeArrayIndex": "i",
                     "preserveNullAndEmptyArrays": True}},
    ])
    got = {(r.k, r.i, r.xs) for r in out.collect()}
    assert got == {("a", 0, 7), ("a", 1, 8),
                   ("b", None, None), ("c", None, None)}


def test_global_group_and_addfields(spark, orders):
    out = mongo_pipeline_to_df(orders, [
        {"$addFields": {"double_price": "$o_totalprice"}},
        {"$group": {"_id": None,
                    "mx": {"$max": "$double_price"},
                    "mn": {"$min": "$o_totalprice"}}},
    ])
    r = out.collect()[0]
    agg = orders.agg(F.max("o_totalprice"), F.min("o_totalprice")).collect()[0]
    assert (r.mx, r.mn) == (agg[0], agg[1])


def test_sample_pipeline(spark, orders):
    """A5 shape: sample then group — size respected, deterministic
    under the fixed seed (declared deviation: Mongo's $sample is
    nondeterministic)."""
    out1 = mongo_pipeline_to_df(orders, [
        {"$sample": {"size": 100}},
        {"$group": {"_id": "$o_orderstatus", "total": {"$sum": 1}}},
    ])
    total = sum(r.total for r in out1.collect())
    assert total == 100


def test_push_and_addtoset(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 2)], "k string, v int"
    )
    out = mongo_pipeline_to_df(df, [
        {"$group": {"_id": "$k",
                    "vals": {"$push": "$v"},
                    "uniq": {"$addToSet": "$v"}}},
    ])
    r = out.collect()[0]
    assert sorted(r.vals) == [1, 1, 2]
    assert sorted(r.uniq) == [1, 2]


def test_unsupported_stage_raises(spark, orders):
    with pytest.raises(ValueError, match="unsupported pipeline stage"):
        mongo_pipeline_to_df(orders, [{"$planCacheStats": {}}])


def test_lookup_array_semantics(spark):
    """$lookup: each left row gains an ARRAY of matching docs; no match
    yields an empty array (never NULL) — Mongo's exact contract."""
    left = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id int, k string"
    )
    foreign = spark.createDataFrame(
        [("a", 10), ("a", 11), ("b", 20)], "fk string, v int"
    )
    out = mongo_pipeline_to_df(left, [
        {"$lookup": {"from": "other", "localField": "k",
                     "foreignField": "fk", "as": "matches"}},
        {"$sort": {"id": 1}},
    ], tables={"other": foreign})
    rows = out.collect()
    assert [len(r.matches) for r in rows] == [2, 1, 0]
    assert rows[2].matches == []           # empty array, not None
    assert sorted(m.v for m in rows[0].matches) == [10, 11]
    # unwind composes: $lookup + $unwind == a plain inner/outer join
    flat = mongo_pipeline_to_df(left, [
        {"$lookup": {"from": "other", "localField": "k",
                     "foreignField": "fk", "as": "m"}},
        {"$unwind": "$m"},
    ], tables={"other": foreign})
    assert flat.count() == 3


def test_lookup_without_tables_raises(spark, orders):
    with pytest.raises(ValueError, match="lookup"):
        mongo_pipeline_to_df(orders, [
            {"$lookup": {"from": "x", "localField": "a",
                         "foreignField": "b", "as": "c"}},
        ])


def test_sortbycount(spark, orders):
    out = mongo_pipeline_to_df(orders, [{"$sortByCount": "$o_orderstatus"}])
    rows = out.collect()
    want = sorted(
        [(r.o_orderstatus, r["count"]) for r in
         orders.groupBy("o_orderstatus").count().collect()],
        key=lambda t: (-t[1], t[0]),
    )
    assert [(r._id, r["count"]) for r in rows] == want


def test_out_stage_writes_collection(spark, tmp_path):
    from hummingbird_spark.pipeline import run_pipeline

    src = spark.createDataFrame(
        [(1, "a", 5), (2, "b", 9), (3, "a", 2)], "k long, g string, v long")
    got = run_pipeline(spark, src, [
        {"$match": {"v": {"$gte": 3}}},
        {"$out": "hot"},
    ], data_dir=str(tmp_path))
    assert {r.k for r in got.collect()} == {1, 2}
    again = spark.read.parquet(str(tmp_path / "hot.parquet"))
    assert again.count() == 2


def test_out_stage_can_replace_its_own_input(spark, tmp_path):
    from hummingbird_spark.pipeline import run_pipeline

    spark.createDataFrame([(i, i * 2) for i in range(10)],
                          "k long, v long") \
        .write.parquet(str(tmp_path / "t.parquet"))
    src = spark.read.parquet(str(tmp_path / "t.parquet"))
    got = run_pipeline(spark, src, [
        {"$match": {"k": {"$lt": 4}}},
        {"$out": "t"},
    ], data_dir=str(tmp_path))
    assert got.count() == 4
    assert spark.read.parquet(str(tmp_path / "t.parquet")).count() == 4


def test_out_stage_crash_keeps_collection(spark, tmp_path, monkeypatch):
    """Kill $out right after the live collection is moved aside (with
    rmtree-then-rename it would be gone): after recovery it holds the
    old or the new rows, never nothing, and a rerun converges to the
    clean-run result."""
    from hummingbird_spark.commit import recover
    from hummingbird_spark.pipeline import run_pipeline
    from tests.conftest import InjectedCrash, crash_publish

    path = str(tmp_path / "hot.parquet")
    spark.createDataFrame([(9, "z", 1)], "k long, g string, v long") \
        .write.parquet(path)
    src = spark.createDataFrame(
        [(1, "a", 5), (2, "b", 9), (3, "a", 2)], "k long, g string, v long")
    stages = [{"$match": {"v": {"$gte": 3}}}, {"$out": "hot"}]

    crash_publish(monkeypatch, after_commit=True)
    with pytest.raises(InjectedCrash):
        run_pipeline(spark, src, stages, data_dir=str(tmp_path))
    monkeypatch.undo()
    recover(spark, path)
    assert sorted(r.k for r in spark.read.parquet(path).collect()) \
        in ([9], [1, 2])

    got = run_pipeline(spark, src, stages, data_dir=str(tmp_path))
    assert sorted(r.k for r in got.collect()) == [1, 2]
    assert [d for d in os.listdir(tmp_path) if ".__" in d] == []


def test_merge_stage_upserts(spark, tmp_path):
    from hummingbird_spark.pipeline import run_pipeline

    spark.createDataFrame(
        [(1, "old", 1), (2, "old", 2)], "_id long, tag string, v long"
    ).write.parquet(str(tmp_path / "tgt.parquet"))
    src = spark.createDataFrame(
        [(2, "new", 20), (3, "new", 30)], "_id long, tag string, v long")

    got = {r._id: r for r in run_pipeline(spark, src, [
        {"$merge": {"into": "tgt", "on": "_id",
                    "whenMatched": "replace",
                    "whenNotMatched": "insert"}},
    ], data_dir=str(tmp_path)).collect()}
    assert got[1].tag == "old"          # untouched
    assert got[2].tag == "new" and got[2].v == 20   # replaced
    assert got[3].tag == "new"          # inserted


def test_merge_into_a_table_another_writer_left(spark, tmp_path):
    """A target written outside Spark (one parquet file, no `_SUCCESS`,
    no schema record) is still the live target: `$merge` upserts into
    it instead of replacing it with the incoming rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hummingbird_spark.pipeline import run_pipeline

    pq.write_table(pa.table({"_id": [1, 2], "v": [1, 2]}),
                   str(tmp_path / "ext.parquet"))
    src = spark.createDataFrame([(2, 20), (3, 30)], "_id long, v long")
    got = {r._id: r.v for r in run_pipeline(spark, src, [
        {"$merge": {"into": "ext", "whenMatched": "replace"}},
    ], data_dir=str(tmp_path)).collect()}
    assert got == {1: 1, 2: 20, 3: 30}


def test_merge_into_a_target_with_no_data_file(spark, tmp_path):
    """A target directory holding `_SUCCESS` alone is an empty target:
    `$merge` inserts into it."""
    from hummingbird_spark.pipeline import run_pipeline

    (tmp_path / "e.parquet").mkdir()
    (tmp_path / "e.parquet" / "_SUCCESS").write_text("")
    src = spark.createDataFrame([(2, 20), (3, 30)], "_id long, v long")
    got = {r._id: r.v for r in run_pipeline(spark, src, [
        {"$merge": {"into": "e"}},
    ], data_dir=str(tmp_path)).collect()}
    assert got == {2: 20, 3: 30}


def test_merge_keep_existing_and_discard(spark, tmp_path):
    from hummingbird_spark.pipeline import run_pipeline

    spark.createDataFrame(
        [(1, 1), (2, 2)], "_id long, v long"
    ).write.parquet(str(tmp_path / "t2.parquet"))
    src = spark.createDataFrame([(2, 99), (5, 50)], "_id long, v long")

    got = {r._id: r.v for r in run_pipeline(spark, src, [
        {"$merge": {"into": "t2", "whenMatched": "keepExisting"}},
    ], data_dir=str(tmp_path)).collect()}
    assert got == {1: 1, 2: 2, 5: 50}   # 2 kept, 5 inserted

    got = {r._id: r.v for r in run_pipeline(spark, src, [
        {"$merge": {"into": "t2", "whenMatched": "replace",
                    "whenNotMatched": "discard"}},
    ], data_dir=str(tmp_path)).collect()}
    assert got == {1: 1, 2: 99, 5: 50}  # 5 already present from above


def test_union_with_stage(spark):
    from hummingbird_spark.pipeline import mongo_pipeline_to_df

    a = spark.createDataFrame([(1, "x")], "k long, s string")
    b = spark.createDataFrame([(2, "y", 9)], "k long, s string, extra long")
    out = mongo_pipeline_to_df(a, [
        {"$unionWith": {"coll": "b",
                        "pipeline": [{"$match": {"k": {"$gte": 0}}}]}},
    ], tables={"b": b})
    rows = {r.k: r for r in out.collect()}
    assert set(rows) == {1, 2}
    assert rows[1].extra is None and rows[2].extra == 9


def test_replace_root_stage(spark):
    from pyspark.sql import functions as F
    from hummingbird_spark.pipeline import mongo_pipeline_to_df

    df = spark.createDataFrame([(1, ("a", 2))], "k long, sub struct<s:string,n:long>")
    out = mongo_pipeline_to_df(df, [{"$replaceRoot": {"newRoot": "$sub"}}])
    assert out.columns == ["s", "n"]
    assert out.first().s == "a"


def test_bucket_stage(spark):
    from hummingbird_spark.pipeline import mongo_pipeline_to_df

    df = spark.createDataFrame(
        [(v,) for v in [1, 5, 12, 25, 99, 150]], "v long")
    out = mongo_pipeline_to_df(df, [{
        "$bucket": {
            "groupBy": "$v",
            "boundaries": [0, 10, 100],
            "default": -1,
            "output": {"count": {"$sum": 1}, "total": {"$sum": "$v"}},
        }
    }])
    rows = {r._id: (r["count"], r.total) for r in out.collect()}
    assert rows == {0: (2, 6), 10: (3, 136), -1: (1, 150)}


def test_merge_fieldwise_keeps_unprojected_columns(spark, tmp_path):
    """Default whenMatched='merge' is $mergeObjects: target fields the
    pipeline didn't produce keep their values (the review-found
    data-loss case), and pipeline-only fields evolve the target."""
    from hummingbird_spark.pipeline import run_pipeline

    spark.createDataFrame(
        [(1, "keepme", 1), (2, "keepme", 2)],
        "_id long, tag string, v long",
    ).write.parquet(str(tmp_path / "t3.parquet"))
    src = spark.createDataFrame(
        [(1, 100, "extra1"), (9, 900, "extra9")],
        "_id long, v long, score string")

    got = {r._id: r for r in run_pipeline(spark, src, [
        {"$merge": {"into": "t3"}},
    ], data_dir=str(tmp_path)).collect()}
    assert got[1].tag == "keepme" and got[1].v == 100   # merged
    assert got[1].score == "extra1"                      # evolved column
    assert got[2].tag == "keepme" and got[2].score is None  # untouched
    assert got[9].v == 900 and got[9].tag is None        # inserted


def test_merge_dedupes_duplicate_keys(spark, tmp_path):
    from hummingbird_spark.pipeline import run_pipeline

    spark.createDataFrame([(1, 0)], "_id long, v long") \
        .write.parquet(str(tmp_path / "t4.parquet"))
    src = spark.createDataFrame(
        [(7, 70), (7, 71), (7, 72)], "_id long, v long")
    got = run_pipeline(spark, src, [
        {"$merge": {"into": "t4", "whenMatched": "replace"}},
    ], data_dir=str(tmp_path))
    assert got.filter("_id = 7").count() == 1


def test_merge_when_matched_pipeline(spark, tmp_path):
    """Mongo's $merge whenMatched PIPELINE form: stages run on the
    matched target doc with the incoming doc bound as $$new. The
    canonical accumulate-on-match example from the Mongo docs."""
    from hummingbird_spark.pipeline import run_pipeline

    spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b")], "_id long, total long, tag string"
    ).write.parquet(str(tmp_path / "agg.parquet"))
    src = spark.createDataFrame(
        [(2, 5), (3, 7)], "_id long, total long")

    got = {r._id: r for r in run_pipeline(spark, src, [
        {"$merge": {
            "into": "agg", "on": "_id",
            "whenMatched": [
                {"$addFields": {
                    "total": {"$add": ["$total", "$$new.total"]},
                    "updated": True,
                }},
            ],
            "whenNotMatched": "insert",
        }},
    ], data_dir=str(tmp_path)).collect()}
    assert got[1].total == 10 and got[1].updated is None  # untouched
    assert got[2].total == 25 and got[2].updated is True  # accumulated
    assert got[2].tag == "b"                              # target kept
    assert got[3].total == 7                              # inserted as-is


def test_merge_pipeline_custom_let_and_discard(spark, tmp_path):
    """Custom `let` variables evaluate against the incoming doc;
    whenNotMatched=discard drops unmatched incoming rows."""
    from hummingbird_spark.pipeline import run_pipeline

    spark.createDataFrame(
        [(1, 100), (2, 200)], "_id long, v long"
    ).write.parquet(str(tmp_path / "lt.parquet"))
    src = spark.createDataFrame(
        [(2, 8, 2), (9, 9, 9)], "_id long, x long, y long")

    got = {r._id: r for r in run_pipeline(spark, src, [
        {"$merge": {
            "into": "lt", "on": "_id",
            "let": {"delta": {"$multiply": ["$x", "$y"]}},
            "whenMatched": [
                {"$set": {"v": {"$add": ["$v", "$$delta"]}}},
            ],
            "whenNotMatched": "discard",
        }},
    ], data_dir=str(tmp_path)).collect()}
    assert set(got) == {1, 2}
    assert got[1].v == 100 and got[2].v == 216   # 200 + 8*2


def test_merge_fail_matched_with_discard_keeps_target(spark, tmp_path):
    """whenMatched='fail' + whenNotMatched='discard': when no incoming
    row matches (so no abort), the unmatched rows are DISCARDED — the
    target must come back unchanged, not with the inserts (r3 advice)."""
    from hummingbird_spark.pipeline import run_pipeline

    spark.createDataFrame(
        [(1, 1), (2, 2)], "_id long, v long"
    ).write.parquet(str(tmp_path / "fd.parquet"))
    src = spark.createDataFrame([(8, 80), (9, 90)], "_id long, v long")

    got = {r._id: r.v for r in run_pipeline(spark, src, [
        {"$merge": {"into": "fd", "whenMatched": "fail",
                    "whenNotMatched": "discard"}},
    ], data_dir=str(tmp_path)).collect()}
    assert got == {1: 1, 2: 2}

    # and the insert form still inserts
    got = {r._id: r.v for r in run_pipeline(spark, src, [
        {"$merge": {"into": "fd", "whenMatched": "fail",
                    "whenNotMatched": "insert"}},
    ], data_dir=str(tmp_path)).collect()}
    assert got == {1: 1, 2: 2, 8: 80, 9: 90}


def test_merge_pipeline_project_id_zero_keeps_real_key(spark, tmp_path):
    """whenMatched pipeline $project with the {_id: 0} idiom: _id is an
    exclusion, not a computed column — the real merge key must survive
    (keep_keys re-adds it), not be replaced by a literal 0 (r3 advice)."""
    from hummingbird_spark.pipeline import run_pipeline

    spark.createDataFrame(
        [(1, 10), (2, 20)], "_id long, v long"
    ).write.parquet(str(tmp_path / "pz.parquet"))
    src = spark.createDataFrame([(2, 5)], "_id long, v long")

    got = {r._id: r for r in run_pipeline(spark, src, [
        {"$merge": {
            "into": "pz", "on": "_id",
            "whenMatched": [
                {"$project": {"_id": 0,
                              "v": {"$add": ["$v", "$$new.v"]}}},
            ],
            "whenNotMatched": "discard",
        }},
    ], data_dir=str(tmp_path)).collect()}
    # key 2 keeps its REAL _id (not 0) with the accumulated value
    assert set(got) == {1, 2}
    assert got[2].v == 25 and got[1].v == 10


def test_bucket_validation_and_string_default(spark):
    import pytest
    from hummingbird_spark.pipeline import mongo_pipeline_to_df

    df = spark.createDataFrame([(5,), (50,)], "v long")
    with pytest.raises(ValueError, match="ascending"):
        mongo_pipeline_to_df(df, [{"$bucket": {
            "groupBy": "$v", "boundaries": [10, 0]}}])
    out = mongo_pipeline_to_df(df, [{"$bucket": {
        "groupBy": "$v", "boundaries": [0, 10], "default": "Other"}}])
    rows = {r._id: r["count"] for r in out.collect()}
    assert rows == {"0": 1, "Other": 1}


def test_replace_root_rejects_bad_newroot(spark):
    import pytest
    from hummingbird_spark.pipeline import mongo_pipeline_to_df

    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="path newRoot"):
        mongo_pipeline_to_df(df, [{"$replaceRoot": {"newRoot": "sub"}}])
    with pytest.raises(ValueError, match="path newRoot"):
        mongo_pipeline_to_df(df, [{"$replaceWith": {"$mergeObjects": []}}])


def test_bucket_auto_even_counts(spark):
    from hummingbird_spark.pipeline import mongo_pipeline_to_df

    df = spark.createDataFrame([(v,) for v in range(1, 13)], "v long")
    out = mongo_pipeline_to_df(df, [{
        "$bucketAuto": {"groupBy": "$v", "buckets": 3,
                        "output": {"count": {"$sum": 1},
                                   "total": {"$sum": "$v"}}}
    }])
    rows = out.collect()
    assert [r["count"] for r in rows] == [4, 4, 4]
    assert rows[0]._id.min == 1 and rows[0]._id.max == 4
    assert rows[2]._id.min == 9 and rows[2]._id.max == 12


def test_facet_stage(spark):
    from hummingbird_spark.pipeline import mongo_pipeline_to_df

    df = spark.createDataFrame(
        [(1, "a", 5), (2, "b", 9), (3, "a", 2)], "k long, g string, v long")
    out = mongo_pipeline_to_df(df, [{
        "$facet": {
            "by_group": [
                {"$group": {"_id": "$g", "n": {"$sum": 1}}},
                {"$sort": {"_id": 1}},
            ],
            "big": [{"$match": {"v": {"$gte": 5}}},
                    {"$count": "n_big"}],
        }
    }])
    row = out.first()
    assert {d.n for d in row.by_group} == {1, 2}
    assert row.big[0].n_big == 2


def test_project_rejects_mixed_include_exclude(spark, orders):
    """Mongo rejects {a: 1, b: 0} (mixed projection, non-_id exclude);
    so do we instead of silently dropping the exclusion."""
    with pytest.raises(ValueError, match="cannot mix"):
        mongo_pipeline_to_df(orders, [
            {"$project": {"o_orderkey": 1, "o_comment": 0}},
        ])
    # _id exclusion alongside includes stays legal
    out = mongo_pipeline_to_df(
        orders.withColumnRenamed("o_orderkey", "_id"),
        [{"$project": {"o_orderstatus": 1, "_id": 0}}],
    )
    assert out.columns == ["o_orderstatus"]


def test_lookup_matches_null_local_field(spark):
    """Mongo $lookup matches a null localField against docs whose
    foreignField is null — the join must be null-safe."""
    left = spark.createDataFrame(
        [(1, "a"), (2, None)], "k int, fk string")
    foreign = spark.createDataFrame(
        [("a", 10), (None, 99)], "fkey string, v int")
    out = mongo_pipeline_to_df(left, [
        {"$lookup": {"from": "f", "localField": "fk",
                     "foreignField": "fkey", "as": "docs"}},
    ], tables={"f": foreign})
    rows = {r.k: r.docs for r in out.collect()}
    assert [d.v for d in rows[1]] == [10]
    assert [d.v for d in rows[2]] == [99]


_UNWINDS = {
    "inner": "$docs",
    "inner_doc": {"path": "$docs", "preserveNullAndEmptyArrays": False},
    "preserve": {"path": "$docs", "preserveNullAndEmptyArrays": True},
    "index": {"path": "$docs", "includeArrayIndex": "i"},
    "index_preserve": {"path": "$docs", "includeArrayIndex": "i",
                       "preserveNullAndEmptyArrays": True},
}


@pytest.mark.parametrize("name", list(_UNWINDS))
@pytest.mark.parametrize("alias", ["docs", "tag"])
def test_lookup_then_unwind_equals_the_uncoalesced_pair(spark, name, alias):
    """$lookup directly followed by an $unwind of its `as` (without
    includeArrayIndex) is translated to one join; it gives the rows and
    columns of the two stages translated one by one (a `$match: {}`
    between them keeps them apart): a null local key matching a null
    foreign key, a key with two matches, a row with no match, with and
    without preserveNullAndEmptyArrays, and an `as` that replaces a
    local column."""
    left = spark.createDataFrame(
        [(1, "a", "t1"), (2, None, "t2"), (3, "zz", "t3"), (4, "b", None)],
        "k int, fk string, tag string")
    foreign = spark.createDataFrame(
        [("a", 10), ("a", 11), (None, 99), ("b", 20), ("c", 30)],
        "fkey string, v int")
    unwind = _UNWINDS[name]
    if isinstance(unwind, str):
        unwind = "$" + alias
    else:
        unwind = {**unwind, "path": "$" + alias}
    lookup = {"$lookup": {"from": "f", "localField": "fk",
                          "foreignField": "fkey", "as": alias}}

    def run(*between):
        out = mongo_pipeline_to_df(
            left, [lookup, *between, {"$unwind": unwind}],
            tables={"f": foreign})
        rows = sorted((repr(r.asDict(recursive=True)) for r in out.collect()))
        return out, out.columns, rows

    out, cols, rows = run()
    _, want_cols, want_rows = run({"$match": {}})
    assert (cols, rows) == (want_cols, want_rows)
    coalesced = "includeArrayIndex" not in unwind
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert ("Generate" not in plan) == coalesced, plan
    assert len(rows) == (5 if "preserve" in name else 4)


# ---------------------------------------------------------------------------
# Round-3 stages: $setWindowFields, $graphLookup, $densify, $fill
# ---------------------------------------------------------------------------

def test_set_window_fields_running_and_rank(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 30.0),
         ("b", 1, 5.0), ("b", 2, 15.0)],
        "grp string, seq int, v double")
    out = mongo_pipeline_to_df(df, [
        {"$setWindowFields": {
            "partitionBy": "$grp",
            "sortBy": {"seq": 1},
            "output": {
                "running": {"$sum": "$v",
                            "window": {"documents": ["unbounded",
                                                     "current"]}},
                "total": {"$sum": "$v"},
                "rk": {"$rank": {}},
                "prev": {"$shift": {"output": "$v", "by": -1,
                                    "default": 0.0}},
            },
        }},
        {"$sort": {"grp": 1, "seq": 1}},
    ])
    rows = out.collect()
    a = [r for r in rows if r.grp == "a"]
    assert [r.running for r in a] == [10.0, 30.0, 60.0]
    assert [r.total for r in a] == [60.0, 60.0, 60.0]
    assert [r.rk for r in a] == [1, 2, 3]
    assert [r.prev for r in a] == [0.0, 10.0, 20.0]


def test_set_window_fields_requires_sort_for_rank(spark):
    df = spark.createDataFrame([("a", 1)], "grp string, v int")
    with pytest.raises(ValueError, match="requires sortBy"):
        mongo_pipeline_to_df(df, [
            {"$setWindowFields": {"partitionBy": "$grp",
                                  "output": {"r": {"$rank": {}}}}},
        ])


def test_graph_lookup_follows_chain_and_cycles(spark):
    """org chart with a cycle: a->b->c->a; BFS must terminate and each
    row must collect its reachable set with depths."""
    people = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", None)],
        "name string, boss string")
    out = mongo_pipeline_to_df(people, [
        {"$graphLookup": {
            "from": "people", "startWith": "$boss",
            "connectFromField": "boss", "connectToField": "name",
            "as": "chain", "depthField": "depth",
        }},
    ], tables={"people": people})
    rows = {r.name: r.chain for r in out.collect()}
    a_chain = {(d.name, d.depth) for d in rows["a"]}
    # a's boss chain: b (depth 0), c (1), a itself (2) — then the cycle
    # stops because (row, node) pairs dedupe
    assert a_chain == {("b", 0), ("c", 1), ("a", 2)}
    assert rows["d"] == []  # null startWith matches only null names


def test_densify_fills_numeric_gaps(spark):
    df = spark.createDataFrame(
        [("s1", 0, 1.0), ("s1", 3, 2.0), ("s2", 1, 9.0)],
        "sensor string, t int, v double")
    out = mongo_pipeline_to_df(df, [
        {"$densify": {"field": "t",
                      "partitionByFields": ["sensor"],
                      "range": {"step": 1, "bounds": "partition"}}},
        {"$sort": {"sensor": 1, "t": 1}},
    ])
    rows = out.collect()
    s1 = [(r.t, r.v) for r in rows if r.sensor == "s1"]
    assert s1 == [(0, 1.0), (1, None), (2, None), (3, 2.0)]
    assert [(r.t, r.v) for r in rows if r.sensor == "s2"] == [(1, 9.0)]


def test_densify_explicit_bounds_half_open(spark):
    df = spark.createDataFrame([(2,)], "t int")
    out = mongo_pipeline_to_df(df, [
        {"$densify": {"field": "t", "range": {"step": 2,
                                              "bounds": [0, 6]}}},
        {"$sort": {"t": 1}},
    ])
    assert [r.t for r in out.collect()] == [0, 2, 4]  # 6 excluded


def test_fill_locf_and_value(spark):
    df = spark.createDataFrame(
        [("s", 1, 10.0, None), ("s", 2, None, 5.0), ("s", 3, None, None),
         ("s", 4, 40.0, None)],
        "grp string, seq int, a double, b double")
    out = mongo_pipeline_to_df(df, [
        {"$fill": {"partitionBy": "$grp", "sortBy": {"seq": 1},
                   "output": {"a": {"method": "locf"},
                              "b": {"value": 0.0}}}},
        {"$sort": {"seq": 1}},
    ])
    rows = out.collect()
    assert [r.a for r in rows] == [10.0, 10.0, 10.0, 40.0]
    assert [r.b for r in rows] == [0.0, 5.0, 0.0, 0.0]


def test_densify_then_fill_composes(spark):
    """The Mongo docs' canonical pairing: densify a time grid, then
    carry the last observation forward across the generated rows."""
    df = spark.createDataFrame(
        [("s", 0, 1.0), ("s", 3, 4.0)], "k string, t int, v double")
    out = mongo_pipeline_to_df(df, [
        {"$densify": {"field": "t", "partitionByFields": ["k"],
                      "range": {"step": 1, "bounds": "partition"}}},
        {"$fill": {"partitionBy": "$k", "sortBy": {"t": 1},
                   "output": {"v": {"method": "locf"}}}},
        {"$sort": {"t": 1}},
    ])
    assert [(r.t, r.v) for r in out.collect()] == [
        (0, 1.0), (1, 1.0), (2, 1.0), (3, 4.0)]


# ---------------------------------------------------------------------------
# Aggregation expression language ($project/$addFields/accumulator args)
# ---------------------------------------------------------------------------

def test_expression_arithmetic_and_cond(spark):
    df = spark.createDataFrame(
        [(10.0, 2.0, "x"), (3.0, 0.5, "y")], "a double, b double, tag string")
    out = mongo_pipeline_to_df(df, [
        {"$addFields": {
            "prod": {"$multiply": ["$a", "$b", 2]},
            "ratio": {"$round": [{"$divide": ["$a", "$b"]}, 2]},
            "grade": {"$cond": {"if": {"$gte": ["$a", 5]},
                                "then": "big", "else": "small"}},
            "label": {"$concat": [{"$toUpper": "$tag"}, "-",
                                  {"$toString": {"$toInt": "$a"}}]},
        }},
        {"$sort": {"a": -1}},
    ])
    rows = out.collect()
    assert [r.prod for r in rows] == [40.0, 3.0]
    assert [r.ratio for r in rows] == [5.0, 6.0]
    assert [r.grade for r in rows] == ["big", "small"]
    assert [r.label for r in rows] == ["X-10", "Y-3"]


def test_expression_switch_ifnull_dates_arrays(spark):
    import datetime

    df = spark.createDataFrame(
        [(datetime.datetime(2024, 3, 15, 10, 30), None, [5, 6, 7]),
         (datetime.datetime(2023, 12, 1, 0, 0), 9.0, [1])],
        "ts timestamp, maybe double, arr array<int>")
    out = mongo_pipeline_to_df(df, [
        {"$project": {
            "y": {"$year": "$ts"}, "m": {"$month": "$ts"},
            "filled": {"$ifNull": ["$maybe", 0.0]},
            "head": {"$arrayElemAt": ["$arr", 0]},
            "tail": {"$last": "$arr"},
            "n": {"$size": "$arr"},
            "season": {"$switch": {
                "branches": [
                    {"case": {"$in": [{"$month": "$ts"}, [12, 1, 2]]},
                     "then": "winter"},
                    {"case": {"$in": [{"$month": "$ts"}, [3, 4, 5]]},
                     "then": "spring"},
                ],
                "default": "other"}},
        }},
        {"$sort": {"y": -1}},
    ])
    rows = out.collect()
    assert (rows[0].y, rows[0].m, rows[0].season) == (2024, 3, "spring")
    assert (rows[1].y, rows[1].season) == (2023, "winter")
    assert [r.filled for r in rows] == [0.0, 9.0]
    assert [r.head for r in rows] == [5, 1]
    assert [r.tail for r in rows] == [7, 1]
    assert [r.n for r in rows] == [3, 1]


def test_expression_math_and_set_ops(spark):
    import math

    df = spark.createDataFrame(
        [(8.0, [1, 2, 2], [2, 1], [1, 2, 3], [True, True], [False, True])],
        "x double, s1 array<int>, s2 array<int>, s3 array<int>, "
        "allt array<boolean>, anyt array<boolean>")
    out = mongo_pipeline_to_df(df, [
        {"$project": {
            "lg": {"$log": ["$x", 2]},
            "sn": {"$round": [{"$sin": {"$degreesToRadians": 90}}, 6]},
            "at2": {"$round": [{"$atan2": [1, 1]}, 6]},
            "se": {"$setEquals": ["$s1", "$s2"]},
            "sne": {"$setEquals": ["$s1", "$s3"]},
            "sub": {"$setIsSubset": ["$s1", "$s3"]},
            "nsub": {"$setIsSubset": ["$s3", "$s1"]},
            "allt": {"$allElementsTrue": ["$allt"]},
            "anyt": {"$anyElementTrue": ["$anyt"]},
        }},
    ])
    r = out.first()
    assert r.lg == 3.0
    assert r.sn == 1.0
    assert r.at2 == round(math.pi / 4, 6)
    assert r.se is True and r.sne is False
    assert r.sub is True and r.nsub is False
    assert r.allt is True and r.anyt is True


def test_expression_object_array_roundtrip(spark):
    df = spark.createDataFrame(
        [({"a": 1, "b": 2},)], "m map<string,int>")
    out = mongo_pipeline_to_df(df, [
        {"$project": {
            "entries": {"$sortArray": {
                "input": {"$map": {
                    "input": {"$objectToArray": "$m"},
                    "in": "$$this.k"}},
                "sortBy": 1}},
            "back": {"$arrayToObject": [{"$objectToArray": "$m"}]},
        }},
    ])
    r = out.first()
    assert r.entries == ["a", "b"]
    assert dict(r.back) == {"a": 1, "b": 2}


def test_expression_date_parts_and_weeks(spark):
    import datetime

    # 2024-01-07 is the first Sunday of 2024 (Jan 1 was a Monday)
    df = spark.createDataFrame(
        [(datetime.datetime(2024, 1, 6, 12, 0, 0, 250000),
          datetime.datetime(2024, 1, 7, 0, 0),
          "2024-03-15 10:30:00")],
        "before timestamp, sunday timestamp, s string")
    out = mongo_pipeline_to_df(df, [
        {"$project": {
            "w0": {"$week": "$before"},
            "w1": {"$week": "$sunday"},
            "doy": {"$dayOfYear": "$sunday"},
            "iso_dow_sat": {"$isoDayOfWeek": "$before"},
            "iso_wy": {"$isoWeekYear": "$before"},  # 2024-01-06 -> 2024
            "ms": {"$millisecond": "$before"},
            "made": {"$dateFromParts": {
                "year": 2024, "month": 3, "day": 15,
                "hour": 10, "minute": 30}},
            "parsed": {"$dateFromString": {
                "dateString": "$s", "format": "%Y-%m-%d %H:%M:%S"}},
        }},
    ])
    r = out.first()
    assert (r.w0, r.w1) == (0, 1)
    assert r.doy == 7
    assert r.iso_dow_sat == 6       # Saturday
    assert r.iso_wy == 2024
    assert r.ms == 250
    assert r.made == r.parsed == __import__("datetime").datetime(
        2024, 3, 15, 10, 30)


def test_expression_regex_find(spark):
    df = spark.createDataFrame(
        [("order 12 and order 345", "no digits")], "a string, b string")
    out = mongo_pipeline_to_df(df, [
        {"$project": {
            "f": {"$regexFind": {"input": "$a",
                                 "regex": r"order (\d+)"}},
            "none": {"$regexFind": {"input": "$b",
                                    "regex": r"(\d+)"}},
            "all": {"$regexFindAll": {"input": "$a",
                                      "regex": r"order (\d+)"}},
            "ci": {"$regexMatch": {"input": "$a", "regex": "ORDER",
                                   "options": "i"}},
        }},
    ])
    r = out.first()
    assert r.f.match == "order 12" and r.f.idx == 0
    assert list(r.f.captures) == ["12"]
    assert r.none is None
    assert [(m.match, list(m.captures)) for m in r.all] == [
        ("order 12", ["12"]), ("order 345", ["345"])]
    assert r.ci is True


def test_vector_search_stage(spark):
    import pytest

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = mongo_pipeline_to_df(df, [
        {"$vectorSearch": {"path": "embedding",
                           "queryVector": [1.0, 0.0, 0.0, 0.0],
                           "limit": 2, "exact": True}},
        {"$project": {"vec_id": 1,
                      "score": {"$meta": "vectorSearchScore"}}},
    ])
    got = [(r.vec_id, r.score) for r in out.collect()]
    assert [v for v, _ in got] == [1, 2]
    assert got[0][1] == 1.0

    # score stays hidden without the $meta projection
    bare = mongo_pipeline_to_df(df, [
        {"$vectorSearch": {"path": "embedding",
                           "queryVector": [1.0, 0.0, 0.0, 0.0],
                           "limit": 2, "exact": True}},
    ])
    assert bare.columns == ["vec_id", "embedding"]

    # ANN path recalls the exact neighbor on a planted corpus, and a
    # pre-filter prunes before scoring
    ann = mongo_pipeline_to_df(df, [
        {"$vectorSearch": {"path": "embedding",
                           "queryVector": [1.0, 0.0, 0.0, 0.0],
                           "limit": 1, "numCandidates": 4,
                           "filter": {"vec_id": {"$ne": 1}}}},
    ])
    assert [r.vec_id for r in ann.collect()] == [2]

    with pytest.raises(ValueError, match="first pipeline stage"):
        mongo_pipeline_to_df(df, [
            {"$limit": 3},
            {"$vectorSearch": {"path": "embedding",
                               "queryVector": [1.0, 0.0, 0.0, 0.0],
                               "limit": 1}},
        ])


def test_redact_stage(spark):
    """The canonical Mongo $redact shape: per-level access control —
    a level tagged above the clearance is pruned WITH its subtree;
    cleared levels descend; arrays of subdocs filter element-wise."""
    rows = [
        (1, 1,
         (9, "classified", (1, "never seen")),     # secret: pruned
         (2, "public", (9, "classified inner")),   # pub: descend
         [(1, "x"), (9, "y")]),                    # items: y pruned
        (2, 9, (1, "a", (1, "b")), (1, "c", (1, "d")), [(1, "z")]),
    ]
    df = spark.createDataFrame(rows, """
        _id long, level int,
        secret struct<level:int, note:string,
                      inner:struct<level:int, note:string>>,
        pub struct<level:int, note:string,
                   inner:struct<level:int, note:string>>,
        items array<struct<level:int, tag:string>>
    """)
    cond = {"$cond": [{"$lte": ["$level", 5]}, "$$DESCEND", "$$PRUNE"]}
    out = {r._id: r for r in mongo_pipeline_to_df(
        df, [{"$redact": cond}]).collect()}
    assert set(out) == {1}                  # doc 2's root level 9 pruned
    r = out[1]
    assert r.secret is None                 # level-9 subtree gone
    assert r.pub.note == "public"           # level-2: kept scalars
    assert r.pub.inner is None              # ...but its level-9 inner gone
    assert [(e.level, e.tag) for e in r.items] == [(1, "x")]

    # $$KEEP stops recursion: everything below survives untouched
    keep_all = {"$cond": [{"$lte": ["$level", 5]}, "$$KEEP", "$$PRUNE"]}
    k = {r._id: r for r in mongo_pipeline_to_df(
        df, [{"$redact": keep_all}]).collect()}
    assert k[1].secret.note == "classified"   # KEEP at root: no descent


def test_documents_stage(spark):
    df = spark.createDataFrame([(0,)], "ignore long")
    out = mongo_pipeline_to_df(df, [
        {"$documents": [{"k": 1, "s": "a"}, {"k": 2, "s": "b"}]},
        {"$match": {"k": {"$gte": 2}}},
    ])
    assert [(r.k, r.s) for r in out.collect()] == [(2, "b")]


def test_geo_near_stage(spark):
    import math as m

    rows = [
        (1, [0.0, 0.0]),
        (2, [3.0, 4.0]),      # planar distance 5 from origin
        (3, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "pid long, location array<double>")
    out = mongo_pipeline_to_df(df, [
        {"$geoNear": {"near": [0.0, 0.0], "key": "location",
                      "distanceField": "dist", "maxDistance": 5.0}},
    ])
    got = [(r.pid, r.dist) for r in out.collect()]
    assert got == [(1, 0.0), (3, 1.0), (2, 5.0)]

    # spherical: 1 degree of latitude at the equator on Mongo's earth
    # radius = R * pi/180 meters
    sph = mongo_pipeline_to_df(df, [
        {"$geoNear": {"near": [0.0, 0.0], "key": "location",
                      "distanceField": "d", "spherical": True,
                      "query": {"pid": {"$ne": 2}}}},
    ]).collect()
    assert [r.pid for r in sph] == [1, 3]
    expect = 6_378_100.0 * m.pi / 180
    assert abs(sph[1].d - expect) < 1.0


def test_coll_stats_count_form(spark):
    import pytest

    df = spark.createDataFrame([(i,) for i in range(7)], "v long")
    out = mongo_pipeline_to_df(df, [{"$collStats": {"count": {}}}])
    assert out.first()["count"] == 7
    with pytest.raises(ValueError, match="count form"):
        mongo_pipeline_to_df(df, [{"$collStats": {"storageStats": {}}}])


def test_expression_set_unset_field_and_objectid(spark):
    df = spark.createDataFrame(
        [((1, "a"), "507F1F77BCF86CD799439011", "nope")],
        "sub struct<x:int, s:string>, oid string, bad string")
    out = mongo_pipeline_to_df(df, [
        {"$project": {
            "patched": {"$setField": {"field": "x", "input": "$sub",
                                      "value": 99}},
            "pruned": {"$unsetField": {"field": "s", "input": "$sub"}},
            "o": {"$toObjectId": "$oid"},
            "o_bad": {"$toObjectId": "$bad"},
        }},
    ]).first()
    assert out.patched.x == 99 and out.patched.s == "a"
    assert out.pruned.asDict() == {"x": 1}
    assert out.o == "507f1f77bcf86cd799439011"   # normalized lowercase
    assert out.o_bad is None


def test_expression_convert_and_ts_parts(spark):
    df = spark.createDataFrame(
        [("42", None, (7 << 32) | 3), ("not a number", "x", 1 << 32)],
        "s string, maybe string, ts long")
    out = mongo_pipeline_to_df(df, [
        {"$project": {
            "n": {"$convert": {"input": "$s", "to": "int",
                               "onError": -1, "onNull": -2}},
            "filled": {"$convert": {"input": "$maybe", "to": "string",
                                    "onNull": "missing"}},
            "sec": {"$tsSecond": "$ts"},
            "inc": {"$tsIncrement": "$ts"},
        }},
        {"$sort": {"sec": -1}},
    ])
    rows = out.collect()
    assert [r.n for r in rows] == [42, -1]
    assert rows[0].filled == "missing" and rows[1].filled == "x"
    assert [(r.sec, r.inc) for r in rows] == [(7, 3), (1, 0)]


def test_window_fields_derivative_and_ema(spark):
    df = spark.createDataFrame(
        [("a", 0, 0.0), ("a", 10, 20.0), ("a", 20, 60.0)],
        "g string, t long, y double")
    out = mongo_pipeline_to_df(df, [
        {"$setWindowFields": {
            "partitionBy": "$g",
            "sortBy": {"t": 1},
            "output": {
                "slope": {"$derivative": {"input": "$y"},
                          "window": {"documents": [-1, 0]}},
                "ema": {"$expMovingAvg": {"input": "$y", "N": 1}},
            }}},
        {"$sort": {"t": 1}},
    ])
    rows = out.collect()
    # pairwise slopes: none for first row (dx=0 -> null), then 2, 4
    assert rows[0].slope is None
    assert rows[1].slope == 2.0 and rows[2].slope == 4.0
    # N=1 -> alpha=1: EMA tracks the input exactly
    assert [r.ema for r in rows] == [0.0, 20.0, 60.0]

    # alpha form: ema_i = a*y_i + (1-a)*ema_{i-1}
    out2 = mongo_pipeline_to_df(df, [
        {"$setWindowFields": {
            "partitionBy": "$g", "sortBy": {"t": 1},
            "output": {"ema": {"$expMovingAvg": {"input": "$y",
                                                 "alpha": 0.5}}}}},
        {"$sort": {"t": 1}},
    ]).collect()
    assert [r.ema for r in out2] == [0.0, 10.0, 35.0]


def test_window_fields_integral(spark):
    """$integral: trapezoid over the sorted partition — y=2x over
    x∈[0,10] integrates to 100; a [-1, 0] documents window yields the
    per-step trapezoid."""
    rows = [("a", float(x), float(2 * x)) for x in (0, 2, 6, 10)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = mongo_pipeline_to_df(df, [
        {"$setWindowFields": {
            "partitionBy": "$g", "sortBy": {"x": 1},
            "output": {
                "total": {"$integral": {"input": "$y"}},
                "step": {"$integral": {"input": "$y"},
                         "window": {"documents": [-1, 0]}},
            }}},
        {"$sort": {"x": 1}},
    ]).collect()
    assert [r.total for r in out] == [100.0] * 4
    # per-step: first row has no prior point -> 0
    assert [r.step for r in out] == [0.0, 4.0, 32.0, 64.0]


def test_window_fields_covariance_stddev(spark):
    df = spark.createDataFrame(
        [("a", 1.0, 2.0), ("a", 2.0, 4.0), ("a", 3.0, 6.0),
         ("b", 5.0, 5.0)],
        "g string, x double, y double")
    out = mongo_pipeline_to_df(df, [
        {"$setWindowFields": {
            "partitionBy": "$g",
            "output": {
                "cov": {"$covariancePop": ["$x", "$y"]},
                "sd": {"$stdDevPop": "$x"},
            }}},
        {"$match": {"g": "a"}},
        {"$limit": 1},
    ])
    r = out.first()
    assert abs(r.cov - 4.0 / 3.0) < 1e-9
    assert abs(r.sd - (2.0 / 3.0) ** 0.5) < 1e-9


def test_expression_in_group_key_and_accumulator(spark, orders):
    """{_id: {$month: ...}} expression group key and a computed $sum
    argument — the revenue-style accumulator shape."""
    out = mongo_pipeline_to_df(orders, [
        {"$group": {
            "_id": {"$month": "$o_orderdate"},
            "n": {"$sum": 1},
            "double_rev": {"$sum": {"$multiply": ["$o_totalprice", 2]}},
        }},
        {"$sort": {"_id": 1}},
    ])
    rows = out.collect()
    assert [r._id for r in rows] == list(range(1, 13))
    want = {r.m: (r.n, r.rev) for r in orders.groupBy(
        F.month("o_orderdate").alias("m")).agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("o_totalprice") * 2).alias("rev")).collect()}
    for r in rows:
        assert r.n == want[r._id][0]
        assert abs(r.double_rev - want[r._id][1]) < 1e-6


def test_expression_document_literal_and_substr(spark):
    df = spark.createDataFrame([("hello world",)], "s string")
    out = mongo_pipeline_to_df(df, [
        {"$project": {
            "doc": {"head": {"$substrCP": ["$s", 0, 5]},
                    "len": {"$strLenCP": "$s"}},
        }},
    ])
    r = out.first()
    assert r.doc.head == "hello" and r.doc.len == 11


def test_expression_unsupported_operator_raises(spark):
    df = spark.createDataFrame([(1,)], "a int")
    with pytest.raises(ValueError, match="unsupported \\$meta"):
        mongo_pipeline_to_df(df, [
            {"$addFields": {"x": {"$meta": "textScore"}}}])
    with pytest.raises(ValueError, match="unsupported expression"):
        mongo_pipeline_to_df(df, [
            {"$addFields": {"x": {"$noSuchOp": 1}}}])
    with pytest.raises(ValueError, match="variables unsupported"):
        mongo_pipeline_to_df(df, [
            {"$addFields": {"x": "$$ROOT"}}])


def test_expression_map_filter_reduce_let(spark):
    df = spark.createDataFrame(
        [([1, 2, 3, 4],)], "xs array<int>")
    out = mongo_pipeline_to_df(df, [
        {"$project": {
            "doubled": {"$map": {"input": "$xs", "as": "x",
                                 "in": {"$multiply": ["$$x", 2]}}},
            "evens": {"$filter": {"input": "$xs",
                                  "cond": {"$eq": [
                                      {"$mod": ["$$this", 2]}, 0]}}},
            "total": {"$reduce": {"input": "$xs", "initialValue": 0,
                                  "in": {"$add": ["$$value", "$$this"]}}},
            "scaled": {"$let": {"vars": {"k": 10},
                                "in": {"$multiply": [
                                    {"$size": "$xs"}, "$$k"]}}},
        }},
    ])
    r = out.first()
    assert list(r.doubled) == [2, 4, 6, 8]
    assert list(r.evens) == [2, 4]
    assert r.total == 10
    assert r.scaled == 40


def test_expression_date_family(spark):
    import datetime

    df = spark.createDataFrame(
        [(datetime.datetime(2024, 3, 15, 10, 30, 45),
          datetime.datetime(2024, 3, 18, 22, 0, 0))],
        "a timestamp, b timestamp")
    out = mongo_pipeline_to_df(df, [
        {"$project": {
            "trunc_m": {"$dateTrunc": {"date": "$a", "unit": "month"}},
            "days": {"$dateDiff": {"startDate": "$a", "endDate": "$b",
                                   "unit": "day"}},
            "hours": {"$dateDiff": {"startDate": "$a", "endDate": "$b",
                                    "unit": "hour"}},
            "plus_week": {"$dateAdd": {"startDate": "$a", "unit": "week",
                                       "amount": 1}},
            "pretty": {"$dateToString": {"date": "$a",
                                         "format": "%Y-%m-%d"}},
            "is_march": {"$regexMatch": {"input": {"$dateToString": {
                "date": "$a", "format": "%Y-%m"}},
                "regex": "-03$"}},
        }},
    ])
    r = out.first()
    import datetime as dt
    assert r.trunc_m == dt.datetime(2024, 3, 1)
    assert r.days == 3
    assert r.hours == 83
    assert r.plus_week == dt.datetime(2024, 3, 22, 10, 30, 45)
    assert r.pretty == "2024-03-15"
    assert r.is_march is True


def test_top_bottom_median_accumulators(spark):
    df = spark.createDataFrame(
        [("a", 1, "p"), ("a", 5, "q"), ("a", 3, "r"),
         ("b", 9, "s"), ("b", 2, "t")],
        "grp string, score int, name string")
    out = mongo_pipeline_to_df(df, [
        {"$group": {
            "_id": "$grp",
            "best": {"$top": {"sortBy": {"score": -1},
                              "output": "$name"}},
            "worst": {"$bottom": {"sortBy": {"score": -1},
                                  "output": "$name"}},
            "med": {"$median": {"input": "$score"}},
        }},
        {"$sort": {"_id": 1}},
    ])
    rows = out.collect()
    assert [(r._id, r.best, r.worst) for r in rows] == [
        ("a", "q", "p"), ("b", "s", "t")]
    assert rows[0].med == 3
    assert rows[1].med in (2, 9)  # approx median of 2 values


def test_set_ops_range_zip_unset(spark):
    df = spark.createDataFrame(
        [([1, 2, 3], [2, 3, 4], "gone")],
        "xs array<int>, ys array<int>, junk string")
    out = mongo_pipeline_to_df(df, [
        {"$addFields": {
            "union": {"$setUnion": ["$xs", "$ys"]},
            "both": {"$setIntersection": ["$xs", "$ys"]},
            "only_x": {"$setDifference": ["$xs", "$ys"]},
            "idx": {"$indexOfArray": ["$ys", 3]},
            "missing": {"$indexOfArray": ["$ys", 99]},
            "seq": {"$range": [0, 6, 2]},
            "pairs": {"$zip": {"inputs": ["$xs", "$ys"]}},
            "rev": {"$reverseArray": "$xs"},
        }},
        {"$unset": "junk"},
    ])
    r = out.first()
    assert sorted(r.union) == [1, 2, 3, 4]
    assert sorted(r.both) == [2, 3]
    assert list(r.only_x) == [1]
    assert r.idx == 1 and r.missing == -1
    assert list(r.seq) == [0, 2, 4]
    assert [(p[0], p[1]) for p in r.pairs] == [(1, 2), (2, 3), (3, 4)]
    assert list(r.rev) == [3, 2, 1]
    assert "junk" not in out.columns


def test_lookup_pipeline_form(spark):
    """Pipeline-form $lookup: let + $expr $eq correlation compiles to
    the same pre-aggregated join; uncorrelated stages pre-filter the
    foreign side."""
    orders_df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "z")], "oid int, cust string")
    items = spark.createDataFrame(
        [("a", "x", 5), ("a", "y", 50), ("b", "w", 7)],
        "cust string, sku string, qty int")
    out = mongo_pipeline_to_df(orders_df, [
        {"$lookup": {
            "from": "items",
            "let": {"c": "$cust"},
            "pipeline": [
                {"$match": {"$expr": {"$eq": ["$$c", "$cust"]}}},
                {"$match": {"qty": {"$lt": 10}}},  # uncorrelated
                {"$project": {"sku": 1, "qty": 1}},
            ],
            "as": "small_items",
        }},
        {"$sort": {"oid": 1}},
    ], tables={"items": items})
    rows = out.collect()
    assert [sorted(d.sku for d in r.small_items) for r in rows] == [
        ["x"], ["w"], []]
    assert rows[2].small_items == []  # empty array, never null


def test_lookup_pipeline_rejects_noncommuting_stages(spark):
    left = spark.createDataFrame([(1,)], "k int")
    f = spark.createDataFrame([(1, 2)], "k int, v int")
    with pytest.raises(ValueError, match="doesn't commute|not supported"):
        mongo_pipeline_to_df(left, [
            {"$lookup": {"from": "f", "let": {"k": "$k"},
                         "pipeline": [
                             {"$match": {"$expr": {"$eq": ["$$k", "$k"]}}},
                             {"$limit": 1}],
                         "as": "m"}},
        ], tables={"f": f})
    with pytest.raises(ValueError, match="at least one"):
        mongo_pipeline_to_df(left, [
            {"$lookup": {"from": "f", "pipeline": [], "as": "m"}},
        ], tables={"f": f})


def test_densify_date_unit(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1), 1.0), (dt.datetime(2024, 1, 4), 4.0)],
        "d timestamp, v double")
    out = mongo_pipeline_to_df(df, [
        {"$densify": {"field": "d",
                      "range": {"step": 1, "unit": "day",
                                "bounds": "full"}}},
        {"$sort": {"d": 1}},
    ])
    rows = out.collect()
    assert [r.d.day for r in rows] == [1, 2, 3, 4]
    assert [r.v for r in rows] == [1.0, None, None, 4.0]


def test_set_window_fields_range_window(spark):
    """range window: sum over values within +/-1 of the current sort
    key (value-based frame, not row-based)."""
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("a", 5, 40.0)],
        "g string, k int, v double")
    out = mongo_pipeline_to_df(df, [
        {"$setWindowFields": {
            "partitionBy": "$g", "sortBy": {"k": 1},
            "output": {"near": {"$sum": "$v",
                                "window": {"range": [-1, 1]}}},
        }},
        {"$sort": {"k": 1}},
    ])
    assert [r.near for r in out.collect()] == [30.0, 30.0, 40.0]
    with pytest.raises(ValueError, match="time unit"):
        mongo_pipeline_to_df(df, [
            {"$setWindowFields": {
                "partitionBy": "$g", "sortBy": {"k": 1},
                "output": {"x": {"$sum": "$v",
                                 "window": {"range": [-1, 1],
                                            "unit": "day"}}}}},
        ])


def test_string_replace_and_index(spark):
    df = spark.createDataFrame(
        [("the cat and the dog",), ("no match here",)], "s string")
    out = mongo_pipeline_to_df(df, [
        {"$project": {
            "idx": {"$indexOfCP": ["$s", "the"]},
            "one": {"$replaceOne": {"input": "$s", "find": "the",
                                    "replacement": "a"}},
            "all": {"$replaceAll": {"input": "$s", "find": "the",
                                    "replacement": "a"}},
        }},
        {"$sort": {"idx": -1}},
    ])
    rows = out.collect()
    assert rows[0].idx == 0
    assert rows[0].one == "a cat and the dog"   # first only
    assert rows[0].all == "a cat and a dog"     # every occurrence
    assert rows[1].idx == -1                    # absent -> -1
    assert rows[1].one == "no match here"       # unchanged


def test_expression_min_max_sum_avg_forms(spark):
    df = spark.createDataFrame(
        [(3, 7, [1.0, 2.0, None, 5.0])], "a int, b int, xs array<double>")
    out = mongo_pipeline_to_df(df, [
        {"$project": {
            "mx": {"$max": ["$a", "$b", 5]},
            "mn": {"$min": ["$a", "$b"]},
            "arr_mx": {"$max": "$xs"},
            "arr_sum": {"$sum": "$xs"},       # nulls ignored, as Mongo
            "arr_avg": {"$avg": "$xs"},
            "cmp": {"$strcasecmp": ["ABC", "abd"]},
        }},
    ])
    r = out.first()
    assert r.mx == 7 and r.mn == 3
    assert r.arr_mx == 5.0
    assert r.arr_sum == 8.0
    assert abs(r.arr_avg - 8.0 / 3) < 1e-12
    assert r.cmp == -1


def test_slice_negative_and_positional_forms(spark):
    df = spark.createDataFrame([([1, 2, 3, 4, 5],)], "xs array<int>")
    out = mongo_pipeline_to_df(df, [
        {"$project": {
            "first2": {"$slice": ["$xs", 2]},
            "last2": {"$slice": ["$xs", -2]},
            "mid": {"$slice": ["$xs", 1, 3]},       # 0-based pos 1, 3 items
            "from_end": {"$slice": ["$xs", -3, 2]},  # 3rd-from-end, 2 items
        }},
    ])
    r = out.first()
    assert list(r.first2) == [1, 2]
    assert list(r.last2) == [4, 5]
    assert list(r.mid) == [2, 3, 4]
    assert list(r.from_end) == [3, 4]


def test_array_elem_at_negative_index(spark):
    df = spark.createDataFrame([([10, 20, 30],)], "xs array<int>")
    out = mongo_pipeline_to_df(df, [
        {"$project": {"first": {"$arrayElemAt": ["$xs", 0]},
                      "last": {"$arrayElemAt": ["$xs", -1]},
                      "second_last": {"$arrayElemAt": ["$xs", -2]}}},
    ])
    r = out.first()
    assert (r.first, r.last, r.second_last) == (10, 30, 20)


def test_minn_maxn_accumulators(spark):
    df = spark.createDataFrame(
        [("a", 5), ("a", 1), ("a", 9), ("a", 3), ("b", 2)],
        "g string, v int")
    out = mongo_pipeline_to_df(df, [
        {"$group": {"_id": "$g",
                    "lo2": {"$minN": {"input": "$v", "n": 2}},
                    "hi2": {"$maxN": {"input": "$v", "n": 2}}}},
        {"$sort": {"_id": 1}},
    ])
    rows = out.collect()
    assert list(rows[0].lo2) == [1, 3]
    assert list(rows[0].hi2) == [9, 5]
    assert list(rows[1].lo2) == [2]       # fewer than n -> all


def test_get_field(spark):
    df = spark.createDataFrame(
        [((1, "x"),)], "s struct<a:int, b:string>")
    out = mongo_pipeline_to_df(df, [
        {"$project": {"aa": {"$getField": {"input": "$s", "field": "a"}},
                      "bb": {"$getField": {"input": "$s", "field": "b"}}}},
    ])
    r = out.first()
    assert (r.aa, r.bb) == (1, "x")


def test_redact_matches_reference_interpreter(spark):
    """Differential test: $redact over 40 random nested docs must equal
    a direct Python interpreter of the $$PRUNE/$$KEEP/$$DESCEND
    semantics (prune removes the subtree, keep stops recursion,
    descend recurses into subdocs and array-of-doc elements)."""
    import random as _r

    rng = _r.Random(77)

    def gen_doc(i):
        return (
            i, rng.randint(0, 9),
            (rng.randint(0, 9), rng.randint(0, 99),
             (rng.randint(0, 9), rng.randint(0, 99))),
            [(rng.randint(0, 9), rng.randint(0, 99))
             for _ in range(rng.randint(0, 3))],
        )

    rows = [gen_doc(i) for i in range(40)]
    df = spark.createDataFrame(rows, """
        _id long, level int,
        sub struct<level:int, v:int, inner:struct<level:int, v:int>>,
        items array<struct<level:int, v:int>>
    """)
    cut = 5
    cond = {"$cond": [{"$lt": ["$level", cut]}, "$$DESCEND", "$$PRUNE"]}

    def redact_py(doc):
        # doc: dict with level + nested; returns redacted or None
        if doc["level"] >= cut:
            return None
        out = dict(doc)
        for k, v in doc.items():
            if isinstance(v, dict):
                out[k] = redact_py(v)
            elif isinstance(v, list):
                out[k] = [e for e in (redact_py(x) for x in v)
                          if e is not None]
        return out

    expect = {}
    for (_id, level, (sl, sv, (il, iv)), items) in rows:
        doc = {"level": level,
               "sub": {"level": sl, "v": sv,
                       "inner": {"level": il, "v": iv}},
               "items": [{"level": l, "v": v} for l, v in items]}
        red = redact_py(doc)
        if red is not None:
            expect[_id] = red

    got = {r._id: r for r in mongo_pipeline_to_df(
        df, [{"$redact": cond}]).collect()}
    assert set(got) == set(expect)
    for _id, want in expect.items():
        r = got[_id]
        if want["sub"] is None:
            assert r.sub is None
        else:
            assert (r.sub.level, r.sub.v) == (want["sub"]["level"],
                                              want["sub"]["v"])
            if want["sub"]["inner"] is None:
                assert r.sub.inner is None
            else:
                assert r.sub.inner.v == want["sub"]["inner"]["v"]
        assert [(e.level, e.v) for e in r.items] == \
            [(e["level"], e["v"]) for e in want["items"]]


def test_fill_linear_interpolation(spark):
    """$fill method:linear — interpolate across null runs on the sort
    axis; leading/trailing nulls stay null (Mongo's contract)."""
    rows = [("a", 0, 0.0), ("a", 2, None), ("a", 3, None),
            ("a", 4, 8.0), ("a", 6, None),
            ("b", 0, None), ("b", 1, 5.0)]
    df = spark.createDataFrame(rows, "g string, x int, y double")
    out = mongo_pipeline_to_df(df, [
        {"$fill": {"partitionBy": "$g", "sortBy": {"x": 1},
                   "output": {"y": {"method": "linear"}}}},
        {"$sort": {"g": 1, "x": 1}},
    ]).collect()
    got = [(r.g, r.x, r.y) for r in out]
    assert got == [
        ("a", 0, 0.0), ("a", 2, 4.0), ("a", 3, 6.0),
        ("a", 4, 8.0), ("a", 6, None),     # trailing: no next point
        ("b", 0, None), ("b", 1, 5.0),     # leading: no prior point
    ]


def test_merge_fail_modes(spark, tmp_path):
    """whenMatched/whenNotMatched 'fail': abort before writing when the
    forbidden class of document exists; succeed otherwise."""
    from hummingbird_spark.pipeline import run_pipeline

    spark.createDataFrame([(1, 10)], "_id long, v long") \
        .write.parquet(str(tmp_path / "ft.parquet"))

    # whenMatched: fail — a matching _id aborts, target untouched
    src_clash = spark.createDataFrame([(1, 99)], "_id long, v long")
    with pytest.raises(RuntimeError, match="whenMatched: fail"):
        run_pipeline(spark, src_clash, [
            {"$merge": {"into": "ft", "whenMatched": "fail"}},
        ], data_dir=str(tmp_path))
    assert spark.read.parquet(str(tmp_path / "ft.parquet")).count() == 1

    # no clash: pure insert path succeeds
    src_new = spark.createDataFrame([(2, 20)], "_id long, v long")
    got = run_pipeline(spark, src_new, [
        {"$merge": {"into": "ft", "whenMatched": "fail"}},
    ], data_dir=str(tmp_path))
    assert {r._id for r in got.collect()} == {1, 2}

    # whenNotMatched: fail — an unmatched _id aborts
    src_unmatched = spark.createDataFrame([(9, 90)], "_id long, v long")
    with pytest.raises(RuntimeError, match="whenNotMatched: fail"):
        run_pipeline(spark, src_unmatched, [
            {"$merge": {"into": "ft", "whenMatched": "replace",
                        "whenNotMatched": "fail"}},
        ], data_dir=str(tmp_path))


def test_lookup_combined_field_and_pipeline(spark):
    """Mongo 8 combined $lookup: localField/foreignField equality plus
    a pipeline refining the matched docs."""
    left = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id int, k string")
    foreign = spark.createDataFrame(
        [("a", 10, "keep"), ("a", 11, "drop"), ("b", 20, "keep")],
        "fk string, v int, tag string")
    out = mongo_pipeline_to_df(left, [
        {"$lookup": {"from": "f", "localField": "k",
                     "foreignField": "fk", "as": "m",
                     "pipeline": [
                         {"$match": {"tag": "keep"}},
                         {"$project": {"v": 1}},
                     ]}},
        {"$sort": {"id": 1}},
    ], tables={"f": foreign})
    rows = out.collect()
    assert [[m.v for m in r.m] for r in rows] == [[10], [20]]
