"""Mongo-filter -> Column translator tests (F1-F4).

Filter shapes come from the reference's config fixtures
(testdata/quickstart.json: $date filter; testdata/data-only.json: $in)
and bson_reader_test.go:68 ($exists)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row

from hummingbird_spark.filters import (
    FilterError,
    mongo_filter_to_column,
)
from hummingbird_spark.sources.catalog import (
    expand_namespaces,
    is_system_namespace,
    matches_namespace,
    split_namespace,
)

ROWS = [
    Row(_id=1, color="Black", n=5, ts=dt.datetime(2021, 6, 1), tag=None),
    Row(_id=2, color="White", n=10, ts=dt.datetime(2022, 6, 1), tag="x"),
    Row(_id=3, color="Red", n=15, ts=dt.datetime(2023, 6, 1), tag="y"),
    Row(_id=4, color="Blue", n=20, ts=dt.datetime(2024, 6, 1), tag=None),
]


def _ids(spark, flt):
    df = spark.createDataFrame(ROWS)
    return sorted(r._id for r in df.filter(mongo_filter_to_column(flt)).collect())


def test_empty_filter_matches_all(spark):
    assert _ids(spark, None) == [1, 2, 3, 4]
    assert _ids(spark, {}) == [1, 2, 3, 4]


def test_in_filter(spark):
    # data-only.json: {"color": {"$in": ["Black", "White"]}}
    assert _ids(spark, {"color": {"$in": ["Black", "White"]}}) == [1, 2]


def test_nin_filter(spark):
    assert _ids(spark, {"color": {"$nin": ["Black", "White"]}}) == [3, 4]


def test_implicit_eq_and_ne(spark):
    assert _ids(spark, {"color": "Red"}) == [3]
    assert _ids(spark, {"color": {"$ne": "Red"}}) == [1, 2, 4]


def test_range_conjunction_in_one_spec(spark):
    assert _ids(spark, {"n": {"$gt": 5, "$lte": 15}}) == [2, 3]


def test_date_literal(spark):
    # quickstart.json: {"ts": {"$gt": {"$date": "2021-12-31T00:00:00Z"}}}
    assert _ids(spark, {"ts": {"$gt": {"$date": "2021-12-31T00:00:00Z"}}}) == [2, 3, 4]


def test_date_millis_literal(spark):
    ms = int(dt.datetime(2022, 12, 31, tzinfo=dt.timezone.utc).timestamp() * 1000)
    assert _ids(spark, {"ts": {"$gt": {"$date": {"$numberLong": str(ms)}}}}) == [3, 4]


def test_exists(spark):
    assert _ids(spark, {"tag": {"$exists": True}}) == [2, 3]
    assert _ids(spark, {"tag": {"$exists": False}}) == [1, 4]


def test_or_nor(spark):
    assert _ids(spark, {"$or": [{"color": "Red"}, {"n": {"$lt": 10}}]}) == [1, 3]
    assert _ids(spark, {"$nor": [{"color": "Red"}, {"n": {"$lt": 10}}]}) == [2, 4]


def test_and_of_two_fields(spark):
    assert _ids(spark, {"color": {"$ne": "Black"}, "n": {"$lt": 20}}) == [2, 3]


def test_regex(spark):
    assert _ids(spark, {"color": {"$regex": "^B"}}) == [1, 4]
    assert _ids(spark, {"color": {"$regex": "^b", "$options": "i"}}) == [1, 4]


def test_mod(spark):
    assert _ids(spark, {"n": {"$mod": [10, 0]}}) == [2, 4]


def test_not(spark):
    assert _ids(spark, {"n": {"$not": {"$gt": 10}}}) == [1, 2]


def test_bits_operators(spark):
    # n values: 5=0b0101, 10=0b1010, 15=0b1111, 20=0b10100
    assert _ids(spark, {"n": {"$bitsAllSet": 5}}) == [1, 3]      # 0b0101
    assert _ids(spark, {"n": {"$bitsAnySet": [1]}}) == [2, 3]    # bit 1
    assert _ids(spark, {"n": {"$bitsAllClear": 2}}) == [1, 4]
    assert _ids(spark, {"n": {"$bitsAnyClear": 0b1111}}) == [1, 2, 4]


def test_nested_dotted_path(spark):
    df = spark.createDataFrame([Row(_id=1, sub=Row(level1=Row(x=7)))])
    got = df.filter(
        mongo_filter_to_column({"sub.level1.x": {"$gte": 7}})
    ).count()
    assert got == 1


def test_all_operator(spark):
    df = spark.createDataFrame([
        Row(_id=1, tags=["a", "b", "c"]),
        Row(_id=2, tags=["a", "c"]),
        Row(_id=3, tags=["b"]),
    ])
    got = sorted(r._id for r in df.filter(
        mongo_filter_to_column({"tags": {"$all": ["a", "b"]}})
    ).collect())
    assert got == [1]


def test_elemmatch_scalar_and_struct(spark):
    df = spark.createDataFrame([
        Row(_id=1, xs=[1, 5, 9], recs=[Row(f=1, g=10)]),
        Row(_id=2, xs=[1, 2], recs=[Row(f=2, g=20)]),
    ])
    got = sorted(r._id for r in df.filter(
        mongo_filter_to_column({"xs": {"$elemMatch": {"$gt": 4, "$lt": 6}}})
    ).collect())
    assert got == [1]
    got2 = sorted(r._id for r in df.filter(
        mongo_filter_to_column(
            {"recs": {"$elemMatch": {"f": 2, "g": {"$gte": 15}}}}
        )
    ).collect())
    assert got2 == [2]


def test_unsupported_operator_raises():
    with pytest.raises(FilterError):
        mongo_filter_to_column({"a": {"$where": "bad"}})
    with pytest.raises(FilterError):
        mongo_filter_to_column({"$text": {"$search": "x"}})


# --- namespace helpers (F3/F4, migrator.go:237-251) ---

def test_split_namespace():
    assert split_namespace("db.coll") == ("db", "coll")
    assert split_namespace("db.coll.sub") == ("db", "coll.sub")
    assert split_namespace("db") == ("db", "")


def test_matches_namespace_wildcards():
    assert matches_namespace("db.coll", [])  # empty allows all
    assert matches_namespace("db.coll", ["db.*"])
    assert matches_namespace("db.coll", ["*.coll"])
    assert matches_namespace("db.coll", ["db.coll"])
    assert not matches_namespace("db.coll", ["other.*"])
    assert not matches_namespace("db.coll", ["db.x", "*.y"])


# (namespace, pattern): the first three are the pairs the stream's
# include filter once dropped while the copy took them
NAMESPACE_CASES = [
    ("db.a.b", "db.*"), ("db.system.js", "db.*"), ("db.a", "db.a*"),
    ("db.coll", "db.*"), ("db.coll", "*.coll"), ("db.coll", "db.coll"),
    ("db.coll", "other.*"), ("db.coll", "*"), ("db.coll", "*.*"),
    ("db", "db.*"), ("db", "db"), ("db.a", "db"), ("dbx.a", "db.*"),
    ("x.coll.sub", "*.coll"), ("x.coll.sub", "*.coll.*"),
    ("db.ab", "db.a?"), ("db.abc", "db.a?"), ("db.b", "db.[ab]"),
    ("db.c", "db.[!ab]"), ("d.b.c", "d*.c"), ("db.a", "d?.*"),
    ("db.$cmd", "db.*"), ("a+b.c", "a+b.*"), ("db.x y", "db.x *"),
    ("", "*.*"), ("db.a", ""), ("db.A", "db.a*"),
]


def test_namespace_column_matches_the_catalog_rule(spark):
    """The stream's include filter (`namespace_match_column`) and the
    copy's (`matches_namespace`) agree on every (namespace, pattern)
    pair, and on the whole pattern list, evaluated in one Spark job."""
    from pyspark.sql import functions as F

    from hummingbird_spark.streaming.oplog import namespace_match_column

    patterns = sorted({p for _, p in NAMESPACE_CASES})
    ns, pattern = F.col("ns"), F.col("pattern")
    one = F.when(F.lit(False), F.lit(False))
    for p in patterns:
        one = one.when(pattern == p, namespace_match_column(ns, [p]))
    got = spark.createDataFrame(NAMESPACE_CASES, "ns string, pattern string") \
        .select("ns", "pattern", one.alias("one"),
                namespace_match_column(ns, patterns).alias("any")).collect()
    assert [(r.ns, r.pattern, r.one, r.any) for r in got] == [
        (n, p, matches_namespace(n, [p]), matches_namespace(n, patterns))
        for n, p in NAMESPACE_CASES]


def test_system_namespace_exclusion():
    # mongo_utils.go:27,55
    assert is_system_namespace("admin.users")
    assert is_system_namespace("config.chunks")
    assert is_system_namespace("local.oplog.rs")
    assert is_system_namespace("_neutrino.tasks")
    assert is_system_namespace("db.system.views")
    assert not is_system_namespace("db.system.js")
    assert not is_system_namespace("db.coll")


def test_expand_namespaces():
    avail = ["db.a", "db.b", "other.c", "admin.x", "db.system.profile"]
    assert expand_namespaces(avail, ["db.*"]) == ["db.a", "db.b"]
    assert expand_namespaces(avail, None) == ["db.a", "db.b", "other.c"]
    assert expand_namespaces(avail, ["*.c"]) == ["other.c"]


def test_expr_predicate_in_find_filter(spark):
    """find() $expr: aggregation expressions as predicates (field-to-
    field comparisons, the thing plain find operators can't say)."""
    from hummingbird_spark.filters import mongo_filter_to_column

    df = spark.createDataFrame(
        [(1, 5, 10), (2, 20, 10), (3, 7, 7)], "id int, a int, b int")
    out = df.filter(mongo_filter_to_column(
        {"$expr": {"$gt": ["$a", "$b"]}}))
    assert [r.id for r in out.collect()] == [2]
    both = df.filter(mongo_filter_to_column(
        {"id": {"$gte": 2}, "$expr": {"$eq": ["$a", "$b"]}}))
    assert [r.id for r in both.collect()] == [3]


def test_sample_rate_filter(spark):
    df = spark.range(2000).withColumnRenamed("id", "_id")
    n = df.filter(mongo_filter_to_column({"$sampleRate": 0.25})).count()
    assert 300 < n < 700       # ~500 expected; loose probabilistic band
    assert df.filter(mongo_filter_to_column({"$sampleRate": 0.0})).count() == 0
