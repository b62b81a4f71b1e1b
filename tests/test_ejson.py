"""Extended-JSON normalization: wrapper collapse rules and the CDC
decode integration (a JSON-encoded change stream carrying canonical
extended JSON must replay into typed target columns)."""

from __future__ import annotations

import json

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hummingbird_spark.functions.ejson import normalize_extended_json


def _norm(spark, s: str) -> str:
    return (
        spark.createDataFrame([Row(j=s)])
        .select(normalize_extended_json("j").alias("o"))
        .first()
        .o
    )


def test_number_wrappers_collapse(spark):
    assert _norm(spark, '{"n": {"$numberLong": "9007199254740993"}}') \
        == '{"n": 9007199254740993}'
    assert _norm(spark, '{"n": {"$numberInt": "-5"}}') == '{"n": -5}'
    assert _norm(spark, '{"x": {"$numberDouble": "1.5E3"}}') \
        == '{"x": 1.5E3}'
    assert _norm(spark, '{"x": {"$numberDecimal": "10.99"}}') \
        == '{"x": 10.99}'


def test_date_and_oid_wrappers(spark):
    # canonical: nested $numberLong collapses first, then $date
    assert _norm(spark,
                 '{"ts": {"$date": {"$numberLong": "1700000000000"}}}') \
        == '{"ts": 1700000000000}'
    # relaxed: ISO string survives as a plain string
    assert _norm(spark, '{"ts": {"$date": "2023-11-14T22:13:20Z"}}') \
        == '{"ts": "2023-11-14T22:13:20Z"}'
    assert _norm(spark,
                 '{"_id": {"$oid": "507f1f77bcf86cd799439011"}}') \
        == '{"_id": "507f1f77bcf86cd799439011"}'


def test_untouched_shapes(spark):
    # plain JSON is idempotent under normalization
    plain = '{"a": 1, "b": "x", "c": [1, 2], "d": {"e": null}}'
    assert _norm(spark, plain) == plain
    # NaN stays a quoted string (plain JSON has no NaN literal)
    nan = '{"x": {"$numberDouble": "NaN"}}'
    assert _norm(spark, nan) == nan
    # $binary has no scalar equivalent — left intact
    binary = '{"b": {"$binary": {"base64": "AQI=", "subType": "00"}}}'
    assert _norm(spark, binary) == binary


def test_cdc_decode_with_ejson_wrappers(spark, tmp_path):
    """An insert + v2 diff update carrying extended-JSON values replay
    into typed columns via apply_cdc_batch."""
    import datetime as dt

    from hummingbird_spark.streaming.cdc import (
        apply_cdc_batch,
        decode_write_models,
        read_cdc_target,
        reduce_write_models,
    )

    def ev(seq, op, o, o2=None):
        return Row(
            ts=dt.datetime(2024, 1, 1, 0, 0, seq), seq=seq, ns="db.c",
            op=op, o=json.dumps(o), o2=json.dumps(o2) if o2 else None,
        )

    rows = [
        ev(1, "i", {"_id": {"$numberLong": "1"},
                    "n": {"$numberLong": "10"},
                    "price": {"$numberDecimal": "10.99"},
                    "oid": {"$oid": "507f1f77bcf86cd799439011"}}),
        ev(2, "u", {"diff": {"u": {"n": {"$numberInt": "20"}}}},
           o2={"_id": {"$numberLong": "1"}}),
    ]
    frame = spark.createDataFrame(rows)
    models = decode_write_models(frame, ejson=True)
    reduced = reduce_write_models(models)

    schema = T.StructType([
        T.StructField("_id", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("oid", T.StringType()),
    ])
    path = str(tmp_path / "c.parquet")
    apply_cdc_batch(spark, reduced, path, "_id", schema)
    got = read_cdc_target(spark, path).collect()
    assert len(got) == 1
    r = got[0]
    assert (r._id, r.n, r.price, r.oid) == (
        1, 20, 10.99, "507f1f77bcf86cd799439011")


def test_cdc_decode_without_ejson_leaves_wrappers(spark):
    """Default path is unchanged: the wrapper arrives as a JSON object,
    and the key is that object's JSON text."""
    import datetime as dt

    from hummingbird_spark.streaming.cdc import (
        OPLOG_SCHEMA,
        decode_write_models,
    )

    frame = spark.createDataFrame([Row(
        ts=dt.datetime(2024, 1, 1), seq=1, ns="db.c", op="i",
        o='{"_id": {"$numberLong": "1"}, "x": "a"}', o2=None,
    )], schema=OPLOG_SCHEMA)
    m = decode_write_models(frame).collect()[0]
    assert "$numberLong" in m.key
