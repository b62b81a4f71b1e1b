"""CDC decode/fold/merge tests — the Spark analogue of
oplog_utils_test.go (update variants v4/v5, bulk-apply counts) and
oplog_streamer_test.go (stream convergence)."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hummingbird_spark.commit import read_published
from hummingbird_spark.streaming.cdc import (
    OPLOG_SCHEMA,
    apply_cdc_batch,
    decode_write_models,
    reduce_write_models,
    start_cdc_stream,
)
from hummingbird_spark.streaming.oplog import skip_oplog, unnest_apply_ops

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


def _oplog_df(spark, rows):
    return spark.createDataFrame(rows, OPLOG_SCHEMA)


def _decode(spark, rows, includes=None):
    return decode_write_models(_oplog_df(spark, rows), includes).collect()


def _py(doc):
    """A decoded map<string,variant> payload as plain Python values."""
    return {k: v.toPython() for k, v in doc.items()}


# --- decode semantics (GetWriteModels, oplog_utils.go:208-281) ---

def test_decode_insert_delete_noop(spark):
    out = _decode(spark, [
        _ev(1, "i", {"_id": 1, "x": "a"}),
        _ev(2, "d", {"_id": 1}),
        _ev(3, "n", {"msg": "periodic noop"}),
    ])
    assert [(r.kind, r.key) for r in out] == [("replace", "1"), ("delete", "1")]


def test_decode_v2_diff_update(spark):
    # oplog_utils_test.go v5 format: {$v:2, diff:{u:{...}}}
    out = _decode(spark, [
        _ev(1, "u", {"$v": 2, "diff": {"u": {"x": "b"}}}, {"_id": 7}),
        _ev(2, "u", {"$v": 2, "diff": {"i": {"n": 9}}}, {"_id": 7}),
        _ev(3, "u", {"$v": 2, "diff": {"d": {"x": True}}}, {"_id": 7}),
    ])
    assert [r.kind for r in out] == ["patch"] * 3
    assert _py(out[0].sets) == {"x": "b"}
    assert _py(out[1].sets) == {"n": 9}
    assert out[2].sets is None
    assert out[2].unsets == ["x"]


def test_decode_v4_set_and_replace(spark):
    out = _decode(spark, [
        _ev(1, "u", {"$set": {"x": "c"}}, {"_id": 3}),
        _ev(2, "u", {"$unset": {"n": 1}}, {"_id": 3}),
        _ev(3, "u", {"_id": 3, "x": "whole", "n": 1}, {"_id": 3}),
    ])
    assert [r.kind for r in out] == ["patch", "patch", "replace"]
    assert _py(out[0].sets) == {"x": "c"}
    assert out[1].unsets == ["n"]
    assert _py(out[2].doc)["x"] == "whole"


def test_decode_applyops_unnest(spark):
    # multi-statement transaction (sim.go:361-394 / oplog_utils.go:212-236)
    tx = {"applyOps": [
        {"op": "i", "ns": "db.c", "o": {"_id": 10, "x": "t1"}},
        {"op": "u", "ns": "db.c", "o": {"$set": {"x": "t2"}}, "o2": {"_id": 10}},
        {"op": "d", "ns": "db.other", "o": {"_id": 5}},
    ]}
    out = _decode(spark, [_ev(1, "c", tx, ns="db.$cmd")])
    kinds = sorted((r.ns, r.kind) for r in out)
    assert kinds == [("db.c", "patch"), ("db.c", "replace"),
                     ("db.other", "delete")]


def test_decode_nested_applyops(spark):
    # applyOps inside applyOps: the reference recurses
    # (oplog_utils.go:232); we unnest to depth 2
    inner = {"applyOps": [
        {"op": "i", "ns": "db.c", "o": {"_id": 20, "x": "deep"}},
    ]}
    outer = {"applyOps": [
        {"op": "i", "ns": "db.c", "o": {"_id": 21, "x": "shallow"}},
        {"op": "c", "ns": "db.$cmd", "o": inner},
    ]}
    out = _decode(spark, [_ev(1, "c", outer, ns="db.$cmd")])
    keys = sorted(r.key for r in out)
    assert keys == ["20", "21"]


def test_multi_namespace_stream_routing(spark, tmp_path):
    """One stream applying to two target tables simultaneously —
    per-namespace routing inside foreachBatch."""
    import shutil
    oplog_dir = str(tmp_path / "oplogs")
    target_root = str(tmp_path / "target")
    os.makedirs(oplog_dir)
    os.makedirs(target_root)
    with open(os.path.join(oplog_dir, "0.json"), "w") as f:
        for seq, ns, o in [
            (1, "db.users", {"_id": 1, "x": "u1", "n": 1}),
            (2, "db.items", {"_id": 5, "x": "i5", "n": 5}),
            (3, "db.users", {"_id": 2, "x": "u2", "n": 2}),
            (4, "db.ignored", {"_id": 9, "x": "no", "n": 9}),
        ]:
            f.write(json.dumps({
                "ts": (T0 + dt.timedelta(seconds=seq)).strftime(
                    "%Y-%m-%dT%H:%M:%S.000Z"),
                "seq": seq, "ns": ns, "op": "i",
                "o": json.dumps(o), "o2": None,
            }) + "\n")
    schemas = {"db.users": TARGET_SCHEMA, "db.items": TARGET_SCHEMA}
    q = start_cdc_stream(spark, oplog_dir, target_root, schemas,
                         includes=["db.users", "db.items"], key="_id",
                         checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    users = spark.read.parquet(f"{target_root}/users.parquet")
    items = spark.read.parquet(f"{target_root}/items.parquet")
    assert sorted(r._id for r in users.collect()) == [1, 2]
    assert [r._id for r in items.collect()] == [5]
    assert not os.path.exists(f"{target_root}/ignored.parquet")
    shutil.rmtree(target_root)


def test_skip_oplog_filters_system_and_resolves_cmd(spark):
    df = _oplog_df(spark, [
        _ev(1, "i", {"_id": 1}, ns="local.oplog.rs"),
        _ev(2, "i", {"_id": 2}, ns="config.chunks"),
        _ev(3, "i", {"_id": 3}, ns="db.keep"),
        _ev(4, "c", {"drop": "gone"}, ns="db.$cmd"),
        _ev(5, "c", {"create": "made"}, ns="db.$cmd"),
    ])
    out = skip_oplog(df).select("resolved_ns").collect()
    assert sorted(r.resolved_ns for r in out) == ["db.gone", "db.keep", "db.made"]
    # include routing (F5 + F3): only db.keep matches
    out2 = skip_oplog(df, ["db.keep"]).collect()
    assert [r.resolved_ns for r in out2] == ["db.keep"]


# --- per-key fold (ST6 ordering discipline) ---

def _reduce(spark, rows):
    models = decode_write_models(_oplog_df(spark, rows))
    return {r.key: r for r in reduce_write_models(models).collect()}


def test_fold_insert_then_update_same_batch(spark):
    # SURVEY §7 hard-part: update-after-insert-in-same-batch
    red = _reduce(spark, [
        _ev(1, "i", {"_id": 1, "x": "a", "n": 1}),
        _ev(2, "u", {"$set": {"x": "b"}}, {"_id": 1}),
    ])
    assert red["1"].action == "replace"
    assert json.loads(red["1"].doc) == {"_id": 1, "x": "b", "n": 1}


def test_fold_insert_update_delete(spark):
    red = _reduce(spark, [
        _ev(1, "i", {"_id": 2, "x": "a"}),
        _ev(2, "u", {"$set": {"x": "b"}}, {"_id": 2}),
        _ev(3, "d", {"_id": 2}),
    ])
    assert red["2"].action == "delete"


def test_fold_patch_only_accumulates(spark):
    red = _reduce(spark, [
        _ev(1, "u", {"$set": {"x": "p"}}, {"_id": 3}),
        _ev(2, "u", {"$set": {"n": 5}}, {"_id": 3}),
        _ev(3, "u", {"$unset": {"x": 1}}, {"_id": 3}),
    ])
    r = red["3"]
    assert r.action == "patch"
    assert json.loads(r.set_json) == {"n": 5}
    assert json.loads(r.unset_json) == {"x": 1}


def test_fold_same_event_set_and_unset_nets_to_unset(spark):
    # Pinned r3-verdict regression: a single legacy {$set, $unset} event
    # touching the same field applies sets-then-unsets, so the unset wins.
    # Falsifying example from test_cdc_fold_properties:
    # [patch({}, unset=[x]), patch({x:0}, unset=[x])] must leave x unset,
    # not fold to a no-op patch.
    red = _reduce(spark, [
        _ev(1, "u", {"$unset": {"x": 1}}, {"_id": 9}),
        _ev(2, "u", {"$set": {"x": 0}, "$unset": {"x": 1}}, {"_id": 9}),
    ])
    r = red["9"]
    assert r.action == "patch"
    assert r.set_json is None
    assert json.loads(r.unset_json) == {"x": 1}


def test_fold_orders_same_key_transaction_members(spark):
    # members of one applyOps share the outer event's (ts, seq): their
    # position in the transaction is the only order between them
    tx = {"applyOps": [
        {"op": "u", "ns": "db.c", "o": {"$set": {"x": f"v{i}"}},
         "o2": {"_id": 8}}
        for i in range(12)
    ]}
    red = _reduce(spark, [_ev(1, "c", tx, ns="db.$cmd")])
    assert red["8"].action == "patch"
    assert json.loads(red["8"].set_json) == {"x": "v11"}


def test_fold_delete_then_reinsert(spark):
    red = _reduce(spark, [
        _ev(1, "d", {"_id": 4}),
        _ev(2, "i", {"_id": 4, "x": "back", "n": 2}),
    ])
    assert red["4"].action == "replace"
    assert json.loads(red["4"].doc)["x"] == "back"


def test_fold_patch_after_delete_is_noop(spark):
    red = _reduce(spark, [
        _ev(1, "d", {"_id": 5}),
        _ev(2, "u", {"$set": {"x": "ghost"}}, {"_id": 5}),
    ])
    assert red["5"].action == "delete"


# --- merge-apply into parquet target (BulkWriteOplogs semantics) ---

@pytest.fixture()
def target(tmp_path, spark):
    path = str(tmp_path / "c.parquet")
    spark.createDataFrame(
        [(1, "one", 10), (2, "two", 20), (3, "three", 30)], TARGET_SCHEMA
    ).write.parquet(path)
    return path


def _apply(spark, target_path, rows):
    models = decode_write_models(_oplog_df(spark, rows))
    apply_cdc_batch(
        spark, reduce_write_models(models), target_path, "_id", TARGET_SCHEMA
    )
    return {
        r._id: r for r in spark.read.parquet(target_path).collect()
    }


def test_apply_insert_update_delete(spark, target):
    state = _apply(spark, target, [
        _ev(1, "i", {"_id": 4, "x": "four", "n": 40}),
        _ev(2, "u", {"$set": {"x": "TWO"}}, {"_id": 2}),
        _ev(3, "d", {"_id": 3}),
        _ev(4, "u", {"$unset": {"n": 1}}, {"_id": 1}),
    ])
    assert set(state) == {1, 2, 4}
    assert state[2].x == "TWO" and state[2].n == 20
    assert state[4].x == "four"
    assert state[1].n is None  # $unset -> null (declared deviation)


def test_apply_patch_on_missing_key_is_noop(spark, target):
    state = _apply(spark, target, [
        _ev(1, "u", {"$set": {"x": "nope"}}, {"_id": 99}),
    ])
    assert set(state) == {1, 2, 3}



def test_apply_set_null_value(spark, target):
    """$set {"field": null} stores null (key presence, not value,
    decides — matches MongoDB; the previous value-null check skipped it)."""
    state = _apply(spark, target, [
        _ev(1, "u", {"$set": {"x": None}}, {"_id": 1}),
    ])
    assert state[1].x is None and state[1].n == 10

def test_apply_replace_existing(spark, target):
    state = _apply(spark, target, [
        _ev(1, "u", {"_id": 1, "x": "replaced", "n": 111}, {"_id": 1}),
    ])
    assert state[1].x == "replaced" and state[1].n == 111


def test_apply_is_idempotent(spark, target):
    rows = [
        _ev(1, "i", {"_id": 7, "x": "seven", "n": 70}),
        _ev(2, "u", {"$set": {"x": "SEVEN"}}, {"_id": 7}),
        _ev(3, "d", {"_id": 2}),
    ]
    s1 = _apply(spark, target, rows)
    s2 = _apply(spark, target, rows)  # replay the same batch (ST7)
    assert {k: (v.x, v.n) for k, v in s1.items()} == {
        k: (v.x, v.n) for k, v in s2.items()
    }


DOUBLE_KEY_SCHEMA = T.StructType([
    T.StructField("_id", T.DoubleType()),
    T.StructField("x", T.StringType()),
    T.StructField("n", T.LongType()),
])


@pytest.mark.parametrize("num_buckets", [None, 8])
def test_apply_whole_valued_double_key(spark, tmp_path, num_buckets):
    """A double _id such as 10.0 — plain, or as the canonical extended
    JSON {"$numberDouble": "10.0"} — keys its row as
    CAST(_id AS STRING) does, "10.0": an insert of the key, a replace,
    a patch and a delete each act on the one row."""
    from hummingbird_spark.streaming.cdc import apply_cdc_batch_bucketed
    path = str(tmp_path / "t.parquet")
    wrapped = {"_id": {"$numberDouble": "10.0"}}

    def batch(rows):
        models = reduce_write_models(decode_write_models(
            _oplog_df(spark, rows), ejson=True))
        if num_buckets:
            apply_cdc_batch_bucketed(spark, models, path, "_id",
                                     DOUBLE_KEY_SCHEMA,
                                     num_buckets=num_buckets)
        else:
            apply_cdc_batch(spark, models, path, "_id", DOUBLE_KEY_SCHEMA)
        return sorted((r._id, r.x, r.n) for r in read_published(
            spark, path).drop("__bucket").collect())

    assert batch([_ev(1, "i", {"_id": 10.0, "x": "a", "n": 1}),
                  _ev(2, "i", {"_id": 11, "x": "k", "n": 0})]) \
        == [(10.0, "a", 1), (11.0, "k", 0)]
    assert batch([_ev(3, "u", {"_id": 10.0, "x": "b", "n": 2}, wrapped)]) \
        == [(10.0, "b", 2), (11.0, "k", 0)]
    assert batch([_ev(4, "u", {"$set": {"n": 3}}, wrapped)]) \
        == [(10.0, "b", 3), (11.0, "k", 0)]
    assert batch([_ev(5, "i", {"_id": 10.0, "x": "c", "n": 4})]) \
        == [(10.0, "c", 4), (11.0, "k", 0)]
    assert batch([_ev(6, "d", wrapped)]) == [(11.0, "k", 0)]


# --- end-to-end streaming convergence (oplog_streamer_test.go analogue) ---

@pytest.mark.parametrize("num_buckets", [None, 8])
def test_stream_convergence_with_checkpoint_restart(spark, tmp_path,
                                                    num_buckets):
    oplog_dir = str(tmp_path / "oplogs")
    target_root = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(oplog_dir)
    os.makedirs(target_root)

    def write_file(name, rows):
        with open(os.path.join(oplog_dir, name), "w") as f:
            for ts, seq, ns, op, o, o2 in rows:
                f.write(json.dumps({
                    "ts": ts.strftime("%Y-%m-%dT%H:%M:%S.000Z"),
                    "seq": seq, "ns": ns, "op": op, "o": o, "o2": o2,
                }) + "\n")

    schemas = {"db.c": TARGET_SCHEMA}

    # phase 1: backfill-time capture (spool) — inserts + a transaction
    write_file("00.json", [
        _ev(1, "i", {"_id": 1, "x": "a", "n": 1}),
        _ev(2, "i", {"_id": 2, "x": "b", "n": 2}),
        _ev(3, "c", {"applyOps": [
            {"op": "i", "ns": "db.c", "o": {"_id": 3, "x": "tx", "n": 3}},
            {"op": "u", "ns": "db.c", "o": {"$set": {"x": "tx2"}},
             "o2": {"_id": 3}},
        ]}, ns="db.$cmd"),
    ])
    q = start_cdc_stream(spark, oplog_dir, target_root, schemas,
                         includes=["db.c"], checkpoint=ckpt,
                         num_buckets=num_buckets)
    q.awaitTermination(120)
    state = {r._id: r for r in read_published(
        spark, f"{target_root}/c.parquet").drop("__bucket").collect()}
    assert set(state) == {1, 2, 3}
    assert state[3].x == "tx2"

    # phase 2: restart from checkpoint — only the new file is applied
    write_file("01.json", [
        _ev(10, "u", {"$v": 2, "diff": {"u": {"x": "A"}}}, {"_id": 1}),
        _ev(11, "d", {"_id": 2}),
        _ev(12, "i", {"_id": 4, "x": "d", "n": 4}),
    ])
    q2 = start_cdc_stream(spark, oplog_dir, target_root, schemas,
                          includes=["db.c"], checkpoint=ckpt,
                          num_buckets=num_buckets)
    q2.awaitTermination(120)
    state = {r._id: r for r in read_published(
        spark, f"{target_root}/c.parquet").drop("__bucket").collect()}
    assert set(state) == {1, 3, 4}
    assert state[1].x == "A" and state[1].n == 1


# ---------------------------------------------------------------------------
# Bucketed (partition-pruned) merge
# ---------------------------------------------------------------------------

def _apply_bucketed(spark, target_path, rows, num_buckets=8, evolve=False):
    from hummingbird_spark.streaming.cdc import apply_cdc_batch_bucketed
    models = decode_write_models(_oplog_df(spark, rows))
    apply_cdc_batch_bucketed(
        spark, reduce_write_models(models), target_path, "_id",
        TARGET_SCHEMA, num_buckets=num_buckets, evolve=evolve,
    )
    return {r._id: r for r in
            read_published(spark, target_path).drop("__bucket").collect()}


def test_bucketed_apply_matches_flat(spark, tmp_path):
    """The bucketed merge must converge to the same state as the flat
    merge over a multi-batch history."""
    batches = [
        [_ev(i, "i", {"_id": i, "x": f"v{i}", "n": i * 10}) for i in range(20)],
        [_ev(30, "u", {"$set": {"x": "patched"}}, {"_id": 3}),
         _ev(31, "d", {"_id": 7}),
         _ev(32, "u", {"$unset": {"n": 1}}, {"_id": 11})],
        [_ev(40, "i", {"_id": 100, "x": "new", "n": 1}),
         _ev(41, "u", {"_id": 5, "x": "replaced", "n": 555}, {"_id": 5})],
    ]
    flat, bucketed = str(tmp_path / "flat"), str(tmp_path / "bucketed")
    for rows in batches:
        models = decode_write_models(_oplog_df(spark, rows))
        apply_cdc_batch(spark, reduce_write_models(models), flat, "_id",
                        TARGET_SCHEMA)
        _apply_bucketed(spark, bucketed, rows)
    a = {tuple(r) for r in spark.read.parquet(flat).collect()}
    b = {tuple(r) for r in
         read_published(spark, bucketed).drop("__bucket").collect()}
    assert a == b and len(a) == 20


def test_bucketed_apply_prunes_untouched_partitions(spark, tmp_path):
    """A batch touching one key must not rewrite (or even re-read) the
    other buckets: untouched partition files stay byte-identical."""
    import glob as g
    target = str(tmp_path / "t")
    _apply_bucketed(spark, target, [
        _ev(i, "i", {"_id": i, "x": f"v{i}", "n": i}) for i in range(50)
    ])
    before = {p: os.stat(p).st_mtime_ns
              for p in g.glob(f"{target}/__bucket=*/*.parquet")}
    assert len(g.glob(f"{target}/__bucket=*")) > 1

    state = _apply_bucketed(spark, target, [
        _ev(100, "u", {"$set": {"x": "hot"}}, {"_id": 17}),
    ])
    assert state[17].x == "hot" and len(state) == 50

    from pyspark.sql import functions as FF
    from hummingbird_spark.streaming.cdc import _bucket_col
    hot_bucket = spark.range(1).select(
        _bucket_col(FF.lit("17"), 8).alias("b")).collect()[0].b
    after = {p: os.stat(p).st_mtime_ns
             for p in g.glob(f"{target}/__bucket=*/*.parquet")}
    untouched_before = {p: t for p, t in before.items()
                        if f"__bucket={hot_bucket}/" not in p}
    assert untouched_before  # there are other buckets
    for p, t in untouched_before.items():
        assert after[p] == t, f"untouched partition rewritten: {p}"


def test_bucketed_apply_clears_emptied_bucket(spark, tmp_path):
    """Deleting every key of a bucket must empty it — not leave stale
    files behind (the dynamic-partition-overwrite trap)."""
    target = str(tmp_path / "t")
    state = _apply_bucketed(spark, target, [
        _ev(1, "i", {"_id": 1, "x": "a", "n": 1}),
        _ev(2, "i", {"_id": 2, "x": "b", "n": 2}),
    ], num_buckets=2)
    state = _apply_bucketed(spark, target, [
        _ev(10, "d", {"_id": 1}),
        _ev(11, "d", {"_id": 2}),
    ], num_buckets=2)
    assert state == {}


def test_read_cdc_target_raises_on_corrupt_target(spark, tmp_path):
    """Only a target with no data file (an existing one holding
    `_SUCCESS` alone, or a missing one) reads as no table; a truncated
    part file must raise, not read as empty."""
    import glob

    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    assert read_published(spark, str(empty)) is None
    assert read_published(spark, str(tmp_path / "missing")) is None

    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a", 1)], TARGET_SCHEMA).write.parquet(path)
    part = glob.glob(os.path.join(path, "part-*.parquet"))[0]
    with open(part, "r+b") as fh:
        fh.truncate(16)
    for crc in glob.glob(os.path.join(path, ".*.crc")):
        os.remove(crc)
    with pytest.raises(Exception):
        read_published(spark, path).collect()


# --- schema evolution (schemaless-source parity, SURVEY §1.2) ---

def test_apply_evolves_schema_with_new_fields(spark, tmp_path):
    """A later batch introduces fields the target never saw: inserts
    with `extra`, a patch $set-ing `score`. With evolve=True the
    target gains the columns (inferred string/double), pre-existing
    rows read NULL there, and untouched columns are unchanged."""
    path = str(tmp_path / "t.parquet")
    b1 = reduce_write_models(decode_write_models(_oplog_df(spark, [
        _ev(1, "i", {"_id": 1, "x": "a", "n": 10}),
        _ev(2, "i", {"_id": 2, "x": "b", "n": 20}),
    ])))
    apply_cdc_batch(spark, b1, path, "_id", TARGET_SCHEMA, evolve=True)

    b2 = reduce_write_models(decode_write_models(_oplog_df(spark, [
        _ev(3, "i", {"_id": 3, "x": "c", "n": 30, "extra": "hello"}),
        _ev(4, "u", {"$set": {"score": 1.5}}, {"_id": 1}),
    ])))
    apply_cdc_batch(spark, b2, path, "_id", TARGET_SCHEMA, evolve=True)

    got = {r._id: r for r in spark.read.parquet(path).collect()}
    assert set(got) == {1, 2, 3}
    assert got[3].extra == "hello"
    assert got[1].extra is None and got[2].extra is None
    assert got[1].score == 1.5
    assert got[2].score is None
    assert dict(spark.read.parquet(path).dtypes)["score"] == "double"
    assert dict(spark.read.parquet(path).dtypes)["extra"] == "string"
    # untouched values survived both merges
    assert (got[1].x, got[1].n) == ("a", 10)


def test_evolve_type_conflict_degrades_to_string(spark):
    from hummingbird_spark.streaming.cdc import evolve_schema

    models = reduce_write_models(decode_write_models(_oplog_df(spark, [
        _ev(1, "i", {"_id": 1, "mixed": 5}),
        _ev(2, "i", {"_id": 2, "mixed": "five"}),
    ])))
    out = evolve_schema(models, TARGET_SCHEMA)
    assert dict((f.name, f.dataType.simpleString())
                for f in out.fields)["mixed"] == "string"


@pytest.mark.parametrize("at", [401, 777, 1500, 1999])
def test_evolve_types_a_new_field_from_every_model(spark, tmp_path, at):
    """2,000 inserts carry a new field `z`, an integer in every row but
    the one keyed `at`, where it is a string: `z` evolves as a string,
    whatever the row's place in the batch, so no value is written as
    NULL."""
    path = str(tmp_path / "t.parquet")
    models = reduce_write_models(decode_write_models(_oplog_df(spark, [
        _ev(k, "i", {"_id": k, "x": "a", "n": k,
                     "z": f"s{k}" if k == at else k})
        for k in range(2000)])))
    apply_cdc_batch(spark, models, path, "_id", TARGET_SCHEMA, evolve=True)
    got = spark.read.parquet(path)
    assert dict(got.dtypes)["z"] == "string"
    z = {r._id: r.z for r in got.select("_id", "z").collect()}
    assert len(z) == 2000 and z[at] == f"s{at}" and z[at - 1] == str(at - 1)


def test_evolve_whole_and_fractional_numbers_infer_double(spark):
    # a whole-valued double such as 10.0 stays a double through the fold
    from hummingbird_spark.streaming.cdc import evolve_schema

    models = reduce_write_models(decode_write_models(_oplog_df(spark, [
        _ev(1, "i", {"_id": 1, "price": 10.0}),
        _ev(2, "i", {"_id": 2, "price": 10.5}),
    ])))
    out = evolve_schema(models, TARGET_SCHEMA)
    assert dict((f.name, f.dataType.simpleString())
                for f in out.fields)["price"] == "double"


def test_evolve_whole_valued_doubles_then_fractions(spark, tmp_path):
    """New fields whose first values are whole-valued doubles, carried
    by a replace and by a $set on an existing row, evolve as double, so
    the fractions a later batch brings are kept."""
    path = str(tmp_path / "t.parquet")

    def batch(rows):
        models = reduce_write_models(
            decode_write_models(_oplog_df(spark, rows)))
        apply_cdc_batch(spark, models, path, "_id", TARGET_SCHEMA,
                        evolve=True)
        return {r._id: r for r in spark.read.parquet(path).collect()}

    batch([_ev(1, "i", {"_id": 1, "x": "a", "n": 1}),
           _ev(2, "i", {"_id": 2, "x": "b", "n": 2})])
    batch([_ev(3, "u", {"_id": 1, "x": "a", "n": 1, "price": 10.0},
               {"_id": 1}),
           _ev(4, "u", {"$set": {"rate": 20.0}}, {"_id": 2})])
    assert dict(spark.read.parquet(path).dtypes)["price"] == "double"
    assert dict(spark.read.parquet(path).dtypes)["rate"] == "double"
    got = batch([_ev(5, "u", {"$set": {"price": 10.5}}, {"_id": 1}),
                 _ev(6, "u", {"_id": 2, "x": "b", "n": 2, "rate": 20.5},
                     {"_id": 2})])
    assert (got[1].price, got[2].rate) == (10.5, 20.5)


def test_string_column_text_of_nested_values(spark, tmp_path):
    """A nested object landing in a string column. A replace passes its
    source text on, so the column reads what a full load of the same
    document reads. A patch's value is re-serialized from its parsed
    form: the same JSON value, with keys in name order and a nested
    whole-valued double's trailing .0 dropped."""
    path = str(tmp_path / "t.parquet")
    nested = {"b": 1, "a": 10.0}
    doc = {"_id": 1, "x": nested, "n": 1}
    for rows in ([_ev(1, "i", doc), _ev(2, "i", {"_id": 2, "x": "s"})],
                 [_ev(3, "u", {"$set": {"x": nested}}, {"_id": 2})]):
        models = reduce_write_models(
            decode_write_models(_oplog_df(spark, rows)))
        apply_cdc_batch(spark, models, path, "_id", TARGET_SCHEMA)
    got = {r._id: r.x for r in spark.read.parquet(path).collect()}
    full_load = spark.range(1).select(
        F.from_json(F.lit(json.dumps(doc)), TARGET_SCHEMA)["x"]).first()[0]
    assert got[1] == full_load == '{"b":1,"a":10.0}'
    assert got[2] == '{"a":10,"b":1}'
    assert json.loads(got[2]) == nested


def test_evolve_no_new_fields_is_identity(spark):
    from hummingbird_spark.streaming.cdc import evolve_schema

    models = reduce_write_models(decode_write_models(_oplog_df(spark, [
        _ev(1, "i", {"_id": 1, "x": "a"}),
    ])))
    assert evolve_schema(models, TARGET_SCHEMA) == TARGET_SCHEMA


def test_bucketed_apply_evolves_across_buckets(spark, tmp_path):
    """Schema evolution on the bucketed layout: only touched buckets are
    rewritten, so old- and new-width files coexist; reads by the schema
    record, which holds the union, fill the gaps with NULL. Keys are
    spread so batch 2 touches a strict subset of buckets."""
    from hummingbird_spark.streaming.cdc import apply_cdc_batch_bucketed

    path = str(tmp_path / "bt.parquet")
    b1 = reduce_write_models(decode_write_models(_oplog_df(spark, [
        _ev(i, "i", {"_id": i, "x": f"x{i}", "n": i * 10})
        for i in range(1, 9)
    ])))
    apply_cdc_batch_bucketed(spark, b1, path, "_id", TARGET_SCHEMA,
                             num_buckets=4, evolve=True)

    b2 = reduce_write_models(decode_write_models(_oplog_df(spark, [
        _ev(100, "u", {"$set": {"grade": "A"}}, {"_id": 1}),
    ])))
    apply_cdc_batch_bucketed(spark, b2, path, "_id", TARGET_SCHEMA,
                             num_buckets=4, evolve=True)

    got = {r._id: r for r in
           read_published(spark, path).drop("__bucket").collect()}
    assert set(got) == set(range(1, 9))
    assert got[1].grade == "A"
    for i in range(2, 9):
        assert got[i].grade is None, i
    assert (got[1].x, got[1].n) == ("x1", 10)


def test_stream_with_evolve_picks_up_new_fields(spark, tmp_path):
    """End-to-end: a checkpointed stream with evolve=True widens the
    target when a later file introduces a new field."""
    oplog_dir = tmp_path / "oplog"
    oplog_dir.mkdir()
    target_root = str(tmp_path / "tgt")

    def write_file(name, events):
        with open(oplog_dir / name, "w") as fh:
            for ts, seq, ns, op, o, o2 in events:
                fh.write(json.dumps({
                    "ts": ts.isoformat(), "seq": seq, "ns": ns,
                    "op": op, "o": o, "o2": o2,
                }) + "\n")

    write_file("b1.json", [_ev(1, "i", {"_id": 1, "x": "a", "n": 1})])
    q = start_cdc_stream(
        spark, str(oplog_dir), target_root, {"db.c": TARGET_SCHEMA},
        evolve=True,
    )
    q.awaitTermination(120)

    write_file("b2.json", [
        _ev(2, "i", {"_id": 2, "x": "b", "n": 2, "tag": "new"}),
    ])
    q = start_cdc_stream(
        spark, str(oplog_dir), target_root, {"db.c": TARGET_SCHEMA},
        evolve=True,
    )
    q.awaitTermination(120)

    got = {r._id: r for r in
           read_published(spark, f"{target_root}/c.parquet").collect()}
    assert got[2].tag == "new"
    assert got[1].tag is None


def test_bucketed_apply_one_file_per_bucket(spark, tmp_path):
    """Each bucket directory holds exactly ONE data file after seed and
    after incremental merges — without the pre-write repartition, every
    upstream task writes its own fragment per bucket and small files
    compound with every batch (the 100 TB killer for a streaming sink)."""
    import glob as g
    target = str(tmp_path / "t")
    _apply_bucketed(spark, target, [
        _ev(i, "i", {"_id": i, "x": f"v{i}", "n": i}) for i in range(200)
    ])
    for d in g.glob(f"{target}/__bucket=*"):
        files = g.glob(f"{d}/*.parquet")
        assert len(files) == 1, f"{d}: {len(files)} files after seed"

    _apply_bucketed(spark, target, [
        _ev(300 + i, "u", {"$set": {"x": "hot"}}, {"_id": i})
        for i in range(0, 200, 3)
    ])
    for d in g.glob(f"{target}/__bucket=*"):
        files = g.glob(f"{d}/*.parquet")
        assert len(files) == 1, f"{d}: {len(files)} files after merge"


def test_evolved_column_survives_later_batches(spark, tmp_path):
    """A batch that doesn't mention a previously-evolved field must not
    narrow the target: the column and its values survive later merges,
    with evolve on OR off (retention is unconditional)."""
    path = str(tmp_path / "t.parquet")

    def batch(rows, evolve):
        models = reduce_write_models(
            decode_write_models(_oplog_df(spark, rows)))
        apply_cdc_batch(spark, models, path, "_id", TARGET_SCHEMA,
                        evolve=evolve)

    batch([_ev(1, "i", {"_id": 1, "x": "a", "n": 1})], evolve=True)
    batch([_ev(2, "i", {"_id": 2, "x": "b", "n": 2, "tag": "new"})],
          evolve=True)
    # the regression: a tag-less batch used to rewrite the target
    # down to base width, dropping doc 2's tag entirely
    batch([_ev(3, "i", {"_id": 3, "x": "c", "n": 3})], evolve=True)
    got = {r._id: r for r in spark.read.parquet(path).collect()}
    assert got[2].tag == "new" and got[1].tag is None and got[3].tag is None

    # evolve=False on an already-evolved target: still retained
    batch([_ev(4, "i", {"_id": 4, "x": "d", "n": 4})], evolve=False)
    got = {r._id: r for r in spark.read.parquet(path).collect()}
    assert got[2].tag == "new" and got[4].tag is None


def test_copy_append_keeps_its_column_through_cdc(spark, tmp_path):
    """A top-up copy appends files carrying a column the CDC target
    lacks. The append drops the schema record the earlier CDC batch
    published, so the next batch reads the appended column and keeps
    it in every row it rewrites."""
    from hummingbird_spark.config import Include, MigrationConfig
    from hummingbird_spark.operators.copy import copy_table

    src, tgt = tmp_path / "src", tmp_path / "tgt"
    path = str(tgt / "c.parquet")

    def batch(rows):
        models = reduce_write_models(
            decode_write_models(_oplog_df(spark, rows)))
        apply_cdc_batch(spark, models, path, "_id", TARGET_SCHEMA)

    batch([_ev(1, "i", {"_id": 1, "x": "a", "n": 1})])
    spark.createDataFrame(
        [(2, "b", 2, "e")], "_id long, x string, n long, extra string",
    ).write.parquet(str(src / "c.parquet"))
    cfg = MigrationConfig(command="data-only", source=str(src),
                          target=str(tgt), key="_id")
    assert copy_table(spark, cfg, Include(namespace="c")).rows_copied == 1
    batch([_ev(2, "u", {"$set": {"x": "B"}}, {"_id": 2}),
           _ev(3, "i", {"_id": 3, "x": "c", "n": 3})])
    got = {r._id: r for r in spark.read.parquet(path).collect()}
    assert (got[2].x, got[2].extra) == ("B", "e")
    assert got[1].extra is None and got[3].extra is None


def test_bucketed_evolved_column_survives_bucket_rewrite(spark, tmp_path):
    """Rewriting an evolved doc's bucket with a batch that doesn't
    carry the evolved field must keep the field's values."""
    path = str(tmp_path / "t.parquet")
    _apply_bucketed(spark, path, [
        _ev(i, "i", {"_id": i, "x": f"v{i}", "n": i}) for i in range(10)
    ])
    state = _apply_bucketed(spark, path, [
        _ev(20, "i", {"_id": 2, "x": "v2", "n": 2, "grade": "A"}),
    ], evolve=True)
    assert state[2].grade == "A"
    # patch doc 2 itself (same bucket) WITHOUT mentioning grade
    state = _apply_bucketed(spark, path, [
        _ev(30, "u", {"$set": {"x": "patched"}}, {"_id": 2}),
    ], evolve=True)
    assert state[2].x == "patched"
    assert state[2].grade == "A", "evolved column lost in bucket rewrite"


def test_apply_stats_counters(spark, tmp_path):
    """A6/BulkWriteOplogsResult parity: per-batch inserted/updated/
    deleted/noop counts, observed on the merge plan (no extra pass)."""
    path = str(tmp_path / "t.parquet")

    def run(rows):
        models = reduce_write_models(
            decode_write_models(_oplog_df(spark, rows)))
        return apply_cdc_batch(spark, models, path, "_id", TARGET_SCHEMA)

    s1 = run([_ev(i, "i", {"_id": i, "x": f"v{i}", "n": i})
              for i in range(5)])
    assert (s1.inserted, s1.updated, s1.deleted, s1.noops) == (5, 0, 0, 0)

    s2 = run([
        _ev(10, "u", {"$set": {"x": "p"}}, {"_id": 1}),    # update hit
        _ev(11, "d", {"_id": 2}),                           # delete hit
        _ev(12, "u", {"$set": {"x": "q"}}, {"_id": 99}),    # patch miss
        _ev(13, "i", {"_id": 50, "x": "new", "n": 0}),      # insert
        _ev(14, "d", {"_id": 98}),                          # delete miss
    ])
    assert (s2.inserted, s2.updated, s2.deleted, s2.noops) == (1, 1, 1, 2)
    assert s2.total == 5

    # bucketed variant reports the same shape
    from hummingbird_spark.streaming.cdc import apply_cdc_batch_bucketed
    bpath = str(tmp_path / "b.parquet")
    models = reduce_write_models(decode_write_models(_oplog_df(spark, [
        _ev(i, "i", {"_id": i, "x": f"v{i}", "n": i}) for i in range(7)
    ])))
    sb = apply_cdc_batch_bucketed(spark, models, bpath, "_id",
                                  TARGET_SCHEMA, num_buckets=4)
    assert (sb.inserted, sb.updated, sb.deleted, sb.noops) == (7, 0, 0, 0)
    models2 = reduce_write_models(decode_write_models(_oplog_df(spark, [
        _ev(20, "d", {"_id": 3}),
        _ev(21, "u", {"$set": {"n": 99}}, {"_id": 4}),
    ])))
    sb2 = apply_cdc_batch_bucketed(spark, models2, bpath, "_id",
                                   TARGET_SCHEMA, num_buckets=4)
    assert (sb2.inserted, sb2.updated, sb2.deleted, sb2.noops) == (0, 1, 1, 0)


def test_apply_stats_survive_empty_result(spark, tmp_path):
    """Delete-everything batch: the merge result is runtime-empty, AQE
    drops the CollectMetrics node, and the counters come from the exact
    pre-swap recompute instead of silently failing."""
    path = str(tmp_path / "t.parquet")

    def run(rows):
        models = reduce_write_models(
            decode_write_models(_oplog_df(spark, rows)))
        return apply_cdc_batch(spark, models, path, "_id", TARGET_SCHEMA)

    run([_ev(1, "i", {"_id": 1, "x": "a", "n": 1}),
         _ev(2, "i", {"_id": 2, "x": "b", "n": 2})])
    s = run([_ev(10, "d", {"_id": 1}), _ev(11, "d", {"_id": 2})])
    assert (s.inserted, s.updated, s.deleted, s.noops) == (0, 0, 2, 0)
    assert spark.read.parquet(path).count() == 0


def test_stream_reports_apply_stats(spark, tmp_path):
    """The streaming entrypoint surfaces per-(namespace, batch)
    ApplyStats through on_stats — the reference's bulk-write counter
    log line."""
    oplog_dir = tmp_path / "oplog"
    oplog_dir.mkdir()
    with open(oplog_dir / "b1.json", "w") as fh:
        for ts, seq, ns, op, o, o2 in [
            _ev(1, "i", {"_id": 1, "x": "a", "n": 1}),
            _ev(2, "i", {"_id": 2, "x": "b", "n": 2}),
            _ev(3, "u", {"$set": {"x": "p"}}, {"_id": 1}),
            _ev(4, "d", {"_id": 9}),
        ]:
            fh.write(json.dumps({
                "ts": ts.isoformat(), "seq": seq, "ns": ns,
                "op": op, "o": o, "o2": o2,
            }) + "\n")

    seen = []
    q = start_cdc_stream(
        spark, str(oplog_dir), str(tmp_path / "tgt"),
        {"db.c": TARGET_SCHEMA},
        on_stats=lambda ns, bid, s: seen.append((ns, s)),
    )
    q.awaitTermination(120)
    assert len(seen) == 1
    ns, s = seen[0]
    assert ns == "db.c"
    # the fold collapses i+u on _id 1 to one replace-with-patch model
    assert (s.inserted, s.deleted, s.noops) == (2, 0, 1)


# --- one scan, one JVM fold per micro-batch ---

# Spark jobs of one decode -> fold -> apply_cdc_batch onto an existing flat
# target: measured 3 (the query stages of the merge write) once the fold
# shuffled on the key alone, which the merge's join reuses; 4 before, and
# 5 before each publish recorded the target's schema (the extra one being
# the schema-inference read of the target's footers).
FLAT_BATCH_JOBS = 3


def test_batch_scans_once_and_folds_in_the_jvm(spark, tmp_path):
    rows = [
        _ev(1, "i", {"_id": 1, "x": "a", "n": 1}),
        _ev(2, "c", {"applyOps": [
            {"op": "u", "ns": "db.c", "o": {"$set": {"x": "t"}},
             "o2": {"_id": 1}},
            {"op": "i", "ns": "db.c", "o": {"_id": 2, "x": "b", "n": 2}},
        ]}, ns="db.$cmd"),
        _ev(3, "u", {"$v": 2, "diff": {"u": {"n": 5}}}, {"_id": 2}),
        _ev(4, "d", {"_id": 9}),
    ]
    oplog_dir = tmp_path / "oplog"
    oplog_dir.mkdir()
    with open(oplog_dir / "b1.json", "w") as fh:
        for ts, seq, ns, op, o, o2 in rows:
            fh.write(json.dumps({
                "ts": ts.isoformat(), "seq": seq, "ns": ns,
                "op": op, "o": o, "o2": o2,
            }) + "\n")
    q = start_cdc_stream(spark, str(oplog_dir), str(tmp_path / "tgt"),
                         {"db.c": TARGET_SCHEMA})
    q.awaitTermination(120)
    # the file source is scanned once per batch: one input row per line
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert progress
    assert all(p["numInputRows"] == len(rows) for p in progress)

    def reduced():
        return reduce_write_models(
            decode_write_models(_oplog_df(spark, rows)))

    plan = reduced()._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan

    path = str(tmp_path / "flat.parquet")
    apply_cdc_batch(spark, reduced(), path, "_id", TARGET_SCHEMA)
    sc = spark.sparkContext
    group = f"cdc-batch-job-guard-{tmp_path.name}"
    sc.setJobGroup(group, "decode -> fold -> apply_cdc_batch")
    try:
        apply_cdc_batch(spark, reduced(), path, "_id", TARGET_SCHEMA)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= FLAT_BATCH_JOBS, jobs



# Spark jobs of one decode -> fold -> bucketed apply_cdc_batch (16
# buckets, 200 keys, a 5-key patch batch) onto an existing target:
# measured 7 (the bucket listing, then the query stages of the merge
# write) once the fold shuffled on the key alone; 8 before, and 9 before
# the bucketed layout read its target by the schema record (the extra
# one being the mergeSchema read of every bucket's footers).
BUCKETED_BATCH_JOBS = 7


def test_bucketed_batch_reads_by_its_schema_record(spark, tmp_path):
    """Every bucketed publish records the target's schema beside the
    bucket directories, and the next batch and read_published read by
    it: no schema-inference job, and a target whose every key was
    deleted still reads as empty, with its schema."""
    from hummingbird_spark.commit import SCHEMA_RECORD

    path = str(tmp_path / "bt.parquet")

    def batch(rows, evolve=False):
        apply_cdc_batch(spark, reduce_write_models(decode_write_models(
            _oplog_df(spark, rows))), path, "_id", TARGET_SCHEMA,
            evolve=evolve, num_buckets=16)

    def read():
        with open(os.path.join(path, SCHEMA_RECORD)) as fh:
            recorded = T.StructType.fromJson(json.load(fh))
        got = read_published(spark, path).drop("__bucket")
        assert got.schema == recorded
        return got

    batch([_ev(i, "i", {"_id": i, "x": f"v{i}", "n": i})
           for i in range(200)])
    assert read().count() == 200
    batch([_ev(300, "u", {"$set": {"grade": "A"}}, {"_id": 7})],
          evolve=True)
    assert read().columns == ["_id", "x", "n", "grade"]

    sc = spark.sparkContext
    group = f"cdc-bucketed-job-guard-{tmp_path.name}"
    sc.setJobGroup(group, "decode -> fold -> bucketed apply_cdc_batch")
    try:
        batch([_ev(400 + i, "u", {"$set": {"n": -i}}, {"_id": i * 37})
               for i in range(5)])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= BUCKETED_BATCH_JOBS, jobs
    got = {r._id: r for r in read().collect()}
    assert (got[37].n, got[7].grade, got[8].grade) == (-1, "A", None)

    batch([_ev(500 + i, "d", {"_id": i}) for i in range(200)])
    emptied = read()
    assert emptied.count() == 0
    assert emptied.columns == ["_id", "x", "n", "grade"]


# --- one job chain per single-target micro-batch ---

def _write_oplog(oplog_dir, name, rows):
    os.makedirs(oplog_dir, exist_ok=True)
    with open(os.path.join(oplog_dir, name), "w") as fh:
        for ts, seq, ns, op, o, o2 in rows:
            fh.write(json.dumps({
                "ts": ts.isoformat(), "seq": seq, "ns": ns,
                "op": op, "o": o, "o2": o2,
            }) + "\n")


def test_single_target_stream_batch_is_one_job_chain(spark, tmp_path):
    """A single-target flat stream runs each micro-batch as one job
    chain — decode in the streaming plan, no namespace listing, no
    cache — reading each event once. A batch that holds no model for
    the target (events of another namespace, or no-ops only) leaves the
    target's files as they were and reports no stats."""

    oplog_dir, root = str(tmp_path / "oplog"), str(tmp_path / "tgt")
    seen = []

    def run():
        q = start_cdc_stream(
            spark, oplog_dir, root, {"db.c": TARGET_SCHEMA},
            checkpoint=str(tmp_path / "ckpt"),
            on_stats=lambda ns, bid, s: seen.append((ns, bid, s)))
        q.awaitTermination(120)
        assert q.exception() is None
        return q

    _write_oplog(oplog_dir, "0.json", [
        _ev(i, "i", {"_id": i, "x": f"v{i}", "n": i}) for i in range(20)])
    run()
    batch = [_ev(100, "u", {"$set": {"x": "p"}}, {"_id": 1}),
             _ev(101, "d", {"_id": 2}),
             _ev(102, "i", {"_id": 50, "x": "new", "n": 50}),
             _ev(103, "u", {"$v": 2, "diff": {"u": {"n": 7}}}, {"_id": 3})]
    _write_oplog(oplog_dir, "1.json", batch)
    q = run()
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(jobs) <= FLAT_BATCH_JOBS, len(jobs)
    assert [p["numInputRows"] for p in q.recentProgress
            if p["numInputRows"] > 0] == [len(batch)]
    state = {r._id: (r.x, r.n) for r in
             read_published(spark, f"{root}/c.parquet").collect()}
    assert len(state) == 20 and state[1] == ("p", 1) and state[3][1] == 7
    assert [(ns, s.total) for ns, _, s in seen] == [("db.c", 20),
                                                    ("db.c", 4)]

    def files():
        return sorted((d, f, os.path.getmtime(os.path.join(d, f)))
                      for d, _, fs in os.walk(f"{root}/c.parquet")
                      for f in fs)

    published = files()
    _write_oplog(oplog_dir, "2.json", [
        _ev(200, "i", {"_id": 1, "x": "elsewhere", "n": 0}, ns="db.other"),
        _ev(201, "d", {"_id": 3}, ns="db.other")])
    run()
    _write_oplog(oplog_dir, "3.json", [
        _ev(300, "n", {"msg": "periodic noop"}),
        _ev(301, "n", {"msg": "periodic noop"})])
    q = run()
    assert [p["numInputRows"] for p in q.recentProgress
            if p["numInputRows"] > 0] == [2]
    assert len(seen) == 2
    assert files() == published
    assert {r._id: (r.x, r.n) for r in read_published(
        spark, f"{root}/c.parquet").collect()} == state


@pytest.mark.parametrize("shape", ["evolve", "two_targets",
                                   "two_targets_evolve"])
def test_stream_reads_each_event_once(spark, tmp_path, shape,
                                      monkeypatch):
    """Where a micro-batch's models are read more than once (evolve's
    scan of new fields, the namespace listing of a two-target stream)
    they are cached, so the source is still scanned once per batch; a
    two-target batch caches its models once, not again per target."""

    caches = []
    frame = type(spark.range(1))
    cache = frame.cache
    monkeypatch.setattr(frame, "cache",
                        lambda df: caches.append(1) or cache(df))

    oplog_dir, root = str(tmp_path / "oplog"), str(tmp_path / "tgt")
    rows = [_ev(1, "i", {"_id": 1, "x": "a", "n": 1}),
            _ev(2, "i", {"_id": 2, "x": "b", "n": 2, "tag": "t"}),
            _ev(3, "u", {"$set": {"x": "B"}}, {"_id": 2}),
            _ev(4, "i", {"_id": 9, "x": "i", "n": 9}, ns="db.d")]
    _write_oplog(oplog_dir, "0.json", rows)
    schemas = {"db.c": TARGET_SCHEMA}
    if shape.startswith("two_targets"):
        schemas["db.d"] = TARGET_SCHEMA
    evolve = shape.endswith("evolve")
    q = start_cdc_stream(spark, oplog_dir, root, schemas,
                         checkpoint=str(tmp_path / "ckpt"), evolve=evolve)
    q.awaitTermination(120)
    assert q.exception() is None
    assert [p["numInputRows"] for p in q.recentProgress
            if p["numInputRows"] > 0] == [len(rows)]
    assert len(caches) == 1
    got = {r._id: r for r in
           read_published(spark, f"{root}/c.parquet").collect()}
    assert sorted(got) == [1, 2] and got[2].x == "B"
    if evolve:
        assert got[2].tag == "t"
    if shape.startswith("two_targets"):
        assert [r._id for r in read_published(
            spark, f"{root}/d.parquet").collect()] == [9]


# --- model columns never meet the target's columns ---

MODEL_NAMES_SCHEMA = T.StructType([
    T.StructField("_id", T.LongType()),
    *(T.StructField(n, T.StringType())
      for n in ("action", "doc", "ns", "set_json", "unset_json", "key")),
])


@pytest.mark.parametrize("num_buckets", [None, 8])
def test_target_fields_named_like_model_columns(spark, tmp_path,
                                                num_buckets):
    """Target fields named `action`, `doc`, `ns`, `set_json`,
    `unset_json` or `key` merge like any other: an insert, a `$set`, a
    replace, an `$unset` and a delete each land on the right row."""

    path = str(tmp_path / "t.parquet")
    names = [f.name for f in MODEL_NAMES_SCHEMA.fields][1:]

    def batch(rows):
        apply_cdc_batch(spark, reduce_write_models(decode_write_models(
            _oplog_df(spark, rows))), path, "_id", MODEL_NAMES_SCHEMA,
            num_buckets=num_buckets)
        return {r._id: r.asDict() for r in read_published(
            spark, path).drop("__bucket").collect()}

    state = batch([
        _ev(i, "i", {"_id": i, **{n: f"{n}{i}" for n in names}})
        for i in range(1, 4)])
    assert state[2] == {"_id": 2, **{n: f"{n}2" for n in names}}
    state = batch([
        _ev(10, "u", {"$set": {"action": "S", "doc": "D"}}, {"_id": 1}),
        _ev(11, "u", {"_id": 2, "ns": "R", "key": "K"}, {"_id": 2}),
        _ev(12, "u", {"$unset": {"set_json": 1}}, {"_id": 3}),
        _ev(13, "d", {"_id": 3}),
        _ev(14, "i", {"_id": 4, "unset_json": "U"}),
    ])
    assert sorted(state) == [1, 2, 4]
    assert state[1] == {"_id": 1, "action": "S", "doc": "D", "ns": "ns1",
                        "set_json": "set_json1",
                        "unset_json": "unset_json1", "key": "key1"}
    assert state[2] == {"_id": 2, "action": None, "doc": None, "ns": "R",
                        "set_json": None, "unset_json": None, "key": "K"}
    assert state[4]["unset_json"] == "U" and state[4]["action"] is None
    state = batch([_ev(20, "u", {"$unset": {"doc": 1}}, {"_id": 1})])
    assert state[1]["doc"] is None and state[1]["action"] == "S"


@pytest.mark.parametrize("num_buckets", [None, 8])
def test_apply_merges_into_a_target_another_writer_left(spark, tmp_path,
                                                        num_buckets):
    """A target written outside Spark (one parquet file, no `_SUCCESS`,
    no schema record) is merged into, not replaced: 3 rows plus one
    CDC insert give 4 rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "items.parquet")
    pq.write_table(pa.table({"_id": [1, 2, 3], "x": ["a", "b", "c"],
                             "n": [1, 2, 3]}), path)
    apply_cdc_batch(spark, reduce_write_models(decode_write_models(
        _oplog_df(spark, [_ev(1, "i", {"_id": 4, "x": "d", "n": 4})]))),
        path, "_id", TARGET_SCHEMA, num_buckets=num_buckets)
    assert sorted((r._id, r.x, r.n) for r in read_published(
        spark, path).drop("__bucket").collect()) == [
            (1, "a", 1), (2, "b", 2), (3, "c", 3), (4, "d", 4)]


def test_apply_without_models_publishes_nothing(spark, tmp_path):
    """A batch with no model creates no target and publishes nothing
    over an existing one; its counters are all zero."""
    path = str(tmp_path / "t.parquet")
    none = reduce_write_models(decode_write_models(_oplog_df(spark, [
        _ev(1, "n", {"msg": "periodic noop"})])))
    stats = apply_cdc_batch(spark, none, path, "_id", TARGET_SCHEMA)
    assert stats.total == 0 and not os.path.exists(path)
    for num_buckets in (None, 4):
        bpath = f"{path}-{num_buckets}"
        apply_cdc_batch(spark, reduce_write_models(decode_write_models(
            _oplog_df(spark, [_ev(1, "i", {"_id": 1, "x": "a", "n": 1})]))),
            bpath, "_id", TARGET_SCHEMA, num_buckets=num_buckets)
        before = sorted(os.walk(bpath))
        stats = apply_cdc_batch(spark, none, bpath, "_id", TARGET_SCHEMA,
                                num_buckets=num_buckets)
        assert stats.total == 0 and sorted(os.walk(bpath)) == before


@pytest.mark.parametrize("num_buckets", [None, 8])
def test_apply_onto_a_target_with_no_data_file(spark, tmp_path,
                                               num_buckets):
    """A target directory holding `_SUCCESS` alone is an empty target,
    for the sink as for commit.read_published."""

    path = tmp_path / "t.parquet"
    path.mkdir()
    (path / "_SUCCESS").write_text("")
    assert read_published(spark, str(path)) is None
    apply_cdc_batch(spark, reduce_write_models(decode_write_models(
        _oplog_df(spark, [_ev(1, "i", {"_id": 1, "x": "a", "n": 1})]))),
        str(path), "_id", TARGET_SCHEMA, num_buckets=num_buckets)
    assert [(r._id, r.x, r.n) for r in read_published(
        spark, str(path)).drop("__bucket").collect()] == [(1, "a", 1)]
