"""Property-based test for CDC decode + per-key ordered fold
(streaming/cdc.py::decode_write_models -> reduce_write_models): for ANY
raw oplog history of a key and ANY initial target state, applying the
single reduced write model must give the same final state as replaying
every event in order one at a time (BulkWriteOplogs' ordered-bulk
semantics, oplog_utils.go:110-197).

Histories mix inserts, full-document replaces, deletes, v1 `$set` /
`$unset` updates, v2 `diff` updates and `applyOps` transactions with
several members on the key. The naive replayer here is written
independently of the engine — it models a MongoDB target document
directly — so agreement is evidence, not circularity.

All Hypothesis examples are gathered first and then decoded and folded
together in one DataFrame (example index = document key), so the whole
property costs one Spark job instead of one per example.
"""

from __future__ import annotations

import datetime as dt
import json

from hypothesis import given, settings
from hypothesis import strategies as st

from hummingbird_spark.streaming.cdc import (
    OPLOG_SCHEMA,
    decode_write_models,
    reduce_write_models,
)

T0 = dt.datetime(2024, 1, 1)
NS = "db.c"
FIELDS = ["x", "y", "z"]
EXAMPLES = 200

values = st.one_of(st.integers(0, 9), st.none())
docs = st.dictionaries(st.sampled_from(FIELDS), values, max_size=3)
names = st.lists(st.sampled_from(FIELDS), unique=True, min_size=1,
                 max_size=2)

# one write = (kind, payload)
writes = st.one_of(
    st.builds(lambda d: ("insert", d), docs),
    st.builds(lambda d: ("replace", d), docs),
    st.just(("delete", None)),
    st.tuples(st.none() | docs, st.none() | names)
    .filter(lambda su: su != (None, None))
    .map(lambda su: ("v1", su)),
    st.tuples(st.sampled_from("ui"), docs).map(lambda p: ("v2", p)),
    st.tuples(st.just("d"), names).map(lambda p: ("v2", p)),
)
# one oplog entry: a single write, or a transaction of several
entries = st.one_of(
    writes.map(lambda w: [w]),
    st.lists(writes, min_size=2, max_size=4),
)
histories = st.lists(entries, min_size=1, max_size=6)


def oplog_op(key: int, kind: str, payload) -> dict:
    """One write as an oplog document (op, ns, o, o2) on `key`."""
    o2 = None
    if kind == "insert":
        op, o = "i", {"_id": key, **payload}
    elif kind == "replace":
        op, o, o2 = "u", {"_id": key, **payload}, {"_id": key}
    elif kind == "delete":
        op, o = "d", {"_id": key}
    elif kind == "v1":
        sets, unsets = payload
        op, o2 = "u", {"_id": key}
        o = {}
        if sets is not None:
            o["$set"] = sets
        if unsets is not None:
            o["$unset"] = dict.fromkeys(unsets, 1)
    else:  # v2 diff: exactly one of u / i / d
        which, body = payload
        op, o2 = "u", {"_id": key}
        if which == "d":
            body = dict.fromkeys(body, False)
        o = {"$v": 2, "diff": {which: body}}
    return {"op": op, "ns": NS, "o": o, "o2": o2}


def oplog_rows(key: int, history) -> list[tuple]:
    """OPLOG_SCHEMA rows for one key's history. Pairs of entries share a
    ts, so the seq tiebreak matters; transactions are one `c` event on
    the command namespace carrying their members."""
    rows = []
    for pos, entry in enumerate(history):
        ops = [oplog_op(key, kind, payload) for kind, payload in entry]
        if len(ops) == 1:
            op = ops[0]
            ns, kind, o, o2 = NS, op["op"], op["o"], op["o2"]
        else:
            ns, kind, o, o2 = "admin.$cmd", "c", {"applyOps": ops}, None
        rows.append((T0 + dt.timedelta(seconds=pos // 2), pos, ns, kind,
                     json.dumps(o), None if o2 is None else json.dumps(o2)))
    return rows


def naive_replay(key: int, state, history):
    """Apply each write in order to `key`'s target-document state
    (None = key absent from the target)."""
    for entry in history:
        for kind, payload in entry:
            if kind == "delete":
                state = None
            elif kind in ("insert", "replace"):
                state = {"_id": key, **payload}
            elif state is not None:  # UpdateOne: no-op on an absent key
                state = dict(state)
                if kind == "v1":
                    sets, unsets = payload
                    state.update(sets or {})
                    for f in unsets or []:
                        state.pop(f, None)
                else:
                    which, body = payload
                    if which == "d":
                        for f in body:
                            state.pop(f, None)
                    else:
                        state.update(body)
    return state


def apply_reduced(state, row):
    """Apply one reduced write model (the merge's semantics)."""
    if row is None:  # key produced no model
        return state
    if row.action == "delete":
        return None
    if row.action == "replace":
        return json.loads(row.doc)
    if state is None:  # patch on an absent key
        return None
    state = dict(state)
    state.update(json.loads(row.set_json) if row.set_json else {})
    for f in (json.loads(row.unset_json) if row.unset_json else {}):
        state.pop(f, None)
    return state


def test_reduced_model_equals_ordered_replay(spark):
    examples = []

    @settings(max_examples=EXAMPLES, deadline=None, database=None)
    @given(histories)
    def gather(history):
        examples.append(history)

    gather()
    assert len(examples) >= 25
    rows = [r for key, h in enumerate(examples) for r in oplog_rows(key, h)]
    # input order must not matter: the fold orders by (ts, seq, member)
    oplogs = spark.createDataFrame(rows[::-1], OPLOG_SCHEMA)
    reduced = {r.key: r for r in reduce_write_models(
        decode_write_models(oplogs, [NS])).collect()}

    failures = []
    for key, history in enumerate(examples):
        for initial in (None, {"_id": key, "x": 100, "w": -1}):
            want = naive_replay(key, initial, history)
            got = apply_reduced(initial, reduced.get(str(key)))
            if got != want:
                failures.append(f"key {key} initial={initial} "
                                f"history={history}: reduced-apply={got} "
                                f"replay={want}")
    assert not failures, "\n".join(failures[:5])
