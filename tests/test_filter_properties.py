"""Property-based tests for the Mongo-filter -> Column translator
(SURVEY §2.2 F1): hypothesis generates random datasets AND random filter
documents; Spark's filtered row-ids must equal a pure-Python reference
interpreter implementing the engine's documented semantics (SQL
three-valued logic; $exists == NULL-ness — the declared missing-vs-null
deviation, SURVEY §1.2).

The reference corpus only exercises a handful of literal filters
(quickstart.json, data-only.json); this is the exhaustive version the
Go reference gets for free by passing filters to MongoDB's own server.

All Hypothesis examples are gathered first and then filtered together in
one DataFrame: each example's rows carry its index, one CASE branch per
example applies that example's filter, and one collect returns every
example's matching row ids, so the property costs one Spark job instead
of one per example. Hypothesis draws the same simple filter many times,
so a (rows, filter) pair already gathered is skipped, and enough
examples are asked for that at least MIN_FILTERS distinct filters are
drawn.
"""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hummingbird_spark.filters import mongo_filter_to_column

SCHEMA = T.StructType([
    T.StructField("example", T.LongType(), False),
    T.StructField("row_id", T.LongType(), False),
    T.StructField("i", T.LongType(), True),
    T.StructField("s", T.StringType(), True),
    T.StructField("a", T.ArrayType(T.LongType(), False), True),
])

# Hypothesis often draws a filter it drew before: 30
# examples gave 13-19 distinct filters, 100 gave 28-49, and 200 gave
# 61-82 in 20 trials.
MIN_FILTERS = 30

# ---------------------------------------------------------------------------
# Reference interpreter (Kleene 3VL; None = SQL NULL / unknown)
# ---------------------------------------------------------------------------


def _and3(values):
    if any(v is False for v in values):
        return False
    if any(v is None for v in values):
        return None
    return True


def _or3(values):
    if any(v is True for v in values):
        return True
    if any(v is None for v in values):
        return None
    return False


def _not3(v):
    return None if v is None else (not v)


def _java_rem(a: int, d: int) -> int:
    # Spark's % is Java remainder (sign of the dividend)
    return a - int(a / d) * d


def _eval_op(val, op, arg):
    if op == "$exists":
        return (val is not None) if arg else (val is None)
    if op == "$not":
        return _not3(_eval_spec(val, arg))
    if val is None:
        return None
    if op == "$eq":
        return val == arg
    if op == "$ne":
        return val != arg
    if op == "$gt":
        return val > arg
    if op == "$gte":
        return val >= arg
    if op == "$lt":
        return val < arg
    if op == "$lte":
        return val <= arg
    if op == "$in":
        return val in arg
    if op == "$nin":
        return val not in arg
    if op == "$regex":
        return re.search(arg, val) is not None
    if op == "$mod":
        return _java_rem(val, int(arg[0])) == int(arg[1])
    if op == "$size":
        return len(val) == int(arg)
    if op == "$all":
        return _and3([x in val for x in arg])
    if op == "$elemMatch":
        return _or3([_eval_spec(e, arg) for e in val]) if val else False
    raise AssertionError(op)


def _eval_spec(val, spec):
    if isinstance(spec, dict):
        return _and3([_eval_op(val, op, arg) for op, arg in spec.items()])
    return _eval_op(val, "$eq", spec)


def eval_filter(doc: dict, row: dict):
    conds = []
    for key, spec in doc.items():
        if key == "$and":
            conds.append(_and3([eval_filter(d, row) for d in spec]))
        elif key == "$or":
            conds.append(_or3([eval_filter(d, row) for d in spec]))
        elif key == "$nor":
            conds.append(_not3(_or3([eval_filter(d, row) for d in spec])))
        else:
            conds.append(_eval_spec(row.get(key), spec))
    return _and3(conds)


# ---------------------------------------------------------------------------
# Strategies
# ---------------------------------------------------------------------------

ints = st.integers(-50, 50)
strs = st.text(alphabet="abc", max_size=4)
arrs = st.lists(st.integers(0, 5), max_size=4)

rows = st.lists(
    st.fixed_dictionaries({
        "i": st.none() | ints,
        "s": st.none() | strs,
        "a": st.none() | arrs,
    }),
    min_size=10, max_size=40,
)

cmp_ops = st.sampled_from(["$eq", "$ne", "$gt", "$gte", "$lt", "$lte"])


def leaf_i(own: list[int]):
    """Leaves over `i`; their operands come from the free range and, as
    often, from `own`, the example's own `i` values."""
    vals = st.one_of(ints, st.sampled_from(own)) if own else ints
    return st.one_of(
        st.builds(lambda v: {"i": v}, vals),
        st.builds(lambda op, v: {"i": {op: v}}, cmp_ops, vals),
        st.builds(lambda vs: {"i": {"$in": vs}},
                  st.lists(vals, min_size=1, max_size=5)),
        st.builds(lambda vs: {"i": {"$nin": vs}},
                  st.lists(vals, min_size=1, max_size=5)),
        st.builds(lambda b: {"i": {"$exists": b}}, st.booleans()),
        st.builds(lambda d, r: {"i": {"$mod": [d, r]}},
                  st.integers(1, 7), st.integers(0, 6)),
        st.builds(lambda lo, hi: {"i": {"$gte": lo, "$lte": hi}}, vals, vals),
    )


leaf_s = st.one_of(
    st.builds(lambda v: {"s": v}, strs),
    st.builds(lambda v: {"s": {"$regex": v}},
              st.text(alphabet="abc", min_size=1, max_size=2)),
    st.builds(lambda vs: {"s": {"$in": vs}},
              st.lists(strs, min_size=1, max_size=4)),
    st.builds(lambda b: {"s": {"$exists": b}}, st.booleans()),
)
leaf_a = st.one_of(
    st.builds(lambda n: {"a": {"$size": n}}, st.integers(0, 4)),
    st.builds(lambda vs: {"a": {"$all": vs}},
              st.lists(st.integers(0, 5), min_size=1, max_size=3)),
    st.builds(lambda op, v: {"a": {"$elemMatch": {op: v}}},
              cmp_ops, st.integers(0, 5)),
)


def filters(own: list[int]):
    """Filter documents of up to four leaves; `i` operands as leaf_i."""
    li = leaf_i(own)
    return st.recursive(
        st.one_of(li, leaf_s, leaf_a),
        lambda children: st.one_of(
            st.builds(lambda fs: {"$and": fs},
                      st.lists(children, min_size=1, max_size=3)),
            st.builds(lambda fs: {"$or": fs},
                      st.lists(children, min_size=1, max_size=3)),
            st.builds(lambda fs: {"$nor": fs},
                      st.lists(children, min_size=1, max_size=3)),
            st.builds(lambda a, b: {**a, **b}, li, leaf_s),  # top-level AND
        ),
        max_leaves=4,
    )


@st.composite
def examples_of(draw):
    """An example: rows, and filters over them. One filter is drawn; if
    some row has an `i`, two comparisons at one of those values join
    it, so comparisons meet their bounds (`$gt` translated as `>=` differs
    only there, and a free-range operand rarely lands on it)."""
    data = draw(rows)
    own = sorted({r["i"] for r in data if r["i"] is not None})
    docs = [draw(filters(own))]
    if own:
        v = draw(st.sampled_from(own))
        docs += [{"i": {op: v}} for op in draw(
            st.lists(cmp_ops, min_size=2, max_size=2, unique=True))]
    return [(data, doc) for doc in docs]


def test_translator_matches_reference_semantics(spark):
    examples, seen, drawn = [], set(), set()

    @settings(max_examples=200, deadline=None, database=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(example=examples_of())
    def gather(example):
        drawn.add(repr(example[0][1]))
        for pair in example:
            if repr(pair) not in seen:
                seen.add(repr(pair))
                examples.append(pair)

    gather()
    assert len(drawn) >= MIN_FILTERS, len(drawn)
    tagged = [
        [{"example": ex, "row_id": idx, **row}
         for idx, row in enumerate(data)]
        for ex, (data, _) in enumerate(examples)
    ]
    df = spark.createDataFrame([r for t in tagged for r in t], SCHEMA)
    case = None
    for ex, (_, doc) in enumerate(examples):
        branch = F.col("example") == ex
        case = (F.when(branch, mongo_filter_to_column(doc)) if case is None
                else case.when(branch, mongo_filter_to_column(doc)))
    got = {ex: set() for ex in range(len(examples))}
    for r in df.filter(case).select("example", "row_id").collect():
        got[r.example].add(r.row_id)

    failures = []
    for ex, (_, doc) in enumerate(examples):
        want = {row["row_id"] for row in tagged[ex]
                if eval_filter(doc, row) is True}
        if got[ex] != want:
            failures.append(f"filter {doc!r}: spark={sorted(got[ex])} "
                            f"ref={sorted(want)}")
    assert not failures, "\n".join(failures[:5])
