"""Mongo-query-JSON -> pyspark Column translator (SURVEY §2.2 F1-F2).

The reference passes each include's `filter` document verbatim to
MongoDB's server (includes.go:15, applied at splitter.go:58-61 and
task.go:55-57), e.g.:

    {"color": {"$in": ["Black", "White"]}}
    {"ts": {"$gt": {"$date": "2022-01-01T00:00:00Z"}}}

Here the same documents translate to Catalyst Column expressions, so the
predicate is pushed all the way into the parquet scan (PushedFilters) —
the Spark analogue of server-side evaluation. Pure expression building:
no UDFs, stays inside whole-stage codegen.

Supported operators (the surface MongoDB's find() filters use in the
reference's configs and tests — testdata/quickstart.json,
testdata/data-only.json, bson_reader_test.go:68):
  implicit equality, $eq $ne $gt $gte $lt $lte $in $nin $exists
  $and $or $nor $not $regex $mod $size
  extended-JSON literals: {"$date": ...}, {"$numberLong": ...}, etc.
Dotted paths ("subdoc.level1.field") address nested struct fields.
"""

from __future__ import annotations

import datetime as _dt
from functools import reduce
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

_COMPARISON = {"$eq", "$ne", "$gt", "$gte", "$lt", "$lte", "$in", "$nin",
               "$exists", "$regex", "$options", "$mod", "$size", "$not",
               "$all", "$elemMatch", "$bitsAllSet", "$bitsAnySet",
               "$bitsAllClear", "$bitsAnyClear"}


class FilterError(ValueError):
    """Unsupported or malformed Mongo filter document."""


def _is_extended_json_literal(doc: dict) -> bool:
    return len(doc) == 1 and next(iter(doc)).startswith("$") and next(
        iter(doc)
    ) in {"$date", "$numberLong", "$numberInt", "$numberDouble",
          "$numberDecimal", "$oid", "$uuid"}


def _literal(value: Any) -> Any:
    """Decode relaxed extended-JSON literals ($date, $numberLong, ...)
    into plain Python values Spark can lift to literals
    (cf. bson.UnmarshalExtJSON at migrator.go:271)."""
    if isinstance(value, dict):
        if not _is_extended_json_literal(value):
            raise FilterError(f"expected literal, got document: {value!r}")
        ((tag, inner),) = value.items()
        if tag == "$date":
            if isinstance(inner, dict):  # {"$date": {"$numberLong": ms}}
                ms = int(_literal(inner))
                return _dt.datetime.fromtimestamp(ms / 1000.0, _dt.timezone.utc)
            if isinstance(inner, (int, float)):
                return _dt.datetime.fromtimestamp(inner / 1000.0, _dt.timezone.utc)
            return _dt.datetime.fromisoformat(str(inner).replace("Z", "+00:00"))
        if tag in {"$numberLong", "$numberInt"}:
            return int(inner)
        if tag in {"$numberDouble", "$numberDecimal"}:
            return float(inner)
        if tag in {"$oid", "$uuid"}:
            return str(inner)
    if isinstance(value, list):
        return [_literal(v) for v in value]
    return value


def _tz_naive(value: Any) -> Any:
    """Spark literals for tz-aware datetimes become TIMESTAMP in session
    tz; we run sessions in UTC, so strip tzinfo after converting."""
    if isinstance(value, _dt.datetime) and value.tzinfo is not None:
        return value.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    if isinstance(value, list):
        return [_tz_naive(v) for v in value]
    return value


def _field(path: str) -> Column:
    # F.col handles dotted nested-struct access natively.
    return F.col(path)


def _compare(path: str, op: str, value: Any) -> Column:
    col = _field(path)
    if op == "$not":
        return ~_field_predicate(path, value)
    if op == "$elemMatch":
        return F.exists(col, lambda e: _elem_predicate(e, value))
    val = _tz_naive(_literal(value))
    if op == "$eq":
        return col == F.lit(val)
    if op == "$ne":
        return col != F.lit(val)
    if op == "$gt":
        return col > F.lit(val)
    if op == "$gte":
        return col >= F.lit(val)
    if op == "$lt":
        return col < F.lit(val)
    if op == "$lte":
        return col <= F.lit(val)
    if op == "$in":
        if not isinstance(val, list):
            raise FilterError("$in requires an array")
        return col.isin(*val)
    if op == "$nin":
        if not isinstance(val, list):
            raise FilterError("$nin requires an array")
        return ~col.isin(*val)
    if op == "$exists":
        # Spark has no missing-vs-null distinction (SURVEY §1.2 deviation):
        # $exists maps to NULL-ness.
        return col.isNotNull() if val else col.isNull()
    if op == "$regex":
        return col.rlike(str(val))
    if op == "$mod":
        divisor, remainder = val
        return col % F.lit(int(divisor)) == F.lit(int(remainder))
    if op == "$size":
        return F.size(col) == F.lit(int(val))
    if op == "$all":
        if not isinstance(val, list):
            raise FilterError("$all requires an array")
        return reduce(
            lambda a, b: a & b,
            [F.array_contains(col, F.lit(v)) for v in val],
        )
    if op in ("$bitsAllSet", "$bitsAnySet", "$bitsAllClear",
              "$bitsAnyClear"):
        # numeric bitmask form (position arrays: sum(1<<p) first)
        if isinstance(val, list):
            mask = sum(1 << int(p) for p in val)
        else:
            mask = int(val)
        anded = col.cast("long").bitwiseAND(F.lit(mask))
        return {
            "$bitsAllSet": anded == F.lit(mask),
            "$bitsAnySet": anded != F.lit(0),
            "$bitsAllClear": anded == F.lit(0),
            "$bitsAnyClear": anded != F.lit(mask),
        }[op]
    raise FilterError(f"unsupported operator {op!r}")


def _elem_predicate(elem: Column, spec: Any) -> Column:
    """Element-level predicate for $elemMatch: `spec` is either an
    operator doc applied to the element itself ({"$gt": 5}) or a filter
    doc on the element's fields ({"f": 1, "g": {"$lt": 2}})."""
    if isinstance(spec, dict) and spec and all(
        k in _COMPARISON for k in spec
    ):
        conds = []
        for op, v in spec.items():
            if op == "$options":
                continue
            lit = F.lit(_tz_naive(_literal(v))) if op not in (
                "$in", "$nin", "$elemMatch", "$not", "$exists",
            ) else None
            if op == "$eq":
                conds.append(elem == lit)
            elif op == "$ne":
                conds.append(elem != lit)
            elif op == "$gt":
                conds.append(elem > lit)
            elif op == "$gte":
                conds.append(elem >= lit)
            elif op == "$lt":
                conds.append(elem < lit)
            elif op == "$lte":
                conds.append(elem <= lit)
            elif op == "$in":
                conds.append(elem.isin(*_tz_naive(_literal(v))))
            elif op == "$nin":
                conds.append(~elem.isin(*_tz_naive(_literal(v))))
            elif op == "$regex":
                conds.append(elem.rlike(str(v)))
            elif op == "$not":
                conds.append(~_elem_predicate(elem, v))
            else:
                raise FilterError(f"unsupported $elemMatch operator {op!r}")
        return reduce(lambda a, b: a & b, conds)
    if isinstance(spec, dict):
        # filter doc over the element's fields (array-of-structs form)
        conds = []
        for fld, sub in spec.items():
            if fld.startswith("$"):
                raise FilterError(
                    f"unsupported $elemMatch operator {fld!r}"
                )
            conds.append(_elem_predicate(elem[fld], sub))
        return reduce(lambda a, b: a & b, conds)
    return elem == F.lit(_tz_naive(_literal(spec)))


def _field_predicate(path: str, spec: Any) -> Column:
    """One field's condition: either an operator document
    ({"$gt": 5, "$lt": 9} — conjunction) or an implicit-equality literal."""
    if isinstance(spec, dict) and spec and all(
        k in _COMPARISON for k in spec
    ):
        opts = spec.get("$options", "")
        conds = []
        for op, val in spec.items():
            if op == "$options":
                continue
            if op == "$regex" and "i" in opts:
                val = f"(?i){val}"
            conds.append(_compare(path, op, val))
        return reduce(lambda a, b: a & b, conds)
    # implicit equality (possibly with an extended-JSON literal value)
    return _compare(path, "$eq", spec)


def mongo_filter_to_column(filter_doc: dict | None) -> Column:
    """Translate a MongoDB find() filter document to a Column predicate.

    Empty/None filter -> lit(True) (match all), mirroring the reference's
    empty `bson.D{}` default (includes.go:34-37).
    """
    if not filter_doc:
        return F.lit(True)
    conds: list[Column] = []
    for key, spec in filter_doc.items():
        if key == "$and":
            conds.append(
                reduce(lambda a, b: a & b,
                       [mongo_filter_to_column(d) for d in spec])
            )
        elif key == "$or":
            conds.append(
                reduce(lambda a, b: a | b,
                       [mongo_filter_to_column(d) for d in spec])
            )
        elif key == "$nor":
            conds.append(
                ~reduce(lambda a, b: a | b,
                        [mongo_filter_to_column(d) for d in spec])
            )
        elif key == "$sampleRate":
            # probabilistic row filter (nondeterministic, as in Mongo);
            # for reproducible sampling use the md5 hash-slot pattern
            conds.append(F.rand() < float(spec))
        elif key == "$expr":
            # aggregation expression as a predicate (find() $expr) —
            # delegates to the pipeline expression translator (lazy
            # import: pipeline imports this module)
            from hummingbird_spark.pipeline import _expr

            conds.append(_expr(spec).cast("boolean"))
        elif key.startswith("$"):
            raise FilterError(f"unsupported top-level operator {key!r}")
        else:
            conds.append(_field_predicate(key, spec))
    return reduce(lambda a, b: a & b, conds)
