"""Mongo aggregation-pipeline -> DataFrame translator (SURVEY §2.4).

The reference issues aggregation pipelines in two places:

    [{"$sort": {"status": 1}},
     {"$group": {"_id": "$status", "count": {"$sum": 1}}}]
        — task-status rollup, workspace.go:214-256 (A1)

    [{"$sample": {"size": 3629}},
     {"$group": {"_id": "$color", "total": {"$sum": 1}}}]
        — simulator read load, sim.go:244-247 (A5)

This module translates that pipeline dialect into DataFrame plans, the
same way filters.py translates find() filters — so a user of the
reference can run their pipelines unchanged. Every stage maps to a
declarative operation (Catalyst optimizes the composition; e.g. a
$match after $project still pushes to the scan when it references
scanned columns).

Supported stages:
  $match    -> df.filter(mongo_filter_to_column(...))
  $project  -> select (1/0 includes, "$field" renames)
  $addFields/$set -> withColumn ("$field" refs)
  $group    -> groupBy(_id).agg(...); accumulators: $sum $avg $min
               $max $first $last $push $addToSet $count
               ($sum: 1 is COUNT, $sum: "$f" is SUM — the reference
               uses the former)
  $sort     -> orderBy (1 asc, -1 desc)
  $skip     -> offset
  $limit    -> limit
  $count    -> count aggregate with the given alias
  $unwind   -> explode ("$field" or {path, preserveNullAndEmptyArrays})
  $sample   -> deterministic-seed shuffle-sample (size semantics;
               NONDETERMINISTIC in Mongo — seeded here for testability)
  $lookup   -> pre-aggregated left join (array-of-docs semantics);
               foreign frames passed via the `tables` argument; with
               an $unwind of `as` right after it, one plain join
  $sortByCount -> group + count + desc sort (Mongo's exact contract)
  $setWindowFields -> Spark window functions (running/rank/shift; the
               stage IS Spark's window operator, translated 1:1)
  $graphLookup -> join-per-depth BFS with (row, node) dedup so cycles
               terminate; maxDepth default 20 (documented deviation —
               Mongo's only bound is memory)
  $densify  -> per-partition numeric grids via sequence+explode and an
               anti-join against existing points (no driver loop)
  $fill     -> value fill (coalesce), locf (last(ignorenulls) over
               unbounded-preceding), or linear (windowed
               interpolation between surrounding known points)
  $collStats -> count form (storage stats live in operators/profile)
  $redact   -> schema-driven recursive document-level access control
               ($$PRUNE/$$KEEP/$$DESCEND compiled to nested
               when()/struct() — the masking transform generalized)
  $documents -> literal-doc source (first stage)
  $geoNear  -> per-row haversine/planar distance + ascending sort
               (first stage; no geo index — the distance predicate is
               the pushdown handle on a z-ordered table)
  $vectorSearch -> exact or LSH-pruned ANN cosine top-k over an
               array<float> column; score via {$meta:
               "vectorSearchScore"} (first stage)
  $merge    -> terminal upsert incl. the whenMatched PIPELINE form
               ($$new / custom let vars, stages over matched docs)

Group `_id` forms: None (global), "$field", {alias: "$field", ...}
(compound key). The output column is named `_id` exactly as Mongo
returns it; compound keys become a struct column.

Expression-language deviations (beyond those in _expr's docstring):
$regexFind/$regexFindAll capture a non-participating group as ''
where Mongo yields null (regexp_extract cannot distinguish them), and
$regexFindAll omits per-match idx; $objectToArray/$arrayToObject
operate on MapType columns (schemaless-doc analogue), not structs;
$sortArray supports scalar sortBy only; $dateFromParts has no ISO-week
form; $week/$isoWeekYear are computed from Spark date parts (agree
with Mongo on the Gregorian calendar).
"""

from __future__ import annotations

import math
import os
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hummingbird_spark.commit import (
    publish, put_schema, read_published, recover, widen,
)
from hummingbird_spark.filters import mongo_filter_to_column

_SEED = 3629  # the reference's web port — fixed seed for $sample


def _ref(expr: Any) -> Column:
    """'$field' -> column reference; scalar -> literal."""
    if isinstance(expr, str) and expr.startswith("$"):
        return F.col(expr[1:])
    return F.lit(expr)


def _chain(op):
    from functools import reduce

    return lambda cols: reduce(op, cols)


# Mongo aggregation expression operators -> Column builders. Each takes
# the already-translated operand Column list. Null propagation matches
# Mongo for the arithmetic/string/comparison core (both engines return
# null when an operand is null); documented deviations live in _expr's
# docstring.
_EXPR_OPS = {
    # arithmetic
    "$add": _chain(lambda a, b: a + b),
    "$subtract": lambda c: c[0] - c[1],
    "$multiply": _chain(lambda a, b: a * b),
    "$divide": lambda c: c[0] / c[1],
    "$mod": lambda c: c[0] % c[1],
    "$abs": lambda c: F.abs(c[0]),
    "$ceil": lambda c: F.ceil(c[0]),
    "$floor": lambda c: F.floor(c[0]),
    # $round / $substrCP / $slice are specials in _expr (extra args)
    "$trunc": lambda c: c[0].cast("long"),
    "$sqrt": lambda c: F.sqrt(c[0]),
    "$pow": lambda c: F.pow(c[0], c[1]),
    "$exp": lambda c: F.exp(c[0]),
    "$ln": lambda c: F.log(c[0]),
    "$log10": lambda c: F.log10(c[0]),
    # $log [number, base]: ln ratio so the base may be any expression
    "$log": lambda c: F.log(c[0]) / F.log(c[1]),
    "$sin": lambda c: F.sin(c[0]),
    "$cos": lambda c: F.cos(c[0]),
    "$tan": lambda c: F.tan(c[0]),
    "$asin": lambda c: F.asin(c[0]),
    "$acos": lambda c: F.acos(c[0]),
    "$atan": lambda c: F.atan(c[0]),
    "$atan2": lambda c: F.atan2(c[0], c[1]),
    "$sinh": lambda c: F.sinh(c[0]),
    "$cosh": lambda c: F.cosh(c[0]),
    "$tanh": lambda c: F.tanh(c[0]),
    "$degreesToRadians": lambda c: F.radians(c[0]),
    "$radiansToDegrees": lambda c: F.degrees(c[0]),
    # comparison (Mongo $cmp: -1/0/1)
    "$eq": lambda c: c[0] == c[1],
    "$ne": lambda c: c[0] != c[1],
    "$gt": lambda c: c[0] > c[1],
    "$gte": lambda c: c[0] >= c[1],
    "$lt": lambda c: c[0] < c[1],
    "$lte": lambda c: c[0] <= c[1],
    "$cmp": lambda c: F.when(c[0] < c[1], -1)
    .when(c[0] > c[1], 1).otherwise(0),
    # boolean
    "$and": _chain(lambda a, b: a & b),
    "$or": _chain(lambda a, b: a | b),
    "$not": lambda c: ~c[0].cast("boolean"),
    # string
    "$concat": lambda c: F.concat(*c),
    "$toUpper": lambda c: F.upper(c[0]),
    "$toLower": lambda c: F.lower(c[0]),
    "$strLenCP": lambda c: F.length(c[0]),
    "$toString": lambda c: c[0].cast("string"),
    "$trim": lambda c: F.trim(c[0]),
    "$ltrim": lambda c: F.ltrim(c[0]),
    "$rtrim": lambda c: F.rtrim(c[0]),
    "$split": lambda c: F.split(c[0], c[1], -1),
    # dates (UTC session tz; Mongo returns UTC parts by default too)
    "$year": lambda c: F.year(c[0]),
    "$month": lambda c: F.month(c[0]),
    "$dayOfMonth": lambda c: F.dayofmonth(c[0]),
    "$hour": lambda c: F.hour(c[0]),
    "$minute": lambda c: F.minute(c[0]),
    "$second": lambda c: F.second(c[0]),
    "$dayOfWeek": lambda c: F.dayofweek(c[0]),  # 1=Sunday, as Mongo
    "$dayOfYear": lambda c: F.dayofyear(c[0]),
    "$millisecond": lambda c: F.date_format(c[0], "SSS").cast("int"),
    "$isoWeek": lambda c: F.weekofyear(c[0]),
    # Mongo ISO day: Monday=1..Sunday=7; Spark dayofweek: Sunday=1
    "$isoDayOfWeek": lambda c: ((F.dayofweek(c[0]) + 5) % 7) + 1,
    # ISO week-year = calendar year of that week's Thursday
    "$isoWeekYear": lambda c: F.year(F.date_add(
        c[0].cast("date"),
        F.lit(4) - (((F.dayofweek(c[0]) + 5) % 7) + 1))),
    # Mongo $week: Sunday-start weeks, days before the first Sunday of
    # the year are week 0
    "$week": lambda c: _mongo_week(c[0]),
    "$toDate": lambda c: c[0].cast("timestamp"),
    # arrays
    "$size": lambda c: F.size(c[0]),
    # Mongo is 0-based; negative indexes count from the end (Spark's
    # element_at is 1-based with native negative support, and index 0
    # is an error — shift only the non-negative side). try_element_at:
    # out-of-range yields null (Mongo yields "missing"; under ANSI the
    # plain form would RAISE instead)
    "$arrayElemAt": lambda c: F.try_element_at(
        c[0],
        F.when(c[1] >= 0, c[1] + 1).otherwise(c[1]).cast("int")),
    "$first": lambda c: F.try_element_at(c[0], F.lit(1)),
    "$last": lambda c: F.try_element_at(c[0], F.lit(-1)),
    "$concatArrays": lambda c: F.concat(*c),
    "$in": lambda c: F.array_contains(c[1], c[0]),
    "$setUnion": lambda c: F.array_distinct(F.concat(*c)),
    "$setIntersection": _chain(F.array_intersect),
    "$setDifference": lambda c: F.array_except(c[0], c[1]),
    "$setEquals": lambda c: _fold_and([
        F.array_sort(F.array_distinct(c[0]))
        == F.array_sort(F.array_distinct(x)) for x in c[1:]
    ]),
    "$setIsSubset": lambda c: F.size(F.array_except(c[0], c[1])) == 0,
    "$allElementsTrue": lambda c: F.forall(
        c[0], lambda x: x.cast("boolean")),
    "$anyElementTrue": lambda c: F.exists(
        c[0], lambda x: x.cast("boolean")),
    # object <-> entry-array (MapType columns; Mongo's k/v field names)
    "$objectToArray": lambda c: F.transform(
        F.map_entries(c[0]),
        lambda e: F.struct(e["key"].alias("k"), e["value"].alias("v"))),
    "$arrayToObject": lambda c: F.map_from_entries(
        F.transform(c[0], lambda e: F.struct(e["k"], e["v"]))),
    "$indexOfArray": lambda c: F.coalesce(
        F.array_position(c[0], c[1]).cast("int") - 1, F.lit(-1)),
    "$range": lambda c: F.sequence(
        c[0], c[1] - 1, c[2] if len(c) == 3 else F.lit(1)),
    "$reverseArray": lambda c: F.reverse(c[0]),
    # instr is 1-based with 0 = absent; Mongo is 0-based with -1 —
    # the -1 shift maps both at once
    "$indexOfCP": lambda c: F.instr(c[0], c[1]) - 1,
    "$strcasecmp": lambda c: F.when(
        F.lower(c[0]) < F.lower(c[1]), -1
    ).when(F.lower(c[0]) > F.lower(c[1]), 1).otherwise(0),
    # expression (non-accumulator) forms: variadic scalars, or a
    # single array operand folded element-wise
    "$max": lambda c: F.greatest(*c) if len(c) > 1
    else F.array_max(c[0]),
    "$min": lambda c: F.least(*c) if len(c) > 1
    else F.array_min(c[0]),
    "$sum": lambda c: F.aggregate(
        c[0], F.lit(0.0),
        lambda acc, x: acc + F.coalesce(x.cast("double"), F.lit(0.0)),
    ) if len(c) == 1 else sum(c[1:], c[0]),
    "$avg": lambda c: F.aggregate(
        F.filter(c[0], lambda x: x.isNotNull()), F.lit(0.0),
        lambda acc, x: acc + x.cast("double"),
    ) / F.size(F.filter(c[0], lambda x: x.isNotNull())) if len(c) == 1
    else sum(c[1:], c[0]) / F.lit(len(c)),
    "$isNumber": lambda c: c[0].cast("double").isNotNull(),
    # type conversion
    "$toInt": lambda c: c[0].cast("int"),
    "$toLong": lambda c: c[0].cast("long"),
    "$toDouble": lambda c: c[0].cast("double"),
    "$toBool": lambda c: c[0].cast("boolean"),
    "$toDecimal": lambda c: c[0].cast("decimal(38,10)"),
    # ObjectId surrogate model is 24-hex strings (SURVEY §1.2):
    # validate + normalize; invalid input -> null (Mongo raises;
    # same deviation class as $convert without onError)
    "$toObjectId": lambda c: F.when(
        c[0].rlike("^[0-9a-fA-F]{24}$"), F.lower(c[0])),
    "$strLenBytes": lambda c: F.octet_length(c[0]),
    "$binarySize": lambda c: F.octet_length(c[0]),
    # BSON Timestamp packed as long t<<32|i (SURVEY §1.2, the stream
    # offset encoding): seconds / increment extraction
    "$tsSecond": lambda c: F.shiftright(c[0].cast("long"), 32),
    "$tsIncrement": lambda c: c[0].cast("long")
    .bitwiseAND(F.lit(0xFFFFFFFF)),
}


def _fold_and(conds: list[Column]) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def _regex_pattern(arg: dict) -> str:
    """Mongo {regex, options} -> a Java regex with inline flags."""
    pat = arg["regex"]
    flags = "".join(o for o in arg.get("options", "") if o in "imsx")
    return f"(?{flags}){pat}" if flags else pat


def _capture_group_count(pattern: str) -> int:
    """Count capture groups in a regex literal: '(' not escaped and not
    opening a (?...) non-capturing/lookaround construct. A '(' inside a
    character class is miscounted — acceptable for the translator's
    literal-pattern scope."""
    n, i = 0, 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\":
            i += 2
            continue
        if ch == "(" and pattern[i + 1:i + 2] != "?":
            n += 1
        i += 1
    return n


def _empty_string_array() -> Column:
    return F.slice(F.array(F.lit("")), 1, 0)


def _captures_array(s: Column, pat: str, raw: str) -> Column:
    """Per-group first-match captures. Deviation (documented): a
    non-participating group captures '' here, where Mongo yields null —
    Spark's regexp_extract cannot distinguish the two."""
    n = _capture_group_count(raw)
    if not n:
        return _empty_string_array()
    return F.array(*[F.regexp_extract(s, pat, g + 1) for g in range(n)])


_STRFTIME_MAP = {"%Y": "yyyy", "%m": "MM", "%d": "dd", "%H": "HH",
                 "%M": "mm", "%S": "ss", "%L": "SSS", "%j": "DDD"}


def _strftime_to_spark(fmt: str) -> str:
    for k, v in _STRFTIME_MAP.items():
        fmt = fmt.replace(k, v)
    return fmt


def _mongo_week(d: Column) -> Column:
    """Mongo $week: 0-based Sunday-start weeks. Days strictly before
    the year's first Sunday are week 0; the first Sunday starts week 1.
    """
    doy = F.dayofyear(d)
    jan1_dow = F.dayofweek(F.trunc(d, "year"))  # 1=Sunday
    first_sunday = ((F.lit(8) - jan1_dow) % 7) + 1  # day-of-year
    return F.when(doy < first_sunday, 0).otherwise(
        F.floor((doy - first_sunday) / 7).cast("int") + 1)


def _expr(spec: Any) -> Column:
    """Mongo aggregation EXPRESSION -> Column (the $project/$addFields/
    accumulator argument language), translated recursively:

      '$field'            -> column ref ('a.b' paths work via Column)
      scalar              -> literal
      [e1, e2, ...]       -> array of expressions
      {$op: args}         -> operator (see _EXPR_OPS + specials below)
      {k1: e1, k2: e2}    -> embedded document -> struct(e1 AS k1, ...)

    Specials: $literal, $cond (array or {if,then,else}), $ifNull,
    $switch ({branches: [{case, then}...], default}), $round with an
    explicit place count, $substrCP (0-based -> substring), $slice.

    Deviations (documented): $$variables (e.g. $$ROOT) are unsupported;
    $divide by zero yields null/Infinity per Spark instead of erroring;
    heterogeneous-type comparisons follow Spark coercion, not Mongo's
    cross-type BSON ordering."""
    return _expr_v(spec, {})


def _expr_v(spec: Any, variables: dict) -> Column:
    """_expr body with lexical variables in scope ($$this/$$value from
    $map/$filter/$reduce, plus user $let bindings)."""
    if isinstance(spec, str) and spec.startswith("$$"):
        path = spec[2:].split(".", 1)
        if path[0] in variables:
            col = variables[path[0]]
            return col[path[1]] if len(path) == 2 else col
        raise ValueError(f"aggregation variables unsupported: {spec}")
    if isinstance(spec, str) and spec.startswith("$"):
        return F.col(spec[1:])
    if isinstance(spec, list):
        return F.array(*[_expr_v(e, variables) for e in spec])
    if not isinstance(spec, dict):
        return F.lit(spec)

    def _expr(s):  # shadow: recurse with the current variable scope
        return _expr_v(s, variables)

    if len(spec) == 1:
        op, arg = next(iter(spec.items()))
        if op == "$literal":
            return F.lit(arg)
        if op == "$rand":
            # nondeterministic by contract, exactly as in Mongo
            return F.rand()
        if op == "$meta":
            if arg not in ("vectorSearchScore", "searchScore"):
                raise ValueError(f"unsupported $meta: {arg!r}")
            return F.col("__vs_score")
        if op == "$map":
            as_name = arg.get("as", "this")
            return F.transform(
                _expr(arg["input"]),
                lambda x: _expr_v(arg["in"], {**variables, as_name: x}),
            )
        if op == "$filter":
            as_name = arg.get("as", "this")
            return F.filter(
                _expr(arg["input"]),
                lambda x: _expr_v(arg["cond"], {**variables, as_name: x}),
            )
        if op == "$reduce":
            return F.aggregate(
                _expr(arg["input"]),
                _expr(arg["initialValue"]),
                lambda acc, x: _expr_v(
                    arg["in"], {**variables, "value": acc, "this": x}),
            )
        if op == "$let":
            bound = {
                name: _expr(v) for name, v in arg["vars"].items()
            }
            return _expr_v(arg["in"], {**variables, **bound})
        if op == "$regexMatch":
            return _expr(arg["input"]).rlike(_regex_pattern(arg))
        if op == "$regexFind":
            s = _expr(arg["input"])
            pat = _regex_pattern(arg)
            caps = _captures_array(s, pat, arg["regex"])
            return F.when(s.rlike(pat), F.struct(
                F.regexp_extract(s, pat, 0).alias("match"),
                (F.regexp_instr(s, F.lit(pat)) - 1).alias("idx"),
                caps.alias("captures"),
            ))
        if op == "$regexFindAll":
            s = _expr(arg["input"])
            pat = _regex_pattern(arg)
            n_groups = _capture_group_count(arg["regex"])
            matches = F.regexp_extract_all(s, F.lit(pat), 0)
            group_arrays = [
                F.regexp_extract_all(s, F.lit(pat), g + 1)
                for g in range(n_groups)
            ]
            return F.transform(matches, lambda m, i: F.struct(
                m.alias("match"),
                (F.array(*[F.element_at(g, i + 1) for g in group_arrays])
                 if n_groups else _empty_string_array()).alias("captures"),
            ))
        if op == "$sortArray":
            sb = arg["sortBy"]
            if not isinstance(sb, int):
                raise ValueError(
                    "$sortArray: only scalar sortBy 1/-1 is supported")
            return F.sort_array(_expr(arg["input"]), asc=sb >= 0)
        if op == "$dateFromParts":
            if "isoWeekYear" in arg:
                raise ValueError("$dateFromParts ISO form unsupported")
            sec = (_expr(arg.get("second", 0)).cast("double")
                   + _expr(arg.get("millisecond", 0)).cast("double") / 1000)
            return F.make_timestamp(
                _expr(arg["year"]).cast("int"),
                _expr(arg.get("month", 1)).cast("int"),
                _expr(arg.get("day", 1)).cast("int"),
                _expr(arg.get("hour", 0)).cast("int"),
                _expr(arg.get("minute", 0)).cast("int"),
                sec)
        if op == "$dateFromString":
            s = _expr(arg["dateString"])
            fmt = arg.get("format")
            if fmt is None:
                return s.cast("timestamp")
            return F.to_timestamp(s, _strftime_to_spark(fmt))
        if op == "$convert":
            type_map = {
                "int": "int", "long": "long", "double": "double",
                "decimal": "decimal(38,10)", "bool": "boolean",
                "string": "string", "date": "timestamp",
            }
            to = arg["to"]
            if to not in type_map:
                raise ValueError(f"unsupported $convert target: {to!r}")
            inp = _expr(arg["input"])
            conv = inp.try_cast(type_map[to])
            out = conv
            if "onError" in arg:
                # deviation (documented): a failed cast with no
                # onError yields null, where Mongo raises
                out = F.when(inp.isNotNull() & conv.isNull(),
                             _expr(arg["onError"])).otherwise(conv)
            if "onNull" in arg:
                out = F.when(inp.isNull(),
                             _expr(arg["onNull"])).otherwise(out)
            return out
        if op == "$zip":
            return F.arrays_zip(*[_expr(i) for i in arg["inputs"]])
        if op == "$getField":
            if isinstance(arg, str):  # shorthand: field of $$CURRENT
                return F.col(arg)
            return _expr(arg["input"]).getField(arg["field"])
        if op == "$setField":
            return _expr(arg["input"]).withField(
                arg["field"], _expr(arg["value"]))
        if op == "$unsetField":
            return _expr(arg["input"]).dropFields(arg["field"])
        if op == "$replaceAll":
            return F.replace(_expr(arg["input"]), _expr(arg["find"]),
                             _expr(arg["replacement"]))
        if op == "$replaceOne":
            s = _expr(arg["input"])
            find = _expr(arg["find"])
            rep = _expr(arg["replacement"])
            pos = F.instr(s, find)  # 1-based; 0 = absent
            return F.when(pos == 0, s).otherwise(F.concat(
                F.substring(s, F.lit(1), pos - 1),
                rep,
                F.substring(s, pos + F.length(find),
                            F.length(s)),
            ))
        if op == "$dateTrunc":
            unit = arg["unit"]
            if unit not in ("year", "quarter", "month", "week", "day",
                            "hour", "minute", "second"):
                raise ValueError(f"unsupported $dateTrunc unit: {unit}")
            return F.date_trunc(unit, _expr(arg["date"]))
        if op == "$dateDiff":
            unit = arg["unit"]
            start, end = _expr(arg["startDate"]), _expr(arg["endDate"])
            if unit == "day":
                return F.datediff(end, start).cast("long")
            if unit in ("hour", "minute", "second"):
                secs = {"hour": 3600, "minute": 60, "second": 1}[unit]
                return ((end.cast("long") - start.cast("long"))
                        / secs).cast("long")
            if unit == "month":
                return F.months_between(end, start, True).cast("long")
            if unit == "year":
                return (F.year(end) - F.year(start)).cast("long")
            raise ValueError(f"unsupported $dateDiff unit: {unit}")
        if op == "$dateAdd":
            unit, amount = arg["unit"], arg["amount"]
            start = _expr(arg["startDate"])
            if unit not in ("year", "month", "week", "day", "hour",
                            "minute", "second"):
                raise ValueError(f"unsupported $dateAdd unit: {unit}")
            n = amount if isinstance(amount, int) else int(amount)
            return start + F.expr(f"INTERVAL {n} {unit}")
        if op == "$dateToString":
            fmt = arg.get("format", "%Y-%m-%dT%H:%M:%S")
            # Mongo strftime-ish -> Spark datetime pattern
            mapping = {"%Y": "yyyy", "%m": "MM", "%d": "dd", "%H": "HH",
                       "%M": "mm", "%S": "ss", "%j": "DDD"}
            for k, v in mapping.items():
                fmt = fmt.replace(k, v)
            return F.date_format(_expr(arg["date"]), fmt)
        if op == "$cond":
            if isinstance(arg, dict):
                cif, cthen, celse = arg["if"], arg["then"], arg["else"]
            else:
                cif, cthen, celse = arg
            return F.when(_expr(cif), _expr(cthen)).otherwise(_expr(celse))
        if op == "$ifNull":
            return F.coalesce(*[_expr(a) for a in arg])
        if op == "$switch":
            out = None
            for br in arg["branches"]:
                w = (F.when(_expr(br["case"]), _expr(br["then"]))
                     if out is None
                     else out.when(_expr(br["case"]), _expr(br["then"])))
                out = w
            if "default" in arg:
                out = out.otherwise(_expr(arg["default"]))
            return out
        if op == "$round":
            if isinstance(arg, list) and len(arg) == 2:
                return F.round(_expr(arg[0]), int(arg[1]))
            a = arg[0] if isinstance(arg, list) else arg
            return F.round(_expr(a), 0)
        if op == "$substrCP":
            s, start, length = arg
            # Mongo is 0-based; Spark substring is 1-based
            return F.substring(
                _expr(s), (_expr(start) + 1).cast("int"),
                _expr(length).cast("int"))
        if op == "$slice":
            if len(arg) == 2:
                # Mongo: positive n = first n, negative n = LAST n
                if isinstance(arg[1], int) and arg[1] < 0:
                    return F.slice(_expr(arg[0]), arg[1], -arg[1])
                n = _expr(arg[1]).cast("int")
                return F.when(
                    n >= 0, F.slice(_expr(arg[0]), F.lit(1), n)
                ).otherwise(F.slice(_expr(arg[0]), n, -n))
            # three-arg form: 0-based position (may be negative:
            # from the end, as in Mongo) + count
            pos = _expr(arg[1]).cast("int")
            start = F.when(pos >= 0, pos + 1).otherwise(pos)
            return F.slice(_expr(arg[0]), start,
                           _expr(arg[2]).cast("int"))
        if op in _EXPR_OPS:
            args = arg if isinstance(arg, list) else [arg]
            return _EXPR_OPS[op]([_expr(a) for a in args])
        if op.startswith("$"):
            raise ValueError(f"unsupported expression operator: {op}")
    # embedded document literal: every value is itself an expression
    return F.struct(*[_expr(v).alias(k) for k, v in spec.items()])


def _accumulator(spec: dict) -> Column:
    if not (isinstance(spec, dict) and len(spec) == 1):
        raise ValueError(f"unsupported accumulator: {spec!r}")
    op, arg = next(iter(spec.items()))
    if op == "$sum":
        # {$sum: 1} counts; {$sum: <expr>} sums (workspace.go:224 uses 1)
        if isinstance(arg, (int, float)) and not isinstance(arg, bool):
            if arg == 1:
                return F.count(F.lit(1))
            return F.sum(F.lit(arg))
        return F.sum(_expr(arg))
    if op == "$avg":
        return F.avg(_expr(arg))
    if op == "$min":
        return F.min(_expr(arg))
    if op == "$max":
        return F.max(_expr(arg))
    if op == "$first":
        return F.first(_expr(arg))
    if op == "$last":
        return F.last(_expr(arg))
    if op == "$push":
        return F.collect_list(_expr(arg))
    if op == "$addToSet":
        return F.collect_set(_expr(arg))
    if op == "$count":
        return F.count(F.lit(1))
    if op == "$stdDevPop":
        return F.stddev_pop(_expr(arg))
    if op == "$stdDevSamp":
        return F.stddev_samp(_expr(arg))
    if op in ("$top", "$bottom"):
        # Mongo 5.2 positional accumulators: the output expression of
        # the first/last doc under sortBy — Spark's min_by/max_by on a
        # single sort key (the common case; compound sortBy would need
        # a struct key with Mongo's cross-type ordering)
        sort_by = arg["sortBy"]
        if len(sort_by) != 1:
            raise ValueError(f"{op} supports a single sortBy key")
        key, direction = next(iter(sort_by.items()))
        asc = direction >= 0
        fn = F.min_by if (asc == (op == "$top")) else F.max_by
        return fn(_expr(arg["output"]), F.col(key))
    if op in ("$minN", "$maxN"):
        # Mongo 5.2 N-smallest/largest accumulators. collect_list
        # buffers the group before slicing — fine for the bounded-group
        # shapes these serve (per-key leaderboards); a group with
        # millions of rows wants the retention-style two-phase top-N
        # instead.
        n = int(arg["n"])
        coll = F.collect_list(_expr(arg["input"]))
        asc = op == "$minN"
        return F.slice(F.sort_array(coll, asc=asc), 1, n)
    if op in ("$firstN", "$lastN"):
        # first/last follow input order, which Mongo only defines under
        # a preceding $sort; Spark's groupBy has the same caveat
        n = int(arg["n"])
        coll = F.collect_list(_expr(arg["input"]))
        if op == "$firstN":
            return F.slice(coll, 1, n)
        return F.when(
            F.size(coll) <= n, coll
        ).otherwise(F.slice(coll, -n, n))
    if op == "$median":
        # Mongo's default (approximate) method; percentile_approx is
        # the mergeable sketch equivalent
        return F.percentile_approx(_expr(arg["input"]), 0.5, 10000)
    if op == "$percentile":
        ps = arg["p"]
        return F.percentile_approx(
            _expr(arg["input"]),
            F.array(*[F.lit(float(p)) for p in ps]), 10000)
    raise ValueError(f"unsupported accumulator: {op}")


def _apply_group(df: DataFrame, spec: dict) -> DataFrame:
    gid = spec["_id"]
    if gid is None:
        keyed = df.withColumn("_id", F.lit(None).cast("string"))
    elif isinstance(gid, str):
        keyed = df.withColumn("_id", _ref(gid))
    elif isinstance(gid, dict) and len(gid) == 1 \
            and next(iter(gid)).startswith("$"):
        # expression key, e.g. {_id: {$month: "$o_orderdate"}}
        keyed = df.withColumn("_id", _expr(gid))
    elif isinstance(gid, dict):
        keyed = df.withColumn(
            "_id",
            F.struct(*[_expr(v).alias(k) for k, v in gid.items()]),
        )
    else:
        raise ValueError(f"unsupported $group _id: {gid!r}")
    aggs = [
        _accumulator(acc).alias(name)
        for name, acc in spec.items()
        if name != "_id"
    ]
    return keyed.groupBy("_id").agg(*aggs)


def _apply_project(df: DataFrame, spec: dict) -> DataFrame:
    includes: list[Column] = []
    excludes: list[str] = []
    has_include = False
    for name, v in spec.items():
        if v in (0, False):
            excludes.append(name)
        elif v in (1, True):
            has_include = True
            includes.append(F.col(name))
        else:  # rename / computed expression: {"alias": <expression>}
            has_include = True
            includes.append(_expr(v).alias(name))
    if has_include and [e for e in excludes if e != "_id"]:
        # Mongo rejects mixed include/exclude projections (except _id);
        # accepting them silently would mask a malformed pipeline
        raise ValueError(
            f"$project cannot mix inclusion with exclusion (except _id): "
            f"{spec!r}"
        )
    if has_include:
        if "_id" in df.columns and "_id" not in spec:
            includes.insert(0, F.col("_id"))  # _id is implicit in Mongo
        return df.select(*includes)
    return df.drop(*excludes)


def _apply_unwind(df: DataFrame, spec: Any) -> DataFrame:
    if isinstance(spec, str):
        path, preserve, idx = spec[1:], False, None
    else:
        path = spec["path"][1:]
        preserve = bool(spec.get("preserveNullAndEmptyArrays"))
        idx = spec.get("includeArrayIndex")
    if idx is None:
        fn = F.explode_outer if preserve else F.explode
        return df.withColumn(path, fn(F.col(path)))
    fn = F.posexplode_outer if preserve else F.posexplode
    others = [c for c in df.columns if c != path]
    return df.select(*others, fn(F.col(path)).alias(idx, path)) \
        .withColumn(idx, F.col(idx).cast("long"))


def _apply_lookup(df: DataFrame, spec: dict,
                  tables: dict[str, DataFrame] | None,
                  unwind: bool | None = None) -> DataFrame:
    """$lookup (equality form): left outer join where each left row
    gains an ARRAY of matching foreign docs under `as` — expressed as
    pre-aggregate-then-join so the join carries one row per foreign
    key (no fan-out, broadcastable when the rolled-up side is small):

        foreign.groupBy(foreignField).agg(collect_list(struct(*)))
        left join on localField == foreignField
        coalesce(matches, []) AS as

    Mongo semantics preserved: no match -> empty array, not NULL, and
    the join is null-safe — a null/missing localField matches foreign
    docs whose foreignField is null, as Mongo does.

    The pipeline form ({from, let, pipeline, as}) compiles the
    correlated-equality shape to the same join: $match stages whose
    $expr is an $eq (or $and of $eqs) between a $$let variable and a
    foreign field become join keys; remaining UNCORRELATED row-wise
    stages ($match/$project/$addFields/$set/$unset) pre-filter the
    foreign frame. Stages that don't commute with the per-row grouping
    ($group/$sort/$limit/$skip and anything still referencing $$vars)
    are refused with a clear error — a correlated subquery per row is
    exactly the shape that cannot scale, so the translator won't
    silently build it.

    `unwind` is the preserveNullAndEmptyArrays of an $unwind of `as`
    that follows the equality form (see _unwind_of_lookup): the pair is
    then one null-safe join, left when preserving and inner otherwise,
    with `as` a struct of the foreign columns: a row per (row, match),
    no roll-up and no explode, as MongoDB coalesces the pair itself."""
    if not tables or spec["from"] not in tables:
        raise ValueError(
            f"$lookup from {spec.get('from')!r}: pass the foreign frame "
            f"via mongo_pipeline_to_df(..., tables={{name: df}})"
        )
    foreign = tables[spec["from"]]
    if "pipeline" in spec:
        return _apply_lookup_pipeline(df, spec, foreign)
    local, fkey, alias = spec["localField"], spec["foreignField"], spec["as"]
    if unwind is not None:
        docs = foreign.select(F.col(fkey).alias("__lk"),
                              F.struct(*foreign.columns).alias("__doc"))
        joined = df.join(docs, df[local].eqNullSafe(docs["__lk"]),
                         "left" if unwind else "inner")
        return joined.withColumn(alias, F.col("__doc")).drop("__lk", "__doc")
    rolled = (
        foreign.groupBy(F.col(fkey).alias("__lk"))
        .agg(F.collect_list(F.struct(*foreign.columns)).alias("__docs"))
    )
    joined = df.join(rolled, df[local].eqNullSafe(rolled["__lk"]), "left")
    empty = F.array().cast(
        dict(joined.dtypes)["__docs"]
    )
    return joined.withColumn(
        alias, F.coalesce(F.col("__docs"), empty)
    ).drop("__lk", "__docs")


def _unwind_of_lookup(lookup: dict, following: list[dict]) -> bool | None:
    """preserveNullAndEmptyArrays of the stage in `following` (the one
    after an equality-form $lookup) when it is an $unwind of exactly the
    lookup's `as` without includeArrayIndex; None when it is not."""
    nxt = following[0] if following else None
    if "pipeline" in lookup or not (isinstance(nxt, dict)
                                    and list(nxt) == ["$unwind"]):
        return None
    spec = nxt["$unwind"]
    if isinstance(spec, str):
        spec = {"path": spec}
    if not isinstance(spec, dict) or "includeArrayIndex" in spec \
            or spec.get("path") != f"${lookup.get('as')}":
        return None
    return bool(spec.get("preserveNullAndEmptyArrays"))


def _window_frame(base, sort_by: dict | None, window_spec: dict | None):
    """Mongo window spec -> Spark WindowSpec. Default window (no
    `documents`) is the whole partition, Mongo's contract."""
    from pyspark.sql.window import Window as W

    w = base
    if sort_by:
        w = w.orderBy(*[
            F.col(c).asc() if d >= 0 else F.col(c).desc()
            for c, d in sort_by.items()
        ])

    def _bound(b, lo: bool):
        if b == "unbounded":
            return W.unboundedPreceding if lo else W.unboundedFollowing
        if b == "current":
            return W.currentRow
        return int(b)

    docs = (window_spec or {}).get("documents")
    rng = (window_spec or {}).get("range")
    if docs:
        w = w.rowsBetween(_bound(docs[0], True), _bound(docs[1], False))
    elif rng:
        if (window_spec or {}).get("unit"):
            raise ValueError(
                "$setWindowFields range windows with a time unit are "
                "unsupported — sort by a numeric epoch column and use "
                "a plain range instead")
        w = w.rangeBetween(_bound(rng[0], True), _bound(rng[1], False))
    elif sort_by is None:
        w = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    else:
        # Mongo: with sortBy but no explicit window, accumulator
        # windows still span the whole partition
        w = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return w


def _apply_set_window_fields(df: DataFrame, spec: dict) -> DataFrame:
    """$setWindowFields -> Spark window functions (the stage IS Spark's
    window operator; the translation is 1:1). Supported operators:
    $sum $avg $min $max $count $push $first $last $rank $denseRank
    $documentNumber $shift. partitionBy: '$field' or None (None =
    one global partition — fine for small frames, a scale smell on
    big ones, exactly as in Mongo)."""
    from pyspark.sql.window import Window as W

    part = spec.get("partitionBy")
    base = W.partitionBy(_ref(part)) if part is not None else W.partitionBy()
    sort_by = spec.get("sortBy")
    out = df
    for name, ospec in spec["output"].items():
        ospec = dict(ospec)
        window_spec = ospec.pop("window", None)
        if len(ospec) != 1:
            raise ValueError(
                f"$setWindowFields output {name!r} needs exactly one "
                f"operator: {ospec!r}")
        op, arg = next(iter(ospec.items()))
        rank_ops = {"$rank": F.rank, "$denseRank": F.dense_rank,
                    "$documentNumber": F.row_number}
        if op in rank_ops:
            if not sort_by:
                raise ValueError(f"{op} requires sortBy")
            w = base.orderBy(*[
                F.col(c).asc() if d >= 0 else F.col(c).desc()
                for c, d in sort_by.items()
            ])
            col = rank_ops[op]().over(w)
        elif op == "$derivative":
            if not sort_by or len(sort_by) != 1:
                raise ValueError("$derivative requires one sortBy field")
            w = _window_frame(base, sort_by, window_spec)
            sfield = next(iter(sort_by))
            y = _expr(arg["input"]).cast("double")
            x = F.col(sfield).cast("double")  # timestamps -> epoch s
            dy = F.last(y).over(w) - F.first(y).over(w)
            dx = F.last(x).over(w) - F.first(x).over(w)
            unit = arg.get("unit")
            if unit is not None:
                secs = {"week": 604800.0, "day": 86400.0, "hour": 3600.0,
                        "minute": 60.0, "second": 1.0,
                        "millisecond": 0.001}[unit]
                dx = dx / F.lit(secs)
            col = F.when(dx != 0, dy / dx)
        elif op == "$integral":
            # trapezoidal rule: per-row t_i = (y_i + y_{i-1})/2 *
            # (x_i - x_{i-1}) via lag, then sum over the frame MINUS
            # the frame's first trapezoid (it spans outside the frame)
            if not sort_by or len(sort_by) != 1:
                raise ValueError("$integral requires one sortBy field")
            sfield = next(iter(sort_by))
            ordw = base.orderBy(*[
                F.col(c).asc() if d >= 0 else F.col(c).desc()
                for c, d in sort_by.items()
            ])
            y = _expr(arg["input"]).cast("double")
            x = F.col(sfield).cast("double")
            trap = ((y + F.lag(y, 1).over(ordw)) / 2
                    * (x - F.lag(x, 1).over(ordw)))
            unit = arg.get("unit")
            if unit is not None:
                secs = {"week": 604800.0, "day": 86400.0, "hour": 3600.0,
                        "minute": 60.0, "second": 1.0,
                        "millisecond": 0.001}[unit]
                trap = trap / F.lit(secs)
            w = _window_frame(base, sort_by, window_spec)
            col = F.coalesce(
                F.sum(trap).over(w) - F.first(trap).over(w),
                F.sum(trap).over(w), F.lit(0.0))
        elif op == "$expMovingAvg":
            # EMA is inherently sequential: fold the ordered prefix of
            # inputs per row (collect_list over unbounded-preceding +
            # aggregate HOF). O(n) values per row — fine at rollup
            # granularity, a scale smell on million-row partitions,
            # exactly like Mongo's own per-partition scan.
            if not sort_by:
                raise ValueError("$expMovingAvg requires sortBy")
            if "N" in arg:
                alpha = 2.0 / (float(arg["N"]) + 1.0)
            else:
                alpha = float(arg["alpha"])
            w = _window_frame(
                base, sort_by, {"documents": ["unbounded", "current"]})
            vals = F.collect_list(
                _expr(arg["input"]).cast("double")).over(w)
            col = F.aggregate(
                vals, F.lit(None).cast("double"),
                lambda acc, v: F.when(acc.isNull(), v).otherwise(
                    F.lit(alpha) * v + F.lit(1.0 - alpha) * acc),
            )
        elif op == "$shift":
            if not sort_by:
                raise ValueError("$shift requires sortBy")
            w = base.orderBy(*[
                F.col(c).asc() if d >= 0 else F.col(c).desc()
                for c, d in sort_by.items()
            ])
            by = int(arg.get("by", 1))
            default = arg.get("default")
            fn = F.lead if by >= 0 else F.lag
            col = fn(_ref(arg["output"]), abs(by), default).over(w)
        else:
            w = _window_frame(base, sort_by, window_spec)
            agg_ops = {
                "$sum": lambda a: F.sum(_ref(a)),
                "$avg": lambda a: F.avg(_ref(a)),
                "$min": lambda a: F.min(_ref(a)),
                "$max": lambda a: F.max(_ref(a)),
                "$count": lambda a: F.count(F.lit(1)),
                "$push": lambda a: F.collect_list(_ref(a)),
                "$first": lambda a: F.first(_ref(a)),
                "$last": lambda a: F.last(_ref(a)),
                "$stdDevPop": lambda a: F.stddev_pop(_ref(a)),
                "$stdDevSamp": lambda a: F.stddev_samp(_ref(a)),
                "$covariancePop": lambda a: F.covar_pop(
                    _ref(a[0]), _ref(a[1])),
                "$covarianceSamp": lambda a: F.covar_samp(
                    _ref(a[0]), _ref(a[1])),
            }
            if op not in agg_ops:
                raise ValueError(
                    f"unsupported $setWindowFields operator: {op}")
            col = agg_ops[op](arg).over(w)
        out = out.withColumn(name, col)
    return out


def _apply_graph_lookup(df: DataFrame, spec: dict,
                        tables: dict[str, DataFrame] | None) -> DataFrame:
    """$graphLookup: BFS over `from`, seeded per input row from
    `startWith`, following connectFromField -> connectToField edges.
    Spark-first shape: a join-per-depth loop (O(diameter) rounds, the
    same frontier pattern as the dedup connected-components operator),
    frontier deduplicated per (row, node) so cycles terminate; matched
    docs collect into `as` (+ optional depthField). maxDepth bounds the
    rounds; default 20 guards unbounded cyclic graphs (Mongo's only
    bound is memory — documented deviation)."""
    if not tables or spec["from"] not in tables:
        raise ValueError(
            f"$graphLookup from {spec.get('from')!r}: pass the frame "
            f"via tables=")
    foreign = tables[spec["from"]]
    start, alias = spec["startWith"], spec["as"]
    cfrom, cto = spec["connectFromField"], spec["connectToField"]
    depth_field = spec.get("depthField")
    max_depth = int(spec.get("maxDepth", 20))

    # pin the row ids: monotonically_increasing_id is assigned per
    # evaluation, and src feeds BOTH the frontier loop and the final
    # join — re-evaluation would mismatch them (same failure class as
    # the keep_newest partition-id race)
    src = df.withColumn(
        "__row", F.monotonically_increasing_id()
    ).localCheckpoint(eager=True)
    fcols = foreign.columns
    # frontier: (row id, node value to match against connectToField)
    frontier = src.select("__row", _ref(start).alias("__v")).distinct()
    reached = None  # (__row, foreign cols..., __depth)
    for depth in range(max_depth + 1):
        hits = frontier.join(
            foreign, frontier["__v"].eqNullSafe(foreign[cto])
        ).select("__row", *fcols, F.lit(depth).alias("__depth"))
        if reached is not None:
            # drop (row, node) pairs already visited — terminates cycles
            seen = reached.select(
                F.col("__row").alias("__r2"), F.col(cto).alias("__seen")
            )
            hits = hits.join(
                seen,
                (hits["__row"] == seen["__r2"])
                & hits[cto].eqNullSafe(seen["__seen"]),
                "left_anti",
            )
        hits = hits.localCheckpoint(eager=True)  # cut loop lineage
        if hits.limit(1).count() == 0:
            break
        reached = hits if reached is None else reached.unionByName(hits)
        frontier = hits.select("__row", F.col(cfrom).alias("__v")) \
            .distinct()

    if reached is None:  # nothing matched anywhere: everyone gets []
        struct_fields = ", ".join(
            f"{f.name}: {f.dataType.simpleString()}"
            for f in foreign.schema.fields
        )
        if depth_field:
            struct_fields += f", {depth_field}: bigint"
        return src.withColumn(
            alias, F.array().cast(f"array<struct<{struct_fields}>>")
        ).drop("__row")

    doc_cols = list(fcols) + (
        [F.col("__depth").cast("long").alias(depth_field)]
        if depth_field else []
    )
    rolled = reached.groupBy("__row").agg(
        F.collect_list(F.struct(*doc_cols)).alias(alias)
    )
    empty = None
    out = src.join(rolled, "__row", "left")
    empty = F.array().cast(dict(out.dtypes)[alias])
    return out.withColumn(alias, F.coalesce(F.col(alias), empty)) \
        .drop("__row")


def _apply_densify(df: DataFrame, spec: dict) -> DataFrame:
    """$densify: insert rows so `field` steps evenly across the
    bounds; non-densified columns are NULL on generated rows, as in
    Mongo. bounds: 'full' (global min/max — a 1-row scalar broadcast,
    not a collect of the data), 'partition', or [lo, hi) literals.
    Numeric by default; range.unit (year/month/week/day/hour/minute/
    second) switches to timestamp grids via interval-stepped sequence.
    Generation is sequence+explode per partition key — no driver
    loop."""
    field = spec["field"]
    rng = spec["range"]
    step = rng["step"]
    unit = rng.get("unit")
    if unit is not None and unit not in (
        "year", "month", "week", "day", "hour", "minute", "second"
    ):
        raise ValueError(f"unsupported $densify unit: {unit}")
    step_expr = (F.expr(f"INTERVAL {int(step)} {unit}") if unit
                 else F.lit(step))
    bounds = rng.get("bounds", "full")
    parts = spec.get("partitionByFields", [])

    if isinstance(bounds, (list, tuple)):
        lo, hi = F.lit(bounds[0]), F.lit(bounds[1])
        grid_src = (df.select(*parts).distinct() if parts
                    else df.limit(1).select(F.lit(1).alias("__one")))
    else:
        agg = [F.min(field).alias("__lo"), F.max(field).alias("__hi")]
        grid_src = (df.groupBy(*parts).agg(*agg) if parts and
                    bounds == "partition" else
                    df.agg(*agg).crossJoin(
                        df.select(*parts).distinct()) if parts else
                    df.agg(*agg))
        lo, hi = F.col("__lo"), F.col("__hi")

    grid = grid_src.select(
        *(parts or []),
        F.explode(
            F.sequence(lo, hi, step_expr)
        ).alias(field),
    )
    if isinstance(bounds, (list, tuple)):
        # Mongo bounds are [lo, hi): the sequence is inclusive — trim
        grid = grid.filter(F.col(field) < F.lit(bounds[1]))
    join_keys = parts + [field]
    existing = df.select(*[F.col(c).alias(c) for c in join_keys]) \
        .distinct()
    missing = grid.join(existing, join_keys, "left_anti")
    return df.unionByName(missing, allowMissingColumns=True)


def _apply_fill(df: DataFrame, spec: dict) -> DataFrame:
    """$fill: value fill, last-observation-carried-forward, or
    linear interpolation per partition/sort (locf = last(ignorenulls)
    over unbounded-preceding; linear = surrounding known points via
    the same window pair the as-of join uses)."""
    from pyspark.sql.window import Window as W

    part = spec.get("partitionBy")
    parts = ([_ref(part)] if isinstance(part, str)
             else [_ref(p) for p in part] if part else [])
    sort_by = spec.get("sortBy")
    out = df
    for name, how in spec["output"].items():
        if "value" in how:
            out = out.withColumn(
                name, F.coalesce(F.col(name), _ref(how["value"])))
        elif how.get("method") == "locf":
            if not sort_by:
                raise ValueError("$fill method locf requires sortBy")
            w = W.partitionBy(*parts).orderBy(*[
                F.col(c).asc() if d >= 0 else F.col(c).desc()
                for c, d in sort_by.items()
            ]).rowsBetween(W.unboundedPreceding, W.currentRow)
            out = out.withColumn(
                name, F.last(F.col(name), ignorenulls=True).over(w))
        elif how.get("method") == "linear":
            # interpolate between the surrounding non-null points on
            # the (single, numeric) sort axis; Mongo's contract —
            # leading/trailing nulls stay null
            if not sort_by or len(sort_by) != 1:
                raise ValueError(
                    "$fill method linear requires a single sortBy "
                    "field")
            sfield = next(iter(sort_by))
            order = [F.col(sfield).asc() if sort_by[sfield] >= 0
                     else F.col(sfield).desc()]
            wb = W.partitionBy(*parts).orderBy(*order) \
                .rowsBetween(W.unboundedPreceding, W.currentRow)
            wf = W.partitionBy(*parts).orderBy(*order) \
                .rowsBetween(W.currentRow, W.unboundedFollowing)
            v = F.col(name).cast("double")
            x = F.col(sfield).cast("double")
            x_of_v = F.when(F.col(name).isNotNull(), x)
            pv = F.last(v, ignorenulls=True).over(wb)
            px = F.last(x_of_v, ignorenulls=True).over(wb)
            nv = F.first(v, ignorenulls=True).over(wf)
            nx = F.first(x_of_v, ignorenulls=True).over(wf)
            interp = pv + (nv - pv) * (x - px) / (nx - px)
            out = out.withColumn(
                name,
                F.when(F.col(name).isNotNull(), v)
                .when(pv.isNotNull() & nv.isNotNull(), interp))
        else:
            raise ValueError(f"unsupported $fill output: {how!r}")
    return out


def _contains_var(spec: Any) -> bool:
    """True if the expression subtree references any $$variable."""
    if isinstance(spec, str):
        return spec.startswith("$$")
    if isinstance(spec, dict):
        return any(_contains_var(v) for v in spec.values())
    if isinstance(spec, list):
        return any(_contains_var(v) for v in spec)
    return False


def _apply_lookup_pipeline(df: DataFrame, spec: dict,
                           foreign: DataFrame) -> DataFrame:
    """Pipeline-form $lookup (see _apply_lookup docstring)."""
    alias = spec["as"]
    let = spec.get("let", {})
    eq_pairs: list[tuple[Any, Any]] = []  # (local side, foreign side)
    # combined form (Mongo 8): localField/foreignField equality joins
    # ALONGSIDE the pipeline — seed it as the first join key (row-wise
    # pipeline stages commute with the equality restriction)
    if "localField" in spec and "foreignField" in spec:
        eq_pairs.append(("$" + spec["localField"],
                         "$" + spec["foreignField"]))
    pre_stages: list[dict] = []   # before the correlated $match
    post_stages: list[dict] = []  # after it (Mongo runs in order)
    # combined form: the field key binds on the RAW foreign frame, so
    # every pipeline stage runs post-join-key (include-mode $projects
    # carry the key through below); pure pipeline form starts pre
    residual = post_stages if eq_pairs else pre_stages

    def _split_eq(e: dict) -> None:
        op, arg = next(iter(e.items()))
        if op == "$and":
            for sub in arg:
                _split_eq(sub)
            return
        if op != "$eq" or len(arg) != 2:
            raise ValueError(
                f"$lookup pipeline $expr supports $eq / $and-of-$eq "
                f"correlations, got: {e!r}")
        a, b = arg
        if _contains_var(a) and not _contains_var(b):
            eq_pairs.append((a, b))
        elif _contains_var(b) and not _contains_var(a):
            eq_pairs.append((b, a))
        else:
            raise ValueError(
                f"$eq must compare a $$variable side with a foreign "
                f"side: {e!r}")

    for stage in spec["pipeline"]:
        op, sspec = next(iter(stage.items()))
        if op == "$match" and isinstance(sspec, dict) \
                and "$expr" in sspec and _contains_var(sspec["$expr"]):
            _split_eq(sspec["$expr"])
            rest = {k: v for k, v in sspec.items() if k != "$expr"}
            if rest:
                residual.append({"$match": rest})
            residual = post_stages
        elif op in ("$match", "$project", "$addFields", "$set",
                    "$unset") and not _contains_var(sspec):
            residual.append(stage)
        else:
            raise ValueError(
                f"$lookup pipeline stage not supported in the "
                f"join-compiled form: {stage!r} (correlated non-$eq, "
                f"or a stage that doesn't commute with per-row "
                f"grouping: $group/$sort/$limit/$skip)")

    def _bind_local(e: Any) -> Column:
        """Local-side expr: substitute $$var with its let binding
        (an expression over df)."""
        if isinstance(e, str) and e.startswith("$$"):
            name = e[2:].split(".", 1)[0]
            if name not in let:
                raise ValueError(f"undefined $lookup let variable: {e}")
            return _expr(let[name])
        if isinstance(e, dict):
            raise ValueError(
                f"only a bare $$variable is supported on the local "
                f"side of a join $eq: {e!r}")
        return _expr(e)

    left = df
    # keys bind where the correlated $match sat in the pipeline: after
    # the pre-stages, before the post-stages (which may drop/rename
    # the key's source columns)
    right = mongo_pipeline_to_df(foreign, pre_stages)
    for i, (lspec, fspec) in enumerate(eq_pairs):
        left = left.withColumn(f"__lk{i}", _bind_local(lspec))
        right = right.withColumn(f"__fk{i}", _expr(fspec))
    key_names = [f"__fk{i}" for i in range(len(eq_pairs))]
    for stage in post_stages:
        op, sspec = next(iter(stage.items()))
        if op == "$project" and any(
            v not in (0, False) for v in sspec.values()
        ):
            # include-mode project: carry the join keys through
            sspec = {**sspec, **{k: 1 for k in key_names}}
        right = mongo_pipeline_to_df(right, [{op: sspec}])
    fcols = [c for c in right.columns if c not in key_names]
    rolled = right.groupBy(
        *[F.col(f"__fk{i}") for i in range(len(eq_pairs))]
    ).agg(F.collect_list(F.struct(*fcols)).alias("__docs"))

    cond = None
    for i in range(len(eq_pairs)):
        c = left[f"__lk{i}"].eqNullSafe(rolled[f"__fk{i}"])
        cond = c if cond is None else (cond & c)
    if cond is None:
        raise ValueError(
            "$lookup pipeline needs at least one $expr $eq correlation "
            "(an uncorrelated lookup is $unionWith/crossJoin territory)")
    joined = left.join(rolled, cond, "left")
    empty = F.array().cast(dict(joined.dtypes)["__docs"])
    drop = ["__docs"] + [f"__lk{i}" for i in range(len(eq_pairs))] \
        + [f"__fk{i}" for i in range(len(eq_pairs))]
    return joined.withColumn(
        alias, F.coalesce(F.col("__docs"), empty)
    ).drop(*drop)


def mongo_pipeline_to_df(
    df: DataFrame,
    stages: list[dict],
    tables: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Apply an aggregation pipeline to a DataFrame, stage by stage.
    `tables` names the foreign frames $lookup may reference."""
    out = df
    coalesced = -1  # an $unwind applied with the $lookup before it
    for i, stage in enumerate(stages):
        if i == coalesced:
            continue
        if not (isinstance(stage, dict) and len(stage) == 1):
            raise ValueError(f"each stage must have exactly one key: {stage!r}")
        op, spec = next(iter(stage.items()))
        if op == "$vectorSearch":
            if i != 0:
                raise ValueError(
                    "$vectorSearch must be the first pipeline stage")
            out = _apply_vector_search(out, spec)
        elif op == "$documents":
            if i != 0:
                raise ValueError(
                    "$documents must be the first pipeline stage")
            if not isinstance(spec, list) or not spec:
                raise ValueError("$documents requires a non-empty array")
            out = df.sparkSession.createDataFrame(spec)
        elif op == "$geoNear":
            if i != 0:
                raise ValueError(
                    "$geoNear must be the first pipeline stage")
            out = _apply_geo_near(out, spec)
        elif op == "$redact":
            out = _apply_redact(out, spec)
        elif op == "$match":
            out = out.filter(mongo_filter_to_column(spec))
        elif op == "$group":
            out = _apply_group(out, spec)
        elif op == "$project":
            out = _apply_project(out, spec)
        elif op in ("$addFields", "$set"):
            for name, v in spec.items():
                out = out.withColumn(name, _expr(v))
        elif op == "$unset":
            fields = [spec] if isinstance(spec, str) else list(spec)
            out = out.drop(*fields)
        elif op == "$sort":
            out = out.orderBy(*[
                F.col(c).asc() if d >= 0 else F.col(c).desc()
                for c, d in spec.items()
            ])
        elif op == "$limit":
            out = out.limit(int(spec))
        elif op == "$skip":
            out = out.offset(int(spec))
        elif op == "$count":
            out = out.agg(F.count(F.lit(1)).alias(str(spec)))
        elif op == "$collStats":
            # count form only: storage/latency stats belong to the
            # storage layer (operators/profile.py + compact.table_bytes
            # cover the assessment surface)
            if set(spec) - {"count"}:
                raise ValueError(
                    "$collStats supports only the count form; use the "
                    "profile CLI for storage-level stats")
            out = out.agg(F.count(F.lit(1)).alias("count"))
        elif op == "$unwind":
            out = _apply_unwind(out, spec)
        elif op == "$sample":
            n = int(spec["size"])
            out = out.orderBy(F.xxhash64(F.rand(_SEED))).limit(n)
        elif op == "$lookup":
            unwind = _unwind_of_lookup(spec, stages[i + 1:i + 2])
            out = _apply_lookup(out, spec, tables, unwind)
            if unwind is not None:
                coalesced = i + 1
        elif op == "$sortByCount":
            out = (
                out.withColumn("_id", _ref(spec))
                .groupBy("_id").agg(F.count(F.lit(1)).alias("count"))
                .orderBy(F.desc("count"), F.col("_id"))
            )
        elif op == "$unionWith":
            name = spec if isinstance(spec, str) else spec["coll"]
            if not tables or name not in tables:
                raise ValueError(
                    f"$unionWith {name!r}: pass the frame via tables=")
            other = tables[name]
            if isinstance(spec, dict) and spec.get("pipeline"):
                other = mongo_pipeline_to_df(other, spec["pipeline"], tables)
            out = out.unionByName(other, allowMissingColumns=True)
        elif op == "$replaceRoot" or op == "$replaceWith":
            ref = (spec.get("newRoot") if isinstance(spec, dict)
                   else spec)
            if not (isinstance(ref, str) and ref.startswith("$")):
                raise ValueError(
                    f"{op} supports a '$field' path newRoot, got: {spec!r}")
            out = out.select(f"{ref[1:]}.*")
        elif op == "$bucket":
            bounds = spec["boundaries"]
            if len(bounds) < 2 or bounds != sorted(bounds):
                raise ValueError(
                    f"$bucket boundaries must be >=2 ascending values: "
                    f"{bounds!r}")
            gb = _ref(spec["groupBy"])
            default = spec.get("default")
            # one Spark column can't mix Mongo's heterogeneous _id
            # types: a string default coerces the bound _ids to string
            # (documented deviation — sort order becomes lexicographic)
            as_str = isinstance(default, str)
            lit = (lambda v: F.lit(str(v)) if as_str else F.lit(v))
            # absent default: out-of-range rows land in _id=NULL here
            # (Mongo errors the aggregation instead — deviation)
            bucket = F.lit(default)
            for lo, hi in zip(bounds, bounds[1:]):
                bucket = F.when(
                    (gb >= F.lit(lo)) & (gb < F.lit(hi)), lit(lo)
                ).otherwise(bucket)
            keyed = out.withColumn("_id", bucket)
            outputs = spec.get("output", {"count": {"$sum": 1}})
            aggs = [_accumulator(a).alias(n) for n, a in outputs.items()]
            out = keyed.groupBy("_id").agg(*aggs).orderBy("_id")
        elif op == "$bucketAuto":
            # even-count buckets via a global ntile sort (bucketAuto is
            # inherently a total order; Mongo's is equally approximate
            # at value ties). Boundary rows with equal groupBy values
            # may land in either adjacent bucket.
            from pyspark.sql.window import Window

            n = int(spec["buckets"])
            gb = _ref(spec["groupBy"])
            w = Window.orderBy(gb)
            keyed = out.withColumn("__gv", gb).withColumn(
                "__b", F.ntile(n).over(w))
            outputs = spec.get("output", {"count": {"$sum": 1}})
            aggs = [_accumulator(a).alias(nm) for nm, a in outputs.items()]
            out = (
                keyed.groupBy("__b")
                .agg(F.struct(F.min("__gv").alias("min"),
                              F.max("__gv").alias("max")).alias("_id"),
                     *aggs)
                .orderBy("__b").drop("__b")
                .select("_id", *outputs.keys())
            )
        elif op == "$setWindowFields":
            out = _apply_set_window_fields(out, spec)
        elif op == "$graphLookup":
            out = _apply_graph_lookup(out, spec, tables)
        elif op == "$densify":
            out = _apply_densify(out, spec)
        elif op == "$fill":
            out = _apply_fill(out, spec)
        elif op == "$facet":
            # each facet runs its own sub-pipeline over the SAME input
            # and lands as an array-of-struct column in one result row;
            # array element order is unordered unless the sub-pipeline
            # ends with $sort (collect_list gives no ordering promise)
            if not spec:
                raise ValueError("$facet requires at least one facet")
            facets = []
            for name, sub in spec.items():
                fdf = mongo_pipeline_to_df(out, sub, tables)
                facets.append(
                    fdf.agg(F.collect_list(
                        F.struct(*fdf.columns)).alias(name))
                )
            merged = facets[0]
            for fdf in facets[1:]:
                merged = merged.crossJoin(fdf)
            out = merged
        else:
            raise ValueError(f"unsupported pipeline stage: {op}")
    # Mongo hides the vector-search score unless a later stage projects
    # it via {$meta: "vectorSearchScore"}
    if "__vs_score" in out.columns:
        out = out.drop("__vs_score")
    return out


def _apply_redact(df: DataFrame, spec: Any) -> DataFrame:
    """$redact: per-document (and recursively per embedded document /
    array-of-documents element) access control. The expression
    evaluates at every document level to $$PRUNE (drop this level),
    $$KEEP (keep subtree as-is, stop recursing), or $$DESCEND (keep
    this level's scalars, recurse into subdocuments) — the
    field-level-security generalization of the reference's masking
    transform (mask.go:23-49 recurses subdocs/arrays the same way).

    Schema-driven: Spark knows every struct's shape, so the recursion
    is compiled into nested when()/struct() expressions — one pass, no
    UDF. Restriction (documented): field refs inside the condition are
    single-level names resolved at the CURRENT level (Mongo's own
    common usage); dotted refs raise."""
    from pyspark.sql import types as T

    def _rebase(tree: Any) -> Any:
        # "$f" -> "$$doc.f" so the same condition evaluates against
        # whichever level's struct is bound as $$doc
        if isinstance(tree, str) and tree.startswith("$") \
                and not tree.startswith("$$"):
            if "." in tree:
                raise ValueError(
                    "$redact: dotted field refs are unsupported — the "
                    "condition binds to the current document level")
            return "$$doc." + tree[1:]
        if isinstance(tree, list):
            return [_rebase(x) for x in tree]
        if isinstance(tree, dict):
            return {k: _rebase(v) for k, v in tree.items()}
        return tree

    sentinels = {"PRUNE": F.lit("__prune__"), "KEEP": F.lit("__keep__"),
                 "DESCEND": F.lit("__descend__")}
    rebased = _rebase(spec)

    def decision(base: Column | None) -> Column:
        if base is None:
            return _expr_v(spec, dict(sentinels))
        return _expr_v(rebased, {**sentinels, "doc": base})

    def redact_value(col: Column, dtype) -> Column:
        if isinstance(dtype, T.StructType):
            d = decision(col)
            rebuilt = F.struct(*[
                redact_value(col[f.name], f.dataType).alias(f.name)
                for f in dtype.fields
            ])
            return F.when(col.isNull() | (d == "__prune__"),
                          F.lit(None).cast(dtype)) \
                .when(d == "__keep__", col).otherwise(rebuilt)
        if isinstance(dtype, T.ArrayType) and \
                isinstance(dtype.elementType, T.StructType):
            et = dtype.elementType
            kept = F.filter(col, lambda e: decision(e) != "__prune__")
            return F.transform(kept, lambda e: redact_value(e, et))
        return col

    root = decision(None)
    out = df.filter(root != "__prune__")
    return out.select(*[
        F.when(root == "__keep__", F.col(f.name))
        .otherwise(redact_value(F.col(f.name), f.dataType))
        .alias(f.name)
        for f in df.schema.fields
    ])


_EARTH_RADIUS_M = 6_378_100.0  # MongoDB's earth radius constant


def _apply_geo_near(df: DataFrame, spec: dict) -> DataFrame:
    """$geoNear (first-stage only) without a geo index: the `key`
    column holds [lon, lat]; distance to `near` is computed per row
    (haversine on the Mongo earth radius for spherical=true, planar
    euclidean in coordinate units otherwise), filtered by
    min/maxDistance, sorted ascending into `distanceField`. On a
    lat-partitioned/z-ordered table the min/max predicate is the
    pushdown handle; the sort is the same TakeOrdered every top-k
    query compiles to."""
    near = [float(x) for x in spec["near"]]
    key = spec.get("key", "location")
    dist_field = spec["distanceField"]
    lon, lat = F.element_at(F.col(key), 1), F.element_at(F.col(key), 2)
    if spec.get("spherical", False):
        lam1, phi1 = F.radians(lon), F.radians(lat)
        lam2, phi2 = math.radians(near[0]), math.radians(near[1])
        a = (
            F.pow(F.sin((F.lit(phi2) - phi1) / 2), 2)
            + F.cos(phi1) * F.lit(math.cos(phi2))
            * F.pow(F.sin((F.lit(lam2) - lam1) / 2), 2)
        )
        dist = F.lit(2 * _EARTH_RADIUS_M) * F.asin(F.sqrt(a))
    else:
        dist = F.sqrt(F.pow(lon - near[0], 2) + F.pow(lat - near[1], 2))
    mult = float(spec.get("distanceMultiplier", 1.0))
    out = df.withColumn(dist_field, F.round(dist * mult, 6))
    if spec.get("query"):
        out = out.filter(mongo_filter_to_column(spec["query"]))
    if "minDistance" in spec:
        out = out.filter(F.col(dist_field) >= float(spec["minDistance"]))
    if "maxDistance" in spec:
        out = out.filter(F.col(dist_field) <= float(spec["maxDistance"]))
    return out.orderBy(F.asc(dist_field))


def _apply_vector_search(df: DataFrame, spec: dict) -> DataFrame:
    """$vectorSearch (Atlas vector search, first-stage only) over an
    array<float> column. exact=True scores every row (ENN); the default
    ANN path prunes to sign-LSH buckets within hamming<=2 of the
    query's bucket before exact rescoring — numCandidates only bounds
    the rescore set, as in Atlas. An optional `filter` (find() dialect)
    applies BEFORE scoring so the scan prunes first. The score is kept
    in a hidden column surfaced by {$meta: "vectorSearchScore"}."""
    from hummingbird_spark.operators.similarity import (
        _query_bucket,
        _vec_lit,
        cosine,
        lsh_bucket,
        random_hyperplanes,
    )

    path = spec["path"]
    qvec = [float(x) for x in spec["queryVector"]]
    limit = int(spec["limit"])
    out = df
    if spec.get("filter"):
        out = out.filter(mongo_filter_to_column(spec["filter"]))
    if not spec.get("exact", False):
        n_planes = 8
        planes = random_hyperplanes(len(qvec), n_planes)
        qb = _query_bucket(qvec, planes)
        probe = {qb}
        for j in range(n_planes):
            probe.add(qb ^ (1 << j))
            for k in range(j + 1, n_planes):
                probe.add(qb ^ (1 << j) ^ (1 << k))
        out = out.withColumn(
            "__vs_bucket", lsh_bucket(F.col(path), planes)
        ).filter(F.col("__vs_bucket").isin(*probe)).drop("__vs_bucket")
        n_cand = int(spec.get("numCandidates", limit * 10))
        score = F.round(cosine(F.col(path), _vec_lit(qvec), len(qvec)), 6)
        out = out.withColumn("__vs_score", score) \
            .orderBy(F.desc("__vs_score")).limit(max(n_cand, limit))
    else:
        score = F.round(cosine(F.col(path), _vec_lit(qvec), len(qvec)), 6)
        out = out.withColumn("__vs_score", score)
    return out.orderBy(F.desc("__vs_score")).limit(limit)


def run_pipeline(
    spark,
    df: DataFrame,
    stages: list[dict],
    tables: dict[str, DataFrame] | None = None,
    data_dir: str | None = None,
    dry_run: bool = False,
) -> DataFrame:
    """Run a pipeline that may end in a terminal write stage — `$out`
    (replace a collection with the results) or `$merge` (upsert into
    one). Non-terminal stages translate via mongo_pipeline_to_df; the
    write lands `{data_dir}/{coll}.parquet` through commit.publish
    (stage, then swap) with its schema record, so a pipeline may safely
    read the table it replaces. Returns the written table, read by its
    record (commit.read_published), or the final frame.

    `$merge` options follow Mongo's: `on` key or key list (default
    `_id`), `whenMatched` in replace|merge|keepExisting, and
    `whenNotMatched` in insert|discard. `merge` (the default) is
    field-wise: matched rows take the pipeline's value for columns the
    pipeline produced and KEEP the target's value for columns it
    didn't; `replace` overwrites the whole row (pipeline-absent columns
    become NULL). Columns the pipeline emits that the target lacks are
    appended additively (target rows read NULL there) — same evolution
    contract as the CDC sink. Duplicate on-keys in the pipeline result
    collapse to one arbitrary-but-deterministic row first (Mongo
    serializes per-document writes, so a key can't end up duplicated).

    `dry_run=True` builds the full result frame — including the merged
    frame for `$merge` — but skips the terminal write, so `--explain`
    can show the plan without mutating the target table. The
    whenMatched/whenNotMatched "fail" pre-checks still run (they read,
    never write), so a dry run also reports whether the merge would
    abort.
    """
    body, terminal = stages, None
    if stages and next(iter(stages[-1])) in ("$out", "$merge"):
        body, terminal = stages[:-1], stages[-1]
    out = mongo_pipeline_to_df(df, body, tables)
    if terminal is None:
        return out
    if data_dir is None:
        raise ValueError("terminal $out/$merge needs data_dir")
    op, spec = next(iter(terminal.items()))

    def _coll(s):
        if isinstance(s, str):
            return s
        return s.get("coll") or s.get("into")

    if op == "$out":
        coll = _coll(spec)
        result = out
    else:
        into = spec["into"] if isinstance(spec, dict) else spec
        coll = _coll(into)
        on = spec.get("on", "_id") if isinstance(spec, dict) else "_id"
        keys = [on] if isinstance(on, str) else list(on)
        when_matched = (spec.get("whenMatched", "merge")
                        if isinstance(spec, dict) else "merge")
        when_not = (spec.get("whenNotMatched", "insert")
                    if isinstance(spec, dict) else "insert")
        if not isinstance(when_matched, list) and \
                when_matched not in ("replace", "merge", "keepExisting",
                                     "fail"):
            raise ValueError(f"unsupported whenMatched: {when_matched!r}")
        if when_not not in ("insert", "discard", "fail"):
            raise ValueError(f"unsupported whenNotMatched: {when_not!r}")
        out = out.dropDuplicates(keys)
        let_spec = (spec.get("let") if isinstance(spec, dict) else None)
        target = os.path.join(data_dir, f"{coll}.parquet")
        recover(spark, target)  # _merge_into reads the live target
        result = _merge_into(spark, out, target, keys, when_matched,
                             when_not, let_spec)

    if dry_run:
        return result
    path = os.path.join(data_dir, f"{coll}.parquet")

    def write(stage: str) -> None:
        result.write.parquet(stage)
        put_schema(spark, stage, result.schema)

    publish(spark, path, write)
    return read_published(spark, path)


def _merge_into(spark, out: DataFrame, path: str, keys: list[str],
                when_matched, when_not: str,
                let_spec: dict | None = None) -> DataFrame:
    """Build the merged frame for a terminal $merge (see run_pipeline
    docstring for the option semantics).

    when_matched may also be a STAGE LIST (Mongo's pipeline form): the
    stages run over each matched TARGET document, with the incoming
    document bound as $$new (or custom `let` variables, each evaluated
    against the incoming doc; default {new: "$$ROOT"}). Supported
    stages: $addFields/$set, $unset, $project (include form), and
    $replaceRoot/$replaceWith with an embedded-document newRoot.

    The live target is read by commit.read_published: by its schema
    record when a publish left one, else by the union of its files'
    schemas, so a table another writer left (one parquet file, no
    `_SUCCESS`) is merged into, not replaced; a path with no data file
    is no target.
    """
    target = read_published(spark, path)
    if target is None:
        if when_not == "fail" and out.limit(1).count() > 0:
            raise RuntimeError(
                "$merge whenNotMatched: fail — unmatched documents "
                "exist (empty target)")
        return out if when_not == "insert" else out.limit(0)
    # union schema: target fields (their established types win for
    # shared names) + pipeline-only fields appended
    union_fields = widen(target.schema, out.schema).fields

    def _align(frame: DataFrame) -> DataFrame:
        return frame.select(*[
            (F.col(f.name).cast(f.dataType) if f.name in frame.columns
             else F.lit(None).cast(f.dataType)).alias(f.name)
            for f in union_fields
        ])

    target_a, out_a = _align(target), _align(out)
    cond = None
    for k in keys:
        c = target_a[k].eqNullSafe(out_a[k])
        cond = c if cond is None else (cond & c)

    if isinstance(when_matched, list):
        merged = _merge_matched_pipeline(
            target_a, out, keys, when_matched, let_spec)
        unmatched_t = target_a.join(out_a, cond, "left_anti")
        result = merged.unionByName(unmatched_t, allowMissingColumns=True)
        if when_not == "insert":
            incoming = out_a.join(target_a, cond, "left_anti")
            result = result.unionByName(incoming, allowMissingColumns=True)
        return result
    if when_matched == "fail" or when_not == "fail":
        # Mongo aborts the whole stage on the first violation; one
        # semi/anti count decides before anything is written
        if when_matched == "fail":
            n = out_a.join(target_a, cond, "left_semi").limit(1).count()
            if n:
                raise RuntimeError(
                    "$merge whenMatched: fail — matching documents exist")
        if when_not == "fail":
            n = out_a.join(target_a, cond, "left_anti").limit(1).count()
            if n:
                raise RuntimeError(
                    "$merge whenNotMatched: fail — unmatched documents "
                    "exist")
        if when_matched == "fail":
            # no matches (or we'd have raised): every incoming row is
            # unmatched, so they only land under whenNotMatched: insert;
            # "discard" keeps the target untouched
            if when_not == "insert":
                return target_a.unionByName(out_a)
            return target_a
    if when_matched == "keepExisting":
        kept = target_a
        incoming = (out_a.join(target_a, cond, "left_anti")
                    if when_not == "insert" else out_a.limit(0))
        return kept.unionByName(incoming)
    if when_matched == "merge":
        # field-wise ($mergeObjects): for columns the pipeline
        # produced, its value wins on matched rows (nulls included);
        # target values survive for everything else
        produced = set(out.columns)
        matched = F.col("r.__m").isNotNull()  # marker, null-key safe
        mcond = None
        for k in keys:
            c = F.col(f"t.{k}").eqNullSafe(F.col(f"r.{k}"))
            mcond = c if mcond is None else (mcond & c)
        joined = target_a.alias("t").join(
            out_a.withColumn("__m", F.lit(True)).alias("r"), mcond, "left")
        kept = joined.select(*[
            (F.when(matched, F.col(f"r.{f.name}"))
             .otherwise(F.col(f"t.{f.name}"))
             if f.name in produced else F.col(f"t.{f.name}")).alias(f.name)
            for f in union_fields
        ])
    else:  # replace
        kept = target_a.join(out_a, cond, "left_anti")
        kept = kept.unionByName(out_a.join(target_a, cond, "left_semi"))
    unmatched = out_a.join(target_a, cond, "left_anti")
    if when_not == "insert":
        return kept.unionByName(unmatched)
    return kept


def _merge_matched_pipeline(target_a: DataFrame, out: DataFrame,
                            keys: list[str], stages: list[dict],
                            let_spec: dict | None) -> DataFrame:
    """Apply a $merge whenMatched stage pipeline to the matched target
    rows. Each `let` variable (default {new: "$$ROOT"}) is evaluated
    against the INCOMING document and carried through the key join as a
    struct column, so stage expressions see target fields as column
    refs and the incoming doc via $$new (etc.) — all JVM-side."""
    new_struct = F.struct(*[F.col(c).alias(c) for c in out.columns])
    let_spec = let_spec or {"new": "$$ROOT"}
    lets = {}
    for name, v in let_spec.items():
        lets[name] = new_struct if v == "$$ROOT" else _expr(v)
    r = out.select(
        *[F.col(k).alias(f"__mk_{i}") for i, k in enumerate(keys)],
        *[c.alias(f"__let_{n}") for n, c in lets.items()],
    )
    cond = None
    for i, k in enumerate(keys):
        c = target_a[k].eqNullSafe(r[f"__mk_{i}"])
        cond = c if cond is None else (cond & c)
    m = target_a.join(r, cond, "inner").drop(
        *[f"__mk_{i}" for i in range(len(keys))])
    varmap = {n: F.col(f"__let_{n}") for n in lets}

    for stage in stages:
        op, sarg = next(iter(stage.items()))
        if op in ("$addFields", "$set"):
            for name, v in sarg.items():
                if "." in name:
                    raise ValueError(
                        "whenMatched pipeline $set: dotted paths "
                        "unsupported; set the top-level field")
                m = m.withColumn(name, _expr_v(v, varmap))
        elif op == "$unset":
            names = [sarg] if isinstance(sarg, str) else list(sarg)
            m = m.drop(*names)
        elif op == "$project":
            # _id: 0 is the one allowed exclusion in include form; drop
            # it from incl entirely so it never reaches _expr_v (which
            # would project a literal 0 over the real merge key) —
            # keep_keys below re-adds the actual key column, which $merge
            # needs to survive the join-back regardless.
            incl = {k: v for k, v in sarg.items() if v not in (0, False)}
            if any(v in (0, False) for k, v in sarg.items() if k != "_id"):
                raise ValueError(
                    "whenMatched pipeline $project: exclude form "
                    "unsupported")
            cols = []
            for name, v in incl.items():
                if v in (1, True):
                    cols.append(F.col(name).alias(name))
                else:
                    cols.append(_expr_v(v, varmap).alias(name))
            keep_keys = [F.col(k) for k in keys if k not in incl]
            lets_cols = [F.col(f"__let_{n}") for n in lets]
            m = m.select(*keep_keys, *cols, *lets_cols)
        elif op in ("$replaceRoot", "$replaceWith"):
            new_root = sarg["newRoot"] if op == "$replaceRoot" else sarg
            if not isinstance(new_root, dict) or \
                    next(iter(new_root), "").startswith("$"):
                raise ValueError(
                    "whenMatched pipeline $replaceRoot: newRoot must be "
                    "an embedded-document literal")
            cols = [_expr_v(v, varmap).alias(k) for k, v in new_root.items()]
            keep_keys = [F.col(k) for k in keys if k not in new_root]
            lets_cols = [F.col(f"__let_{n}") for n in lets]
            m = m.select(*keep_keys, *cols, *lets_cols)
        else:
            raise ValueError(
                f"unsupported whenMatched pipeline stage: {op}")
    return m.drop(*[f"__let_{n}" for n in lets])
