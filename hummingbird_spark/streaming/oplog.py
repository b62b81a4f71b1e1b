"""Oplog stream-event filtering (SURVEY §2.9, §2.2 F5).

Reference: `SkipOplog` (oplog_utils.go:40-76) drops events for
local/config databases, resolves `$cmd` command events (dropDatabase,
create, createIndexes, drop, renameCollection) to the namespace they
affect, and applies the include-namespace match. `applyOps` transaction
events carry nested oplogs to unnest (oplog_utils.go:212-236).

Here those become SQL predicates and one posexplode over the oplog
frame — fully streamable (no state), applied before any stateful stage
so filtered events never reach the shuffle.
"""

from __future__ import annotations

import fnmatch
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hummingbird_spark.sources.catalog import split_namespace

# command-document key -> how the affected namespace is derived
# (oplog_utils.go:48-56): value is the collection name within the $cmd db.
_CMD_KEYS = ("drop", "create", "createIndexes", "renameCollection",
             "dropDatabase")

# The predicates and the unnest are SQL text: one py4j call each instead
# of one per Column-API call, which adds up to a noticeable share of
# a small micro-batch's driver time.
_DB = "substring_index(ns, '.', 1)"
_CMD_COLL = "coalesce(" + ", ".join(
    f"get_json_object(o, '$.{k}')" for k in _CMD_KEYS) + ")"
_RESOLVED_NS = (f"CASE WHEN endswith(ns, '.$cmd') AND {_CMD_COLL} IS NOT NULL"
                f" THEN concat({_DB}, '.', {_CMD_COLL}) ELSE ns END")
_IS_APPLY_OPS = "op = 'c' AND get_json_object(o, '$.applyOps') IS NOT NULL"

# an applyOps member; o/o2 stay JSON text until decode parses them
_MEMBER = "struct<op:string,ns:string,o:string,o2:string>"


def _members(o: str) -> str:
    """SQL: the applyOps members of the command document `o`, or null."""
    return f"from_json({o}, 'struct<applyOps:array<{_MEMBER}>>').applyOps"


# one event's ops: its applyOps members, a member transaction flattened
# one level into its own members, or else the event itself
_OPS = (f"IF(op = 'c', flatten(transform({_members('o')}, m -> IF(m.op = 'c',"
        f" coalesce({_members('m.o')}, CAST(array() AS array<{_MEMBER}>)),"
        " array(m)))), array(struct(op, ns, o, o2)))")


def _glob_regex(glob: str) -> str:
    """The anchored JVM regex of fnmatch's `glob` (Python's `\\Z` is the
    JVM's `\\z`)."""
    return "^" + fnmatch.translate(glob).removesuffix(r"\Z") + r"\z"


def namespace_match_column(ns_col: Column, patterns: list[str] | None) -> Column:
    """Column form of `catalog.matches_namespace` (SkipNamespace,
    migrator.go:237-251), the one include rule of the copy and the
    stream: does the event's namespace match any include pattern? Empty
    list -> match all. A pattern without glob characters is a plain
    equality; a wildcard one matches the db part (before the first dot)
    and the collection part (the rest) each by fnmatch's glob, compiled
    to anchored regexes evaluated JVM-side (rlike) — no per-row Python."""
    if not patterns:
        return F.lit(True)
    db = F.substring_index(ns_col, ".", 1)
    coll = F.regexp_extract(ns_col, r"(?s)^[^.]*\.(.*)", 1)
    conds = []
    for p in patterns:
        if p == "*":
            conds.append(F.lit(True))
        elif not any(c in p for c in "*?["):
            conds.append(ns_col == F.lit(p))
        else:
            pdb, pcoll = split_namespace(p)
            conds.append(db.rlike(_glob_regex(pdb))
                         & coll.rlike(_glob_regex(pcoll)))
    return reduce(lambda a, b: a | b, conds)


def skip_oplog(df: DataFrame, includes: list[str] | None = None) -> DataFrame:
    """Filter an oplog frame to applicable events (oplog_utils.go:40-76):
      - drop ""/local.*/config.* namespaces,
      - resolve `db.$cmd` command events to their affected namespace
        (from the command body's collection argument),
      - keep only events whose resolved namespace matches `includes`.
    applyOps transactions pass regardless of the include match: each
    member carries its own namespace and is routed after unnesting
    (oplog_utils.go:212-236).
    """
    out = df.selectExpr("*", f"{_RESOLVED_NS} AS resolved_ns")
    return out.filter(
        F.expr(f"resolved_ns != '' AND {_DB} NOT IN ('local', 'config')")
        & (namespace_match_column(F.col("resolved_ns"), includes)
           | F.expr(_IS_APPLY_OPS))
    )


def unnest_apply_ops(df: DataFrame) -> DataFrame:
    """Expand `c`/applyOps transaction events into their member oplogs
    (oplog_utils.go:212-236) and pass every other op through unchanged;
    a `c` event that carries no applyOps yields no row.

    The nested ops live in o as JSON: {"applyOps": [{op,ns,o,o2}, ...]}.
    Each event becomes one array — itself, or its members — and a single
    `posexplode` unnests the frame: one pass over the source, no union,
    no state. Members inherit the event's ts and seq; `idx` is their
    position in the transaction (0 for a plain event), the only order
    between same-key members, and they route by their own namespace
    (oplog_utils.go:223-232). The reference recurses for
    applyOps-inside-applyOps (GetWriteModels calls itself,
    oplog_utils.go:232); a plan cannot recurse, so a member transaction
    is flattened one level (nested transactions deeper than that are not
    a thing MongoDB emits).
    """
    member = ("op", "ns", "o", "o2")

    def col(c: str) -> str:
        if c in member:
            return f"__e.{c} AS {c}"
        return "IF(__txn, __e.ns, resolved_ns) AS resolved_ns" \
            if c == "resolved_ns" else f"`{c}`"

    return df.selectExpr(
        *[f"`{c}`" for c in df.columns if c not in member],
        "op = 'c' AS __txn", f"posexplode({_OPS}) AS (idx, __e)",
    ).selectExpr(*[col(c) for c in df.columns], "idx")
