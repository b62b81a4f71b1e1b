"""Independent reference computations the benchmark checks outputs against.

- `OplogOracle`: a pure-Python fold of an oplog backlog with MongoDB's
  write semantics -- an insert replaces the whole document, an update's
  `$set`/`diff.u` fields are set and its `$unset`/`diff.d` fields removed in
  event order (sets before unsets within one event), an update or delete of
  an absent key is a no-op, and a delete removes the document. `applyOps`
  members apply in order.
- `expected_full_load`, `masked_mismatches`, `copy_mismatches`: DuckDB over
  the generated sources -- per namespace the expected document count after
  the include filter, and every copied row, with the mask applied where the
  include masks.
- `agg_sql` / `facet_top_sql`: the DuckDB statements that answer each
  aggregation pipeline.

None of this imports the program under test.
"""

from __future__ import annotations

import json
import math

MASK_SQL = (
    "CASE WHEN length({c}) > 4 THEN "
    "regexp_replace(substr({c}, 1, length({c}) - 4), '[a-zA-Z0-9]', 'X', 'g')"
    " || right({c}, 4) "
    "ELSE regexp_replace({c}, '[a-zA-Z0-9]', 'X', 'g') END"
)


class OplogOracle:
    """Target state as {key: {field: value}} with every schema field
    present (absent fields read None, as a parquet row does)."""

    def __init__(self, fields: list[str]):
        self.fields = fields
        self.state: dict[str, dict] = {}

    def _row(self, doc: dict) -> dict:
        return {f: doc.get(f) for f in self.fields}

    def apply(self, op: str, o, o2=None) -> None:
        o = json.loads(o) if isinstance(o, str) else o
        o2 = json.loads(o2) if isinstance(o2, str) else o2
        if op == "c":
            for m in o.get("applyOps", []):
                self.apply(m["op"], m["o"], m.get("o2"))
            return
        if op == "i":
            self.state[str(o["_id"])] = self._row(o)
            return
        if op == "d":
            self.state.pop(str(o["_id"]), None)
            return
        if op != "u":
            return  # 'n' and commands change no document
        key = str((o2 or o)["_id"])
        row = self.state.get(key)
        if row is None:
            return  # UpdateOne without upsert matches nothing
        if "diff" in o:
            diff = o["diff"]
            sets = diff.get("u", diff.get("i"))
            unsets = [] if sets is not None else list(diff.get("d", {}))
            sets = sets or {}
        elif "$set" in o or "$unset" in o:
            sets, unsets = o.get("$set", {}), list(o.get("$unset", {}))
        else:  # full-document replacement
            self.state[key] = self._row(o)
            return
        row.update({k: v for k, v in sets.items() if k in row})
        for k in unsets:
            if k in row:
                row[k] = None

    def apply_events(self, events: list[dict]) -> None:
        for e in events:
            self.apply(e["op"], e["o"], e.get("o2"))


def rows_equal(a: dict, b: dict) -> bool:
    """Field-wise equality with float tolerance for doubles."""
    if a.keys() != b.keys():
        return False
    for k, va in a.items():
        vb = b[k]
        if isinstance(va, float) or isinstance(vb, float):
            if va is None or vb is None:
                if va is not vb:
                    return False
            elif not math.isclose(va, vb, rel_tol=1e-9, abs_tol=1e-9):
                return False
        elif va != vb:
            return False
    return True


def diff_states(expected: dict[str, dict], actual: dict[str, dict]
                ) -> list[str]:
    """Keys whose row differs (missing, extra or changed), sorted."""
    bad = expected.keys() ^ actual.keys()
    bad |= {k for k in expected.keys() & actual.keys()
            if not rows_equal(expected[k], actual[k])}
    return sorted(bad)


# --- full_load ----------------------------------------------------------------

def expected_full_load(con, src: dict[str, str], includes: list[dict]
                       ) -> dict[str, int]:
    """Expected copied-document count per source collection, from DuckDB
    over the generated parquet with each include's filter re-expressed in
    SQL."""
    out = {}
    for inc in includes:
        coll = inc["namespace"].split(".", 1)[1]
        where = inc.get("sql_where", "TRUE")
        out[coll] = con.execute(
            f"SELECT count(*) FROM read_parquet('{src[coll]}/*.parquet') "
            f"WHERE {where}").fetchone()[0]
    return out


def masked_mismatches(con, src_path: str, dst_path: str) -> int:
    """Rows of the masked `customers` target that differ from the source
    with the partial mask applied to `ssn` and `subdoc.email` (and every
    other field unchanged), plus rows present on one side only."""
    return con.execute(f"""
        WITH s AS (SELECT * FROM read_parquet('{src_path}/*.parquet')),
             t AS (SELECT * FROM read_parquet('{dst_path}/*.parquet'))
        SELECT count(*) FROM s FULL OUTER JOIN t ON s._id = t._id
        WHERE s._id IS NULL OR t._id IS NULL
           OR t.ssn IS DISTINCT FROM ({MASK_SQL.format(c='s.ssn')})
           OR t.subdoc.email IS DISTINCT FROM
              ({MASK_SQL.format(c='s.subdoc.email')})
           OR t.subdoc.score IS DISTINCT FROM s.subdoc.score
           OR t.subdoc.city IS DISTINCT FROM s.subdoc.city
           OR t.name IS DISTINCT FROM s.name
           OR t.status IS DISTINCT FROM s.status
           OR t.active IS DISTINCT FROM s.active
           OR t.balance IS DISTINCT FROM s.balance
           OR epoch_us(t.since) IS DISTINCT FROM epoch_us(s.since)
           OR t.payload IS DISTINCT FROM s.payload
    """).fetchone()[0]


def copy_mismatches(con, src_path: str, dst_path: str, where: str) -> int:
    """Rows that differ between the filtered source and an unmasked
    target, in either direction (multiset difference on every column)."""
    cols = [r[0] for r in con.execute(
        f"DESCRIBE SELECT * FROM read_parquet('{src_path}/*.parquet')"
    ).fetchall()]
    proj = ", ".join(
        f"epoch_us({c}) AS {c}" if c in ("created", "ts", "since") else c
        for c in cols)
    s = f"SELECT {proj} FROM read_parquet('{src_path}/*.parquet') WHERE {where}"
    t = f"SELECT {proj} FROM read_parquet('{dst_path}/*.parquet')"
    return con.execute(
        f"SELECT (SELECT count(*) FROM ({s} EXCEPT ALL {t})) + "
        f"(SELECT count(*) FROM ({t} EXCEPT ALL {s}))").fetchone()[0]


# --- aggregation reads ----------------------------------------------------------

def agg_sql(kind: str, p: dict, src: dict[str, str]) -> str:
    """DuckDB statement answering pipeline `kind` with parameters `p` over
    the parquet directories in `src`, with the output columns in the order
    `canonical` expects. For `facet` this answers the `by_kind` facet;
    `facet_top_sql` answers the `top` one."""
    c = f"read_parquet('{src['customers']}/*.parquet')"
    o = f"read_parquet('{src['orders']}/*.parquet')"
    e = f"read_parquet('{src['events']}/*.parquet')"
    if kind == "rollup":
        sts = ", ".join(f"'{s}'" for s in p["statuses"])
        return (f"SELECT status, sum(amount), count(*), "
                f"round(avg(price), 6) FROM {o} "
                f"WHERE status IN ({sts}) GROUP BY status")
    if kind == "range":
        return (f"SELECT _id, amount, price FROM {o} "
                f"WHERE amount >= {p['lo']} AND amount < {p['hi']} "
                f"ORDER BY amount DESC, _id ASC LIMIT {p['limit']}")
    if kind == "lookup":
        return (f"SELECT c.status, count(*), sum(o.amount) FROM {o} o "
                f"JOIN {c} c ON o.cust_id = c._id "
                f"WHERE o.amount >= {p['min_amount']} GROUP BY c.status")
    if kind == "facet":
        return (f"SELECT kind, count(*), round(sum(value), 6) FROM {e} "
                f"WHERE subdoc.depth = {p['depth']} GROUP BY kind")
    if kind == "window":
        return (f"SELECT _id, amount, sum(amount) OVER (PARTITION BY status "
                f"ORDER BY amount, _id ROWS BETWEEN UNBOUNDED PRECEDING AND "
                f"CURRENT ROW) FROM {o} WHERE qty = {p['qty']} "
                f"AND subdoc.channel = '{p['channel']}'")
    if kind == "project":
        return (f"SELECT _id, round(price * qty, 6), amount > {p['big']}, "
                f"status || '-' || CAST(qty AS VARCHAR) FROM {o} "
                f"WHERE subdoc.city = '{p['city']}' AND qty = {p['qty']}")
    raise ValueError(kind)


def facet_top_sql(p: dict, src: dict[str, str]) -> str:
    return (f"SELECT _id, value FROM read_parquet('{src['events']}/*.parquet')"
            f" WHERE subdoc.depth = {p['depth']} ORDER BY value DESC, _id "
            f"LIMIT 3")


def canonical(rows, ordered: bool) -> list[tuple]:
    """Rows as tuples with floats rounded to 6 places, sorted unless the
    query's order is part of its answer."""
    out = [tuple(round(v, 6) if isinstance(v, float) else v for v in r)
           for r in rows]
    return out if ordered else sorted(out, key=repr)
