"""Namespace / catalog helpers (SURVEY §2.1 S4-S5, §2.2 F3-F4).

Reference behavior being re-expressed:
  - `SplitNamespace` (mdb helper used at migrator.go:145): "db.coll" ->
    (db, coll), wildcard-aware.
  - `SkipNamespace` (migrator.go:237-251): include list with exact,
    `db.*`, and `*.coll` wildcard matching; empty list allows all.
  - system-namespace exclusion (mongo_utils.go:27,55; data_copier.go:92):
    skip admin/config/local/_neutrino DBs and system.* collections.
  - wildcard expansion `db.*` -> one task per concrete collection
    (data_copier.go:78-102): here, catalog enumeration.

All of this is driver-side metadata logic (tiny), so plain Python —
no DataFrame work needed.
"""

from __future__ import annotations

from fnmatch import fnmatch

SYSTEM_DBS = frozenset({"admin", "config", "local", "_neutrino"})


def split_namespace(namespace: str) -> tuple[str, str]:
    """'db.coll' -> (db, coll). Collection part may contain dots
    (MongoDB allows them), so split on the first dot only
    (mdb.SplitNamespace semantics)."""
    ns = namespace.strip()
    if not ns:
        return "", ""
    if "." not in ns:
        return ns, ""
    db, _, coll = ns.partition(".")
    return db, coll


def table_path(root: str, namespace: str) -> str:
    """namespace "db.coll" (or bare "coll") -> {root}/{coll}.parquet:
    the table a migration writes the namespace to, by copy and by CDC."""
    db, coll = split_namespace(namespace)
    return f"{root.rstrip('/')}/{coll or db}.parquet"


def is_system_namespace(namespace: str) -> bool:
    """True for namespaces the engine never copies
    (mongo_utils.go:27,55: admin/config/local/_neutrino, system.*
    except system.js)."""
    db, coll = split_namespace(namespace)
    if db in SYSTEM_DBS:
        return True
    if coll.startswith("system.") and coll != "system.js":
        return True
    return False


def matches_namespace(namespace: str, includes: list[str] | None) -> bool:
    """SkipNamespace (migrator.go:237-251), inverted: does `namespace`
    match the include list? Empty/None include list allows everything.
    Patterns: exact 'db.coll', 'db.*', '*.coll', '*.*'/'*'."""
    if not includes:
        return True
    db, coll = split_namespace(namespace)
    for pattern in includes:
        if pattern == "*":
            return True
        pdb, pcoll = split_namespace(pattern)
        if fnmatch(db, pdb) and fnmatch(coll, pcoll):
            return True
    return False


def expand_namespaces(
    available: list[str], includes: list[str] | None
) -> list[str]:
    """Wildcard expansion (data_copier.go:78-102): resolve include
    patterns against the concrete namespace list, dropping system
    namespaces, preserving catalog order, no duplicates."""
    out: list[str] = []
    for ns in available:
        if is_system_namespace(ns):
            continue
        if matches_namespace(ns, includes) and ns not in out:
            out.append(ns)
    return out

