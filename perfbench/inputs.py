"""Seeded input generators for the benchmark.

Everything here is numpy/pyarrow/json driven by one `numpy.random.Generator`
built from the run's seed, so the same seed gives byte-identical files and a
change to the program under test cannot change its inputs.

Two data shapes are produced:

- collections (`write_collections`): three Mongo-like collections written
  as parquet directories -- `customers`, `orders` and `events` -- with
  ObjectId-like 24-hex `_id`s, a nested `subdoc` struct, mixed scalar types
  and a variable-length text payload. `full_load` copies them and
  `aggregate_reads` queries them.
- oplog backlogs (`hot_keys_oplog`, `large_target_oplog`): JSON-lines files
  in the oplog frame `start_cdc_stream` reads (ts, seq, ns, op, o, o2 with
  `o`/`o2` JSON-encoded), plus the list of events in order for the oracle.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NS = "db.items"  # namespace of every CDC event
T0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

_WORDS = np.array(
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform "
    "victor whiskey xray yankee zulu migrate oplog replica shard chunk "
    "index cursor bulk write read concern majority primary secondary "
    "arbiter journal snapshot resume token batch stream collection".split()
)
CITIES = np.array(["berlin", "lagos", "lima", "osaka", "perth", "quito",
                    "riga", "seoul", "tunis", "vienna"])

CUSTOMER_STATUS = ["gold", "silver", "bronze", "basic"]
ORDER_STATUS = ["A", "B", "C", "D", "E"]
EVENT_KINDS = ["view", "click", "cart", "buy", "return", "login"]
CHANNELS = ["web", "app", "store", "phone"]


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, input stream), so adding a new
    input never shifts the numbers another input draws."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, tag])


def object_ids(rng: np.random.Generator, n: int, start_s: int) -> list[str]:
    """ObjectId-like ids: 4-byte increasing seconds, 5 random bytes, 3-byte
    counter, as 24 lowercase hex characters. Unique by construction."""
    secs = start_s + np.arange(n) // 64
    rand = rng.integers(0, 1 << 40, n)
    ctr = (rng.integers(0, 1 << 24) + np.arange(n)) % (1 << 24)
    return [f"{int(s):08x}{int(r):010x}{int(c):06x}"
            for s, r, c in zip(secs, rand, ctr)]


def texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    """Variable-length text payloads of lo..hi words."""
    lens = rng.integers(lo, hi + 1, n)
    words = _WORDS[rng.integers(0, len(_WORDS), int(lens.sum()))]
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(words[pos:pos + ln]))
        pos += ln
    return out


def _timestamps(rng: np.random.Generator, n: int) -> pa.Array:
    us = (int(T0.timestamp()) * 1_000_000
          + rng.integers(0, 365 * 86_400, n) * 1_000_000)
    return pa.array(us, pa.timestamp("us", tz="UTC"))


def _write_dir(table: pa.Table, path: str, files: int) -> None:
    """A collection as a directory of `files` parquet parts, the layout a
    dataset export has (one read task per part)."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // files)
    for i in range(files):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def collection_tables(seed: int, n: int) -> dict[str, pa.Table]:
    """The three generated collections as Arrow tables (n documents each;
    orders and events reference customers through `cust_id`)."""
    rng = rng_for(seed, "colls")
    cust_ids = object_ids(rng, n, 1_600_000_000)
    ssn = [f"{a:03d}-{b:02d}-{c:04d}" for a, b, c in zip(
        rng.integers(100, 900, n), rng.integers(10, 99, n),
        rng.integers(1000, 9999, n))]
    names = [f"{w}{i}" for i, w in zip(
        range(n), _WORDS[rng.integers(0, len(_WORDS), n)])]
    customers = pa.table({
        "_id": cust_ids,
        "name": names,
        "ssn": ssn,
        "status": np.array(CUSTOMER_STATUS)[rng.integers(0, 4, n)],
        "active": rng.random(n) < 0.7,
        "balance": np.round(rng.gamma(2.0, 500.0, n), 2),
        "since": _timestamps(rng, n),
        "subdoc": pa.StructArray.from_arrays(
            [pa.array([f"{nm}@mail{i % 7}.example" for i, nm in
                       enumerate(names)]),
             pa.array(rng.integers(0, 1000, n)),
             pa.array(CITIES[rng.integers(0, len(CITIES), n)])],
            ["email", "score", "city"]),
        "payload": texts(rng, n, 0, 60),
    })

    cust_of = np.array(cust_ids)[rng.zipf(1.3, n) % n]
    orders = pa.table({
        "_id": object_ids(rng, n, 1_650_000_000),
        "cust_id": cust_of,
        "status": np.array(ORDER_STATUS)[rng.integers(0, 5, n)],
        "amount": rng.integers(1, 1000, n),
        "qty": rng.integers(1, 20, n),
        "price": np.round(rng.uniform(0.5, 200.0, n), 2),
        "created": _timestamps(rng, n),
        "subdoc": pa.StructArray.from_arrays(
            [pa.array(np.array(CHANNELS)[rng.integers(0, 4, n)]),
             pa.array(np.round(rng.uniform(0, 0.5, n), 3)),
             pa.array(CITIES[rng.integers(0, len(CITIES), n)])],
            ["channel", "discount", "city"]),
        "payload": texts(rng, n, 0, 40),
    })

    events = pa.table({
        "_id": object_ids(rng, n, 1_700_000_000),
        "cust_id": np.array(cust_ids)[rng.integers(0, n, n)],
        "kind": np.array(EVENT_KINDS)[rng.integers(0, 6, n)],
        "value": np.round(rng.normal(50.0, 20.0, n), 3),
        "ts": _timestamps(rng, n),
        "tags": pa.array([list(_WORDS[rng.integers(0, len(_WORDS), k)])
                          for k in rng.integers(0, 4, n)],
                         pa.list_(pa.string())),
        "subdoc": pa.StructArray.from_arrays(
            [pa.array(rng.integers(0, 10, n)),
             pa.array([f"10.{a}.{b}.{c}" for a, b, c in rng.integers(
                 0, 256, (n, 3))])],
            ["depth", "ip"]),
        "payload": texts(rng, n, 5, 80),
    })
    return {"customers": customers, "orders": orders, "events": events}


def write_collections(seed: int, n: int, root: str,
                      files: int = 4) -> dict[str, str]:
    """Write the collections under `root` as `<name>.parquet/` directories;
    returns name -> path."""
    out = {}
    for name, table in collection_tables(seed, n).items():
        path = os.path.join(root, f"{name}.parquet")
        _write_dir(table, path, files)
        out[name] = path
    return out


# --- oplog backlogs ---------------------------------------------------------

# Flat CDC target schema, as (name, python type) -- the benchmark builds the
# Spark StructType from this so this module needs no Spark import.
CDC_FIELDS = [("_id", str), ("name", str), ("n", int), ("score", float),
              ("tag", str), ("note", str)]


def _doc(rng, key: str) -> dict:
    return {"_id": key,
            "name": str(_WORDS[rng.integers(0, len(_WORDS))]),
            "n": int(rng.integers(0, 1_000_000)),
            "score": round(float(rng.random()) * 100, 3),
            "tag": str(_WORDS[rng.integers(0, len(_WORDS))]),
            "note": " ".join(_WORDS[rng.integers(0, len(_WORDS),
                                                 int(rng.integers(1, 12)))])}


def _sets(rng) -> dict:
    """One to three field sets of an update."""
    choices = [("n", lambda: int(rng.integers(0, 1_000_000))),
               ("score", lambda: round(float(rng.random()) * 100, 3)),
               ("tag", lambda: str(_WORDS[rng.integers(0, len(_WORDS))]))]
    k = int(rng.integers(1, 4))
    picked = rng.choice(len(choices), k, replace=False)
    return {choices[i][0]: choices[i][1]() for i in sorted(picked)}


def _unsets(rng) -> list[str]:
    return ["tag"] if rng.random() < 0.5 else ["note"]


class _OplogWriter:
    """Accumulates events in order; `ts` rises by one millisecond and `seq`
    by one per top-level event, so (ts, seq) orders the whole backlog."""

    def __init__(self, first_seq: int = 1):
        self.events: list[dict] = []
        self.seq = first_seq

    def add(self, op: str, o: dict, o2: dict | None = None,
            ns: str = NS) -> None:
        ts = T0 + dt.timedelta(milliseconds=self.seq)
        self.events.append({
            "ts": ts.strftime("%Y-%m-%dT%H:%M:%S.") +
            f"{ts.microsecond // 1000:03d}Z",
            "seq": self.seq, "ns": ns, "op": op,
            "o": json.dumps(o, separators=(",", ":")),
            "o2": json.dumps(o2, separators=(",", ":")) if o2 else None,
        })
        self.seq += 1


def write_events(events: list[dict], root: str, per_file: int,
                 prefix: str) -> list[str]:
    """Write events as JSON-lines files of `per_file` events. The file
    source orders files by modification time, and files written within one
    millisecond tie, so each file's mtime is set one second after the
    previous one's, as files of a spooled oplog land over time."""
    os.makedirs(root, exist_ok=True)
    paths = []
    mtime = int(T0.timestamp()) + sum(
        1 for n in os.listdir(root) if n.endswith(".json"))
    for i in range(0, len(events), per_file):
        p = os.path.join(root, f"{prefix}-{i // per_file:06d}.json")
        with open(p, "w") as f:
            for e in events[i:i + per_file]:
                f.write(json.dumps(e, separators=(",", ":")) + "\n")
        os.utime(p, (mtime, mtime))
        mtime += 1
        paths.append(p)
    return paths


def _update(rng, w: _OplogWriter, key: str, v2: bool) -> None:
    if v2:
        # diff.u OR diff.d, never both in one event: the decoder applies
        # only the first of u/i, else d (the reference's v2 reading)
        diff = {"u": _sets(rng)} if rng.random() < 0.7 else {"d": dict.fromkeys(
            _unsets(rng), False)}
        w.add("u", {"$v": 2, "diff": diff}, {"_id": key})
    else:
        o = {"$set": _sets(rng)}
        if rng.random() < 0.3:
            o["$unset"] = dict.fromkeys(_unsets(rng), 1)
        w.add("u", o, {"_id": key})


def seed_oplog(seed: int, keys: list[str], stream: str) -> _OplogWriter:
    """Insert-only backlog that seeds a target with one row per key."""
    rng = rng_for(seed, stream)
    w = _OplogWriter()
    for k in keys:
        w.add("i", _doc(rng, k))
    return w


def _mixed_events(rng, w: _OplogWriter, n_events: int, pick_key,
                  new_key, p_insert: float, p_delete: float,
                  p_txn: float) -> None:
    """Draw `n_events` top-level events. `pick_key()` chooses an existing
    key to touch; `new_key()` mints a key for an insert. Updates split
    evenly between v1 ($set/$unset) and v2 (diff) forms; a transaction is
    an applyOps of 2-4 updates or inserts on distinct keys."""
    for _ in range(n_events):
        r = rng.random()
        if r < p_insert:
            w.add("i", _doc(rng, new_key()))
        elif r < p_insert + p_delete:
            w.add("d", {"_id": pick_key()})
        elif r < p_insert + p_delete + p_txn:
            members, seen = [], set()
            for _ in range(int(rng.integers(2, 5))):
                k = pick_key()
                if k in seen:
                    continue
                seen.add(k)
                members.append({"op": "u", "ns": NS,
                                "o": {"$set": _sets(rng)}, "o2": {"_id": k}})
            if rng.random() < 0.5:
                members.append({"op": "i", "ns": NS,
                                "o": _doc(rng, new_key())})
            w.add("c", {"applyOps": members}, ns="db.$cmd")
        else:
            _update(rng, w, pick_key(), v2=rng.random() < 0.5)


def hot_keys_oplog(seed: int, n_keys: int, n_events: int):
    """cdc_hot_keys inputs: the seed keys and a Zipf-skewed (s=1.2) mixed
    backlog over them. Inserts re-insert (replace) existing keys; deletes
    free a key that later updates then patch as no-ops."""
    rng = rng_for(seed, "hot")
    keys = object_ids(rng, n_keys, 1_700_000_000)
    order = rng.permutation(n_keys)  # which key gets which Zipf rank
    ranks = iter(np.minimum(rng.zipf(1.2, 6 * n_events + 64), n_keys) - 1)

    def pick() -> str:
        return keys[order[next(ranks)]]

    w = _OplogWriter(first_seq=1_000_000)
    _mixed_events(rng, w, n_events, pick, pick, p_insert=0.08,
                  p_delete=0.05, p_txn=0.05)
    return keys, w


def large_target_oplog(seed: int, n_target: int, n_events: int):
    """cdc_large_target inputs: seed keys for an n_target-row table and a
    backlog where about half the events insert new increasing keys and the
    rest update or delete keys drawn with recency skew (the newest keys,
    including ones inserted earlier in the backlog, are the likeliest)."""
    rng = rng_for(seed, "large")
    keys = object_ids(rng, n_target + n_events, 1_600_000_000)
    live = n_target  # keys[:live] exist (or existed) so far

    def pick() -> str:
        back = int(rng.exponential(live / 20.0))
        return keys[max(0, live - 1 - min(back, live - 1))]

    def new() -> str:
        nonlocal live
        live += 1
        return keys[live - 1]

    w = _OplogWriter(first_seq=1_000_000)
    _mixed_events(rng, w, n_events, pick, new, p_insert=0.5,
                  p_delete=0.1, p_txn=0.04)
    return keys[:n_target], w
