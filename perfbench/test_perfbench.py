"""Self-tests of the benchmark: seeded inputs repeat byte for byte, the
oracle fold is right on hand-written cases, and a tiny run of every workload
reports no failed operation.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke tests start Spark (about a minute each); `-k "not smoke"` skips
them.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

import inputs
import workloads
from oracles import OplogOracle

HERE = os.path.dirname(os.path.abspath(__file__))
FIELDS = [n for n, _ in inputs.CDC_FIELDS]


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files,
                                           shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d))
        for d in cmp.common_dirs)


def test_same_seed_gives_identical_collections(tmp_path):
    for run in ("a", "b"):
        inputs.write_collections(7, 500, str(tmp_path / run))
    inputs.write_collections(8, 500, str(tmp_path / "c"))
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


@pytest.mark.parametrize("make", [
    lambda seed: inputs.hot_keys_oplog(seed, 50, 400),
    lambda seed: inputs.large_target_oplog(seed, 300, 200),
])
def test_same_seed_gives_identical_oplog(tmp_path, make):
    for run, seed in (("a", 3), ("b", 3), ("c", 4)):
        keys, w = make(seed)
        inputs.write_events(w.events, str(tmp_path / run), 64, "op")
        inputs.write_events(inputs.seed_oplog(seed, keys, "seed").events,
                            str(tmp_path / run / "seed"), 64, "seed")
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def _fold(*events) -> dict:
    o = OplogOracle(FIELDS)
    for op, doc, *rest in events:
        o.apply(op, json.dumps(doc), json.dumps(rest[0]) if rest else None)
    return o.state


def _row(**kw) -> dict:
    return {f: kw.get(f) for f in FIELDS}


def test_oracle_insert_then_patch():
    state = _fold(("i", {"_id": "k", "n": 1, "tag": "a"}),
                  ("u", {"$set": {"n": 2}}, {"_id": "k"}),
                  ("u", {"$v": 2, "diff": {"u": {"score": 1.5}}},
                   {"_id": "k"}))
    assert state == {"k": _row(_id="k", n=2, tag="a", score=1.5)}


def test_oracle_patch_on_absent_key_is_a_noop():
    state = _fold(("u", {"$set": {"n": 2}}, {"_id": "k"}),
                  ("u", {"$v": 2, "diff": {"d": {"tag": False}}},
                   {"_id": "gone"}),
                  ("d", {"_id": "nobody"}))
    assert state == {}


def test_oracle_set_and_unset_of_one_field_in_one_event():
    state = _fold(("i", {"_id": "k", "n": 1, "tag": "a"}),
                  ("u", {"$set": {"tag": "b", "n": 5}, "$unset": {"tag": 1}},
                   {"_id": "k"}))
    assert state == {"k": _row(_id="k", n=5)}


def test_oracle_delete_then_reinsert():
    state = _fold(("i", {"_id": "k", "n": 1, "tag": "a"}),
                  ("d", {"_id": "k"}),
                  ("u", {"$set": {"n": 9}}, {"_id": "k"}),
                  ("i", {"_id": "k", "note": "new"}))
    assert state == {"k": _row(_id="k", note="new")}


def test_oracle_apply_ops_members_apply_in_order():
    state = _fold(
        ("i", {"_id": "a", "n": 1}),
        ("c", {"applyOps": [
            {"op": "u", "ns": inputs.NS, "o": {"$set": {"n": 2}},
             "o2": {"_id": "a"}},
            {"op": "i", "ns": inputs.NS, "o": {"_id": "b", "tag": "t"}},
            {"op": "d", "ns": inputs.NS, "o": {"_id": "missing"}},
        ]}))
    assert state == {"a": _row(_id="a", n=2), "b": _row(_id="b", tag="t")}


def test_tail_has_ten_samples_beyond_it():
    xs = [float(i) for i in range(40)]
    value, label = workloads.tail(xs)
    assert sum(x > value for x in xs) == 10
    assert label == "p75 of 40"
    assert workloads.tail([1.0, 2.0, 3.0, 4.0, 5.0])[0] == 4.0


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke_tiny_run_has_no_failures(workload):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "1", "--seconds", "1", "--trace", "1",
         "--tiny"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True,
        timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["attempted"] >= 1
    assert res["failed"] == 0 and res["correct"]
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        names = {m["name"] for m in json.load(f)["per_layer"]}
    assert set(res["metrics"]) == names
