"""Kill-point test of the commit protocol (hummingbird_spark/commit.py).

Every file-system mutation in commit.py goes through `commit._mutate`.
Wrapping it to raise at the N-th call stops a publish at every step in
turn; after `recover` the tree (the published path and its siblings)
must be byte-identical to its pre-publish or its post-publish state.
A second kill inside that first recovery checks that recovery itself
survives a crash. Staged data is written with plain file writes, so no
Spark job runs.
"""

from __future__ import annotations

import os
import pathlib
import re

import pytest

from hummingbird_spark import commit


class _Kill(Exception):
    pass


def _tree(root):
    """Every directory and file under root, with file bytes."""
    out = {}
    for d, dirs, files in os.walk(root):
        for n in dirs:
            out[os.path.relpath(os.path.join(d, n), root)] = None
        for n in files:
            with open(os.path.join(d, n), "rb") as fh:
                out[os.path.relpath(os.path.join(d, n), root)] = fh.read()
    return out


def _put(root, files):
    for rel, data in files.items():
        p = os.path.join(root, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as fh:
            fh.write(data)


def _killed(monkeypatch, at, fn):
    """Run fn with the seam raising at its at-th call (0: never);
    True when the kill fired."""
    real, calls = commit._mutate, [0]

    def seam(fs, op, *args):
        calls[0] += 1
        if calls[0] == at:
            raise _Kill()
        return real(fs, op, *args)

    monkeypatch.setattr(commit, "_mutate", seam)
    try:
        fn()
        return False
    except _Kill:
        return True
    finally:
        monkeypatch.setattr(commit, "_mutate", real)


PRE = {"t/_SUCCESS": "", "t/b=0/f": "old0", "t/b=1/f": "old1",
       "t/b=2/f": "old2"}

# name -> (pre-state, publish(spark, path) with the staged data)
CASES = {
    "whole": (PRE, lambda spark, path: commit.publish(
        spark, path, lambda s: _put(s, {"_SUCCESS": "", "f": "new"}))),
    "whole_absent": ({}, lambda spark, path: commit.publish(
        spark, path, lambda s: _put(s, {"_SUCCESS": "", "f": "new"}))),
    # b=0 replaced, b=1 merged to empty, b=3 new, b=2 untouched
    "partitions": (PRE, lambda spark, path: commit.publish(
        spark, path, lambda s: _put(s, {"b=0/g": "new0", "b=3/g": "new3"}),
        partitions=["b=0", "b=1", "b=3"])),
    # the same with a file item beside the directories: a schema record
    "partitions_record": (
        {**PRE, "t/_schema.json": "old"},
        lambda spark, path: commit.publish(
            spark, path, lambda s: _put(s, {
                "b=0/g": "new0", "b=3/g": "new3", "_schema.json": "new"}),
            partitions=["b=0", "b=1", "b=3", "_schema.json"])),
    # a top-up: a part file added beside the live one, the record
    # replaced; the stage names its items once written
    "top_up": (
        {"t/_SUCCESS": "", "t/part-0": "old", "t/_schema.json": "old"},
        lambda spark, path: commit.publish(
            spark, path, lambda s: _put(s, {
                "_SUCCESS": "", "part-1": "new", "_schema.json": "new"}),
            partitions=lambda s: sorted(
                n for n in os.listdir(s) if n != "_SUCCESS"))),
    "text": ({"t": "1 2 "}, lambda spark, path: commit.write_text(
        spark, path, "1 2 3 ")),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_every_kill_point_recovers_to_pre_or_post(spark, tmp_path,
                                                  monkeypatch, case):
    pre_files, run = CASES[case]
    clean = tmp_path / "clean"
    _put(clean, pre_files)
    pre = _tree(clean)
    run(spark, str(clean / "t"))
    post = _tree(clean)
    assert post != pre

    outcomes = []
    for n in range(1, 100):
        root = tmp_path / f"k{n}"
        _put(root, pre_files)
        path = str(root / "t")
        if not _killed(monkeypatch, n, lambda: run(spark, path)):
            assert _tree(root) == post
            break
        for m in range(1, 100):  # crash inside the first recovery too
            if not _killed(monkeypatch, m,
                           lambda: commit.recover(spark, path)):
                break
        commit.recover(spark, path)
        got = _tree(root)
        assert got in (pre, post), f"kill at mutation {n}"
        outcomes.append(got == post)
    # one commit point: every kill before it rolls back, every kill
    # after it rolls forward
    assert outcomes == sorted(outcomes)
    assert False in outcomes and True in outcomes


def test_verify_failure_leaves_live_path(spark, tmp_path, monkeypatch):
    def boom(stage):
        assert os.path.exists(os.path.join(stage, "f"))
        raise ValueError("bad rewrite")

    for n in range(0, 3):
        root = tmp_path / f"k{n}"
        _put(root, PRE)
        pre = _tree(root)
        path = str(root / "t")

        def run():
            with pytest.raises(ValueError, match="bad rewrite"):
                commit.publish(spark, path, lambda s: _put(s, {"f": "x"}),
                               verify=boom)

        _killed(monkeypatch, n, run)
        commit.recover(spark, path)
        assert _tree(root) == pre


def test_publish_of_no_item_leaves_the_path(spark, tmp_path, monkeypatch):
    """A stage that names no item (an empty top-up) publishes nothing:
    the stage is dropped, no record is written, the path is as it was."""
    _put(tmp_path, PRE)
    pre = _tree(tmp_path)
    ops = []
    real = commit._mutate
    monkeypatch.setattr(commit, "_mutate", lambda fs, op, *a: (
        ops.append(op), real(fs, op, *a))[1])
    commit.publish(spark, str(tmp_path / "t"),
                   lambda s: _put(s, {"_SUCCESS": ""}),
                   partitions=lambda s: [])
    assert _tree(tmp_path) == pre
    assert ops == ["delete"]


def test_torn_record_rolls_back(spark, tmp_path):
    """A record cut short by a crash lacks its end line: the crash came
    before the commit point, so recovery drops it and the stage."""
    _put(tmp_path, PRE)
    pre = _tree(tmp_path)
    _put(tmp_path, {"t.__stage_0/f": "new", "t.__commit": "0\n+."})
    commit.recover(spark, str(tmp_path / "t"))
    assert _tree(tmp_path) == pre


def test_only_the_commit_module_renames():
    """commit.py is the one place in the package that renames: every
    replace of live data goes through its protocol."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "hummingbird_spark"
    call = re.compile(r"\bos\.(rename|replace)\(|\bshutil\.move\(|\.rename\(")
    offenders = [
        f"{p.relative_to(pkg)}:{i}"
        for p in sorted(pkg.rglob("*.py")) if p.name != "commit.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if call.search(line)
    ]
    assert offenders == []
