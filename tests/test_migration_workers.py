"""`run_migration` copies up to `cfg.workers` namespaces at once
(operators/copy.py::side_by_side): results and tracker calls still come
in include order from the calling thread, a failing namespace lets the
others publish and is raised after every started copy has ended, the
copies' Spark jobs run in the caller's job group, and includes that
share a target are copied one after another, as serial code does."""

from __future__ import annotations

import glob
import os
import sys
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from hummingbird_spark.config import Include, MigrationConfig
from hummingbird_spark.operators import copy as copy_mod
from hummingbird_spark.operators.copy import copy_table, run_migration


def _write(spark, root, name, keys):
    spark.createDataFrame([(k, name) for k in keys],
                          "_id long, tag string").write.mode(
        "overwrite").parquet(f"{root}/{name}.parquet")


def _cfg(src, dst, names, **kw):
    return MigrationConfig(command="data-only", source=src, target=dst,
                           key="_id", includes=[Include(namespace=n)
                                                for n in names], **kw)


def _rows(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


class _Calls:
    """Records every copy: its namespace, thread and end, and how many
    copies ran at once at most. `hold` maps a namespace to seconds
    it waits before copying; `after` maps a namespace to the namespaces
    whose copies must end before it copies (an Event, waited on for at
    most 60 s, so a copy that never comes cannot hang the test);
    `barrier` makes every copy wait for the others to start."""

    def __init__(self, monkeypatch, hold=None, barrier=None, after=None):
        self.real, self.hold, self.barrier = copy_table, hold or {}, barrier
        self.after = {ns: (set(others), threading.Event())
                      for ns, others in (after or {}).items()}
        self.lock = threading.Lock()
        self.runs, self.running, self.peak = [], 0, 0
        self.ended = set()
        monkeypatch.setattr(copy_mod, "copy_table", self)

    def __call__(self, spark, cfg, inc, resume=False):
        run = {"ns": inc.namespace, "thread": threading.get_ident(),
               "end": None}
        with self.lock:
            self.runs.append(run)
            self.running += 1
            self.peak = max(self.peak, self.running)
        try:
            if self.barrier is not None:
                self.barrier.wait()
            if inc.namespace in self.after:
                self.after[inc.namespace][1].wait(60)
            time.sleep(self.hold.get(inc.namespace, 0))
            return self.real(spark, cfg, inc, resume=resume)
        finally:
            with self.lock:
                self.running -= 1
                run["end"] = time.monotonic()
                self.ended.add(inc.namespace)
                for others, released in self.after.values():
                    if others <= self.ended:
                        released.set()


class _Tracker:
    """A progress tracker that records each call and its thread."""

    def __init__(self):
        self.calls = []

    def _record(self, *call):
        self.calls.append((*call, threading.get_ident()))

    def add(self, *names):
        self._record("add", *names)

    def start(self, ns):
        self._record("start", ns)

    def complete(self, ns, rows):
        self._record("complete", ns, rows)

    def fail(self, ns):
        self._record("fail", ns)


@pytest.mark.parametrize("workers", [1, 2])
def test_results_and_tracker_calls_in_include_order(spark, tmp_path,
                                                    monkeypatch, workers):
    """With more than one worker the first include is held back until
    the later ones have ended; results and tracker calls still come in
    include order, all from the calling thread, and no more than
    `workers` copies run at once."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    names = ["a", "b", "c", "d"]
    for n, name in enumerate(names):
        _write(spark, src, name, range(10 + n))
    calls = _Calls(monkeypatch, after={"a": "bcd"} if workers > 1 else None)
    tracker = _Tracker()
    report = run_migration(spark, _cfg(src, dst, names, workers=workers,
                                       drop=True), tracker=tracker)

    assert [(r.namespace, r.rows_copied) for r in report.results] == [
        ("a", 10), ("b", 11), ("c", 12), ("d", 13)]
    me = threading.get_ident()
    want = [("add", *names)]
    for name, r in zip(names, report.results):
        want += [("start", name), ("complete", name, r.rows_copied)]
    assert [c[:-1] for c in tracker.calls] == want
    assert {c[-1] for c in tracker.calls} == {me}

    threads = {r["thread"] for r in calls.runs}
    assert me not in threads and len(threads) <= workers
    assert calls.peak == workers
    ended = {r["ns"]: r["end"] for r in calls.runs}
    if workers > 1:  # b, c and d copied while a was held back
        assert max(ended[n] for n in "bcd") < ended["a"]
    for name, n in zip(names, range(10, 14)):
        assert len(_rows(spark, f"{dst}/{name}.parquet")) == n


def test_failing_namespace_is_raised_after_every_copy_ends(spark, tmp_path,
                                                           monkeypatch):
    """`b` has a corrupt parquet part. The other copies publish, the
    error is raised only after the slowest of them has ended, no stage
    or temp directory is left, and `resume` recopies only `b`."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    names = ["b", "a", "c"]
    for name in names:
        _write(spark, src, name, range(20))
    part = sorted(glob.glob(f"{src}/b.parquet/part-*.parquet"))[0]
    good = open(part, "rb").read()
    with open(part, "wb") as fh:
        fh.write(b"not a parquet file")
    cfg = _cfg(src, dst, names, drop=True)
    calls = _Calls(monkeypatch, hold={"c": 1.0},
                   barrier=threading.Barrier(3, timeout=60))
    tracker = _Tracker()

    with pytest.raises(Exception) as err:
        run_migration(spark, cfg, tracker=tracker)
    raised = time.monotonic()
    assert f"{src}/b.parquet" in str(err.value)
    assert all(r["end"] is not None and r["end"] <= raised
               for r in calls.runs)
    assert sorted(r["ns"] for r in calls.runs) == ["a", "b", "c"]
    assert [c[:-1] for c in tracker.calls] == [
        ("add", "b", "a", "c"), ("start", "b"), ("fail", "b"),
        ("start", "a"), ("complete", "a", 20),
        ("start", "c"), ("complete", "c", 20)]
    assert sorted(os.listdir(dst)) == ["a.parquet", "c.parquet"]
    assert len(_rows(spark, f"{dst}/a.parquet")) == 20
    assert len(_rows(spark, f"{dst}/c.parquet")) == 20

    with open(part, "wb") as fh:
        fh.write(good)
    report = run_migration(spark, cfg, resume=True)
    assert [(r.namespace, r.skipped, r.rows_copied)
            for r in report.results] == [
        ("b", False, 20), ("a", True, 0), ("c", True, 0)]
    assert sorted(os.listdir(dst)) == ["a.parquet", "b.parquet",
                                       "c.parquet"]


def test_failure_starts_no_queued_copy(spark, tmp_path, monkeypatch):
    """With one worker, a copy that fails stops the copies queued behind
    it: they never start, and the tracker never hears of them."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    names = ["a", "b", "c"]
    for name in names:
        _write(spark, src, name, range(5))
    calls = _Calls(monkeypatch)

    def boom(spark, cfg, inc, resume=False):
        if inc.namespace == "b":
            raise RuntimeError("copy of b failed")
        return calls(spark, cfg, inc, resume=resume)

    monkeypatch.setattr(copy_mod, "copy_table", boom)
    tracker = _Tracker()
    with pytest.raises(RuntimeError, match="copy of b failed"):
        run_migration(spark, _cfg(src, dst, names, workers=1, drop=True),
                      tracker=tracker)
    assert [r["ns"] for r in calls.runs] == ["a"]
    assert [c[:-1] for c in tracker.calls] == [
        ("add", "a", "b", "c"), ("start", "a"), ("complete", "a", 5),
        ("start", "b"), ("fail", "b")]
    assert os.listdir(dst) == ["a.parquet"]


def test_copy_jobs_run_in_the_callers_job_group(spark, tmp_path):
    """Every Spark job the worker threads run carries the caller's job
    group: none runs without one."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    names = ["a", "b", "c"]
    for name in names:
        _write(spark, src, name, range(10))
    sc = spark.sparkContext
    status = sc.statusTracker()
    listeners = sc._jsc.sc().listenerBus()
    listeners.waitUntilEmpty()
    before = set(status.getJobIdsForGroup(None))
    group = f"copy-group-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        run_migration(spark, _cfg(src, dst, names, drop=True))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    listeners.waitUntilEmpty()
    assert len(status.getJobIdsForGroup(group)) >= len(names)
    assert set(status.getJobIdsForGroup(None)) - before == set()


@pytest.mark.parametrize("drop", [True, False], ids=["drop", "top_up"])
def test_includes_sharing_a_target(spark, tmp_path, drop):
    """Two includes with the same target are copied one after another,
    in include order, as serial code copies them. With or without drop
    (which deletes the target once, before any copy) the later include
    tops the earlier one's rows up with its missing keys."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    _write(spark, src, "a", range(0, 10))
    _write(spark, src, "b", range(5, 15))
    _write(spark, src, "c", range(3))
    cfg = MigrationConfig(
        command="data-only", source=src, target=dst, key="_id", drop=drop,
        includes=[Include(namespace="a", to="t"), Include(namespace="c"),
                  Include(namespace="b", to="t")])
    report = run_migration(spark, cfg)
    assert [r.rows_copied for r in report.results] == [10, 3, 5]
    assert _rows(spark, f"{dst}/t.parquet") == (
        [(k, "a") for k in range(10)] + [(k, "b") for k in range(10, 15)])
    assert _rows(spark, f"{dst}/c.parquet") == [(k, "c") for k in range(3)]


def test_top_up_refuses_a_one_file_target(spark, tmp_path):
    """A target that is one parquet file, not a directory, cannot be
    topped up: the copy raises before it writes, leaving the file as it
    was and no temp directory beside it."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    _write(spark, src, "c", range(5))
    os.makedirs(dst)
    pq.write_table(pa.table({"_id": [1, 9], "tag": ["x", "y"]}),
                   f"{dst}/c.parquet")
    before = open(f"{dst}/c.parquet", "rb").read()
    inc = Include(namespace="c")
    with pytest.raises(ValueError, match="one parquet file"):
        copy_table(spark, _cfg(src, dst, ["c"]), inc)
    assert os.listdir(dst) == ["c.parquet"]
    assert open(f"{dst}/c.parquet", "rb").read() == before


@pytest.mark.parametrize("fail_at", [None, 37])
def test_side_by_side_stress(spark, fail_at):
    """More threads than cores and a short switch interval: items come
    back in order, each lane runs its items one at a time in order, no
    more than `workers` run at once, and every item that ran is yielded
    and has ended when the iteration ends."""
    workers, items = 6, list(range(120))
    lock = threading.Lock()
    ran, running, peak, per_lane = [], [0], [0], {}

    def fn(item):
        lane = item % 7
        with lock:
            ran.append(item)
            running[0] += 1
            peak[0] = max(peak[0], running[0])
            per_lane[lane] = per_lane.get(lane, 0) + 1
            assert per_lane[lane] == 1, f"lane {lane} ran twice at once"
        time.sleep(0.001)
        with lock:
            running[0] -= 1
            per_lane[lane] -= 1
        if item == fail_at:
            raise RuntimeError(f"item {item} failed")
        return item * 2

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        got = list(copy_mod.side_by_side(spark, workers, items, fn,
                                         lane=lambda item: item % 7))
    finally:
        sys.setswitchinterval(old)

    assert [item for item, _ in got] == sorted(ran)
    assert all(done.done() for _, done in got)
    assert peak[0] <= workers
    for lane in range(7):
        mine = [item for item in ran if item % 7 == lane]
        assert mine == sorted(mine)
    if fail_at is None:
        assert [done.result() for _, done in got] == [i * 2 for i in items]
    else:
        errors = [item for item, done in got if done.exception()]
        assert errors == [fail_at]
        assert len(ran) < len(items)
