"""The `-compare` validation (operators/compare.py): its one-pass
multiset counts checked against DuckDB's EXCEPT ALL and against the
two-`exceptAll` formula, wildcard includes through migrate + compare
(on local paths and on `file://` URIs), and the number of Spark jobs
one `compare_migration` may run."""

from __future__ import annotations

import math

import duckdb
import pyarrow as pa
import pytest

from hummingbird_spark.commit import recorded_schema
from hummingbird_spark.config import ConfigError, Include, MigrationConfig
from hummingbird_spark.operators.compare import (
    _compare_all,
    _row_counts,
    compare_migration,
)
from hummingbird_spark.operators.copy import run_migration
from hummingbird_spark.sources.tables import read_source

FLAT = ("k int, s string",
        pa.schema([("k", pa.int32()), ("s", pa.string())]))
NESTED = ("k int, st struct<x:int,y:string>, arr array<int>",
          pa.schema([("k", pa.int32()),
                     ("st", pa.struct([("x", pa.int32()),
                                       ("y", pa.string())])),
                     ("arr", pa.list_(pa.int32()))]))

# (name, schemas, source rows, target rows)
ORACLE_CASES = [
    ("duplicates", FLAT,
     [(1, "a"), (1, "a"), (1, "a"), (2, "b")],
     [(1, "a"), (2, "b"), (2, "b"), (3, "c")]),
    ("nulls", FLAT,
     [(None, "a"), (None, None), (1, None), (1, None)],
     [(None, "a"), (None, None), (None, None), (1, None)]),
    ("nested", NESTED,
     [(1, {"x": 1, "y": "a"}, [1, 2]), (2, {"x": None, "y": "b"}, []),
      (3, None, None), (4, {"x": 4, "y": None}, [None])],
     [(1, {"x": 1, "y": "a"}, [1, 2]), (2, {"x": None, "y": "b"}, [None]),
      (3, None, None), (3, None, None), (4, {"x": 4, "y": None}, [None])]),
    ("empty_target", FLAT, [(1, "a"), (1, "a"), (None, None)], []),
    ("empty_source", NESTED, [], [(1, {"x": 1, "y": "a"}, [1])]),
    ("both_empty", FLAT, [], []),
]


def _compare(source, target, namespace=""):
    """The one-pass compare of two frames, as `compare_migration` runs
    it for one namespace."""
    return _compare_all([namespace], [_row_counts(source, target, 0)])[0]


def _duckdb_counts(schema: pa.Schema, src: list, tgt: list):
    con = duckdb.connect()
    names = schema.names
    for name, rows in (("s", src), ("t", tgt)):
        con.register(name, pa.Table.from_pylist(
            [dict(zip(names, r)) for r in rows], schema=schema))

    def one(sql):
        return con.execute(sql).fetchone()[0]

    return (one("SELECT count(*) FROM s"), one("SELECT count(*) FROM t"),
            one("SELECT count(*) FROM (SELECT * FROM s EXCEPT ALL "
                "SELECT * FROM t)"),
            one("SELECT count(*) FROM (SELECT * FROM t EXCEPT ALL "
                "SELECT * FROM s)"))


@pytest.mark.parametrize("name,schemas,src,tgt", ORACLE_CASES,
                         ids=[c[0] for c in ORACLE_CASES])
def test_compare_matches_duckdb_except_all(spark, name, schemas, src, tgt):
    ddl, arrow_schema = schemas
    got = _compare(spark.createDataFrame(src, ddl),
                   spark.createDataFrame(tgt, ddl), name)
    assert (got.source_count, got.target_count, got.missing_in_target,
            got.extra_in_target) == _duckdb_counts(arrow_schema, src, tgt)
    assert got.namespace == name
    assert got.equal == (sorted(map(repr, src)) == sorted(map(repr, tgt)))


def test_compare_float_edges_match_except_all(spark):
    """NaN and −0.0 (top level and nested): the same counts as the
    two-`exceptAll` formula the one-pass compare replaces."""
    ddl = "d double, st struct<f:double>"
    nan = math.nan
    src_rows = [(nan, (nan,)), (0.0, (0.0,)), (-0.0, (-0.0,)),
                (1.0, (1.0,)), (nan, (-0.0,))]
    tgt_rows = [(nan, (nan,)), (nan, (nan,)), (-0.0, (0.0,)),
                (-0.0, (-0.0,)), (2.0, (nan,))]
    src = spark.createDataFrame(src_rows, ddl)
    tgt = spark.createDataFrame(tgt_rows, ddl)
    got = _compare(src, tgt)
    want = (len(src_rows), len(tgt_rows), src.exceptAll(tgt).count(),
            tgt.exceptAll(src).count())
    assert (got.source_count, got.target_count, got.missing_in_target,
            got.extra_in_target) == want


def _write_collections(spark, root, names, rows=30):
    for n, name in enumerate(names):
        spark.createDataFrame(
            [(i, f"{name}-{i % 7}", i * n) for i in range(rows)],
            "_id long, tag string, v long",
        ).write.parquet(f"{root}/{name}.parquet")


def test_wildcard_include_migrates_and_compares(spark, tmp_path):
    """`db.*` over a directory of collections copies each of them and
    compares each of them (file sources name bare collections)."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    _write_collections(spark, src, ["a", "b"])
    cfg = MigrationConfig(command="data-only", source=src, target=dst,
                          includes=[Include(namespace="db.*")], key="_id",
                          drop=True)
    report = run_migration(spark, cfg)
    assert [(r.namespace, r.rows_copied) for r in report.results] == [
        ("db.a", 30), ("db.b", 30)]
    results = compare_migration(spark, cfg)
    assert [(r.namespace, r.source_count, r.equal) for r in results] == [
        ("db.a", 30, True), ("db.b", 30, True)]

    cfg.includes = [Include(namespace="db.z*")]
    with pytest.raises(ConfigError, match="matches no collection"):
        run_migration(spark, cfg)
    with pytest.raises(ConfigError, match="matches no collection"):
        compare_migration(spark, cfg)


def test_migration_over_file_uris(spark, tmp_path):
    """Source and target given as `file://` URIs: `db.*` lists a parquet
    and a `.jsonl` collection on the Hadoop filesystem, both copy and
    compare equal, and `resume` skips both."""
    src, dst = tmp_path / "src", tmp_path / "dst"
    _write_collections(spark, str(src), ["a"])
    with open(src / "b.jsonl", "w") as fh:
        for i in range(12):
            fh.write(f'{{"_id": {i}, "tag": "b-{i % 3}"}}\n')
    cfg = MigrationConfig(command="data-only", source=src.as_uri(),
                          target=dst.as_uri(),
                          includes=[Include(namespace="db.*")], key="_id",
                          drop=True)
    report = run_migration(spark, cfg)
    assert [(r.namespace, r.rows_copied) for r in report.results] == [
        ("db.a", 30), ("db.b", 12)]
    assert sorted(p.name for p in dst.iterdir()) == ["a.parquet",
                                                     "b.parquet"]
    assert [(r.namespace, r.equal) for r in compare_migration(spark, cfg)
            ] == [("db.a", True), ("db.b", True)]
    resumed = run_migration(spark, cfg, resume=True)
    assert [(r.namespace, r.skipped) for r in resumed.results] == [
        ("db.a", True), ("db.b", True)]


# Spark jobs of one compare_migration over three namespaces (Spark 4.1.2,
# local mode, AQE on): 8 = 3 source schema-inference jobs (the targets
# read by their schema records, with none) + 3 per-namespace shuffle
# stages + 1 per-namespace sum stage + 1 result stage. The one-pass
# compare ran 11 while it inferred the targets' schemas too; the compare
# before it (two counts and two exceptAll counts per namespace) ran 36.
COMPARE_JOBS_THREE_NAMESPACES = 8


def _jobs_of(spark, group: str, fn):
    """fn()'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store hears of jobs from the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_compare_migration_job_count(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    _write_collections(spark, src, ["a", "b", "c"])
    cfg = MigrationConfig(
        command="data-only", source=src, target=dst, key="_id", drop=True,
        includes=[Include(namespace="a"),
                  Include(namespace="b", filter={"v": {"$gte": 10}}),
                  Include(namespace="c", to="c2")])
    run_migration(spark, cfg)
    targets = [f"{dst}/{n}.parquet" for n in ("a", "b", "c2")]
    # each copied target carries its schema record, and reads by it
    # with no Spark job
    assert all(recorded_schema(spark, t) is not None for t in targets)
    _, read_jobs = _jobs_of(
        spark, f"target-read-guard-{tmp_path.name}",
        lambda: [read_source(spark, t) for t in targets])
    assert read_jobs == 0, read_jobs
    results, jobs = _jobs_of(spark, f"compare-job-guard-{tmp_path.name}",
                             lambda: compare_migration(spark, cfg))
    assert [r.equal for r in results] == [True, True, True]
    # exactly: the schema inference runs on worker threads, and a
    # thread that dropped the caller's job group would count fewer
    assert jobs == COMPARE_JOBS_THREE_NAMESPACES, jobs


def test_compare_reads_a_mixed_width_target_by_its_files(spark, tmp_path):
    """A target another writer left, with no schema record and part
    files of two widths, reads as commit.read_published reads it: by
    the union of its files' schemas, so the wider file's column is
    compared, not lost. A target with no data file raises, naming its
    path."""
    import os
    import shutil

    import pyarrow.parquet as pq

    src, dst = tmp_path / "src", tmp_path / "dst"
    rows = [(1, "x", None), (2, "y", None), (3, "z", 5), (4, "w", 6)]
    spark.createDataFrame(rows, "_id long, a string, b long").write.parquet(
        str(src / "c.parquet"))
    os.makedirs(dst / "c.parquet")
    pq.write_table(pa.table({"_id": [1, 2], "a": ["x", "y"]}),
                   dst / "c.parquet" / "part-0.parquet")
    pq.write_table(pa.table({"_id": [3, 4], "a": ["z", "w"], "b": [5, 6]}),
                   dst / "c.parquet" / "part-1.parquet")
    cfg = MigrationConfig(command="data-only", source=str(src),
                          target=str(dst), key="_id",
                          includes=[Include(namespace="c")])
    (got,) = compare_migration(spark, cfg)
    assert (got.source_count, got.target_count, got.missing_in_target,
            got.extra_in_target) == (4, 4, 0, 0)

    shutil.rmtree(dst / "c.parquet")
    with pytest.raises(FileNotFoundError, match=f"{dst}/c.parquet"):
        compare_migration(spark, cfg)
