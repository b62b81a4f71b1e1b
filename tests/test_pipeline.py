"""End-to-end migration pipeline tests — the Spark analogue of the
reference's start_test.go / data_copier_test.go / task_test.go scenarios,
run over the sf0.001 fixture tables into a tmp target."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from hummingbird_spark.config import ConfigError, Include, MigrationConfig
from hummingbird_spark.operators.compare import compare_tables
from hummingbird_spark.operators.copy import copy_table, run_migration
from tests.conftest import SF_SMOKE


@pytest.fixture()
def target_dir(tmp_path):
    d = str(tmp_path / "target")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _cfg(target, includes, key, **kw):
    return MigrationConfig(
        command=kw.pop("command", "data-only"),
        source=SF_SMOKE,
        target=target,
        includes=includes,
        key=key,
        **kw,
    )


def test_copy_with_filter_and_limit(spark, target_dir):
    # quickstart.json's vehicles include: $in filter + limit 1024
    inc = Include(
        namespace="part",
        filter={"p_brand": {"$in": ["Brand#1", "Brand#3"]}},
        limit=50,
    )
    cfg = _cfg(target_dir, [inc], key="p_partkey", drop=True)
    report = run_migration(spark, cfg)
    assert len(report.results) == 1
    out = spark.read.parquet(f"{target_dir}/part.parquet")
    assert out.count() == min(50, report.total_rows) == report.total_rows
    brands = {r.p_brand for r in out.select("p_brand").distinct().collect()}
    assert brands <= {"Brand#1", "Brand#3"}


def test_copy_with_rename(spark, target_dir):
    # quickstart.json: "keyhole.numbers" -> "testdb.counts"
    inc = Include(namespace="nation", to="nations_renamed")
    cfg = _cfg(target_dir, [inc], key="n_nationkey", drop=True)
    run_migration(spark, cfg)
    assert os.path.exists(f"{target_dir}/nations_renamed.parquet/_SUCCESS")
    assert spark.read.parquet(
        f"{target_dir}/nations_renamed.parquet"
    ).count() == 25


def test_copy_with_mask(spark, target_dir):
    inc = Include(namespace="customer", masks=["c_name"], method="partial")
    cfg = _cfg(target_dir, [inc], key="c_custkey", drop=True)
    run_migration(spark, cfg)
    out = spark.read.parquet(f"{target_dir}/customer.parquet")
    row = out.orderBy("c_custkey").first()
    assert row.c_name.startswith("X")
    # partial keeps last 4 chars
    src = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").orderBy(
        "c_custkey"
    ).first()
    assert row.c_name[-4:] == src.c_name[-4:]


def test_wildcard_expansion_copies_all(spark, target_dir):
    cfg = _cfg(target_dir, [Include(namespace="region"),
                            Include(namespace="nation")],
               key="__none__", drop=True)
    report = run_migration(spark, cfg)
    assert {r.namespace for r in report.results} == {"region", "nation"}
    assert spark.read.parquet(f"{target_dir}/region.parquet").count() == 5


def test_empty_includes_copies_everything(spark, target_dir):
    # minimum.json: no includes => all qualified namespaces
    cfg = _cfg(target_dir, [], key="__none__", drop=True, command="all")
    report = run_migration(spark, cfg)
    names = {r.namespace for r in report.results}
    assert {"region", "nation", "customer", "lineitem"} <= names


def test_idempotent_recopy(spark, target_dir):
    """task_test.go:13-51: copying into a target that already holds a
    subset adds only the missing rows; totals converge."""
    src = spark.read.parquet(f"{SF_SMOKE}/supplier.parquet")
    # pre-seed target with a strict subset of the 10 suppliers
    os.makedirs(target_dir, exist_ok=True)
    seeded = src.filter(F.col("s_suppkey") <= 4)
    n_seeded = seeded.count()
    seeded.write.mode("overwrite").parquet(f"{target_dir}/supplier.parquet")
    inc = Include(namespace="supplier")
    cfg = _cfg(target_dir, [inc], key="s_suppkey", drop=False)
    res = copy_table(spark, cfg, inc)
    assert res.rows_copied == 10 - n_seeded  # only the missing rows
    out = spark.read.parquet(f"{target_dir}/supplier.parquet")
    assert out.count() == 10
    assert out.select("s_suppkey").distinct().count() == 10
    # second run is a no-op
    res2 = copy_table(spark, cfg, inc)
    assert res2.rows_copied == 0
    assert spark.read.parquet(f"{target_dir}/supplier.parquet").count() == 10


def test_recopy_tops_up_a_target_another_writer_left(spark, target_dir):
    """A target another writer left (one parquet file in a directory,
    no `_SUCCESS`, no schema record) is topped up like any target: its
    rows stay and only the missing keys are copied."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(f"{target_dir}/supplier.parquet")
    pq.write_table(pa.table({"s_suppkey": [1, 2], "s_name": ["x1", "x2"]}),
                   f"{target_dir}/supplier.parquet/part-0.parquet")
    inc = Include(namespace="supplier")
    res = copy_table(spark, _cfg(target_dir, [inc], key="s_suppkey"), inc)
    assert res.rows_copied == 8
    out = {r.s_suppkey: r.s_name for r in spark.read.option(
        "mergeSchema", "true").parquet(f"{target_dir}/supplier.parquet")
        .collect()}
    assert len(out) == 10 and (out[1], out[2]) == ("x1", "x2")


def test_top_up_records_the_widened_schema(spark, tmp_path):
    """A top-up that adds a column publishes the widened schema record,
    the schema a mergeSchema read infers, so a later read_published
    runs no inference job."""
    from hummingbird_spark.commit import read_published, recorded_schema

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    path = f"{dst}/c.parquet"
    cfg = MigrationConfig(command="data-only", source=src, target=dst,
                          key="_id", includes=[Include(namespace="c")])
    spark.createDataFrame([(k, "a") for k in range(5)],
                          "_id long, tag string").write.parquet(
        f"{src}/c.parquet")
    assert copy_table(spark, cfg, cfg.includes[0]).rows_copied == 5
    spark.createDataFrame([(k, "b", k * 1.5) for k in range(10)],
                          "_id long, tag string, extra double").write.mode(
        "overwrite").parquet(f"{src}/c.parquet")
    assert copy_table(spark, cfg, cfg.includes[0]).rows_copied == 5

    recorded = recorded_schema(spark, path)
    assert recorded is not None
    assert recorded == spark.read.option(
        "mergeSchema", "true").parquet(path).schema
    assert recorded.names == ["_id", "tag", "extra"]

    sc = spark.sparkContext
    group = f"top-up-read-{tmp_path.name}"
    sc.setJobGroup(group, "read_published after a top-up")
    try:
        got = read_published(spark, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert sorted(tuple(r) for r in got.collect()) == (
        [(k, "a", None) for k in range(5)]
        + [(k, "b", k * 1.5) for k in range(5, 10)])


def test_resume_skips_completed(spark, target_dir):
    # resume.go:13-82 / splitter.go:33-35: completed namespaces skipped
    inc = Include(namespace="region")
    cfg = _cfg(target_dir, [inc], key="r_regionkey", drop=True)
    run_migration(spark, cfg)
    report = run_migration(spark, cfg, resume=True)
    assert report.results[0].skipped


def test_compare_converged_and_diverged(spark, target_dir):
    inc = Include(namespace="orders")
    cfg = _cfg(target_dir, [inc], key="o_orderkey", drop=True)
    run_migration(spark, cfg)
    src = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    tgt = spark.read.parquet(f"{target_dir}/orders.parquet")
    res = compare_tables(src, tgt, "orders")
    assert res.equal and res.source_count == 1500

    broken = tgt.filter(F.col("o_orderkey") % 100 != 0)
    res2 = compare_tables(src, broken, "orders")
    assert not res2.equal
    assert res2.missing_in_target == src.count() - broken.count()
    assert res2.extra_in_target == 0


def test_compare_migration_with_includes(spark, target_dir):
    """-compare semantics: filter+mask+rename-aware per-namespace check
    (compare.go:13-31)."""
    from hummingbird_spark.operators.compare import compare_migration

    includes = [
        Include(namespace="part",
                filter={"p_size": {"$gte": 20}}),
        Include(namespace="customer", to="cust_masked",
                masks=["c_name"], method="default"),
    ]
    cfg = _cfg(target_dir, includes, key="p_partkey", drop=True)
    run_migration(spark, cfg)
    results = compare_migration(spark, cfg)
    assert all(r.equal for r in results), results
    # divergence detection: tamper the masked target
    import pyspark.sql.functions as SF
    tgt = spark.read.parquet(f"{target_dir}/cust_masked.parquet")
    tgt.withColumn(
        "c_acctbal", SF.col("c_acctbal") + 1
    ).write.mode("overwrite").parquet(f"{target_dir}/cust_masked2.parquet")
    cfg2 = _cfg(target_dir, [Include(namespace="customer",
                                     to="cust_masked2",
                                     masks=["c_name"])],
                key="c_custkey")
    bad = compare_migration(spark, cfg2)
    assert not bad[0].equal


def test_config_validation():
    with pytest.raises(ConfigError):
        MigrationConfig(command="bogus", source="a", target="b")
    with pytest.raises(ConfigError):
        MigrationConfig(command="all", source="", target="b")
    with pytest.raises(ConfigError):
        Include(namespace="db.*", masks=["ssn"])  # includes.go:71-75
    with pytest.raises(ConfigError):
        Include(namespace="db.c", masks=["ssn"], method="bogus")
    # defaults & caps (migrator.go:283-305)
    cfg = MigrationConfig(command="all", source="a", target="b",
                          workers=99, block=999_999)
    assert cfg.workers == 16 and cfg.block == 10_000
    inc = Include(namespace="db.c", masks=["ssn"])
    assert inc.method == "default"


def test_quickstart_config_parses():
    doc = {
        "command": "all",
        "drop": True,
        "source": "/src", "target": "/dst",
        "includes": [
            {"namespace": "Documents.*"},
            {"namespace": "keyhole.numbers", "to": "testdb.counts"},
            {"namespace": "keyhole.vehicles",
             "filter": {"color": {"$in": ["Black", "White"]}},
             "limit": 1024},
        ],
    }
    cfg = MigrationConfig.from_dict(doc)
    assert cfg.is_config and cfg.is_data
    assert cfg.includes[1].target_namespace == "testdb.counts"
    assert cfg.includes[2].limit == 1024


def test_copy_writes_bloom_filters(spark, tmp_path):
    """bloom_filter_cols lands parquet bloom filters in the target
    files (verified by the footer-adjacent bytes the filter occupies:
    same data, bloom files strictly larger, plain/bloom reads equal)."""
    import glob
    import os as _os

    plain_t = str(tmp_path / "plain")
    bloom_t = str(tmp_path / "bloom")
    base = dict(command="data-only", source=SF_SMOKE,
                includes=[Include(namespace="orders")],
                key="o_orderkey", drop=True)
    run_migration(spark, MigrationConfig(target=plain_t, **base))
    run_migration(spark, MigrationConfig(
        target=bloom_t, bloom_filter_cols=["o_orderkey"],
        bloom_filter_ndv=20_000, **base))

    def _bytes(d):
        return sum(_os.path.getsize(f) for f in
                   glob.glob(_os.path.join(d, "orders.parquet",
                                           "*.parquet")))

    assert _bytes(bloom_t) > _bytes(plain_t)
    a = spark.read.parquet(f"{plain_t}/orders.parquet").count()
    b = spark.read.parquet(f"{bloom_t}/orders.parquet").count()
    assert a == b > 0
