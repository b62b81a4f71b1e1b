"""read_source format dispatch: parquet / JSON-lines / CSV / TSV land
identical rows, and the parquet path keeps its pushdown (the scale
reason row formats are ingest-only)."""

from __future__ import annotations

import gzip

from pyspark.sql import functions as F

from hummingbird_spark.sources.tables import load_table, read_source
from tests.conftest import SF_SMOKE


def _nation_rows(spark):
    return {tuple(r) for r in
            load_table(spark, SF_SMOKE, "nation")
            .select("n_nationkey", "n_name", "n_regionkey").collect()}


def test_jsonl_roundtrip(spark, tmp_path):
    src = load_table(spark, SF_SMOKE, "nation") \
        .select("n_nationkey", "n_name", "n_regionkey")
    p = str(tmp_path / "nation.jsonl")
    with open(p, "w") as fh:
        for line in src.toJSON().collect():
            fh.write(line + "\n")
    got = read_source(spark, p)
    assert {tuple(r) for r in
            got.select("n_nationkey", "n_name", "n_regionkey").collect()} \
        == _nation_rows(spark)


def test_orc_roundtrip(spark, tmp_path):
    src = load_table(spark, SF_SMOKE, "nation") \
        .select("n_nationkey", "n_name", "n_regionkey")
    p = str(tmp_path / "nation.orc")
    src.write.orc(p)
    got = read_source(spark, p)
    assert {tuple(r) for r in
            got.select("n_nationkey", "n_name", "n_regionkey").collect()} \
        == _nation_rows(spark)


def test_csv_and_tsv_roundtrip(spark, tmp_path):
    src = load_table(spark, SF_SMOKE, "nation") \
        .select("n_nationkey", "n_name", "n_regionkey")
    rows = src.collect()
    for name, sep in [("nation.csv", ","), ("nation.tsv", "\t")]:
        p = str(tmp_path / name)
        with open(p, "w") as fh:
            fh.write(sep.join(["n_nationkey", "n_name", "n_regionkey"])
                     + "\n")
            for r in rows:
                fh.write(sep.join([str(r.n_nationkey), r.n_name,
                                   str(r.n_regionkey)]) + "\n")
        got = read_source(spark, p)
        assert {tuple(r) for r in got.collect()} == _nation_rows(spark)


def test_gzipped_jsonl(spark, tmp_path):
    """S7 parity shape: gzip-compressed line-framed interchange files
    read without pre-decompression."""
    src = load_table(spark, SF_SMOKE, "nation") \
        .select("n_nationkey", "n_name", "n_regionkey")
    p = str(tmp_path / "nation.jsonl.gz")
    with gzip.open(p, "wt") as fh:
        for line in src.toJSON().collect():
            fh.write(line + "\n")
    got = read_source(spark, p)
    assert got.count() == 25


def test_explicit_schema_skips_inference(spark, tmp_path):
    p = str(tmp_path / "x.jsonl")
    with open(p, "w") as fh:
        fh.write('{"a": 1, "b": "s"}\n')
    # the declared type must WIN over what inference would pick
    # (inference would say bigint for a) — proves .schema() is applied
    got = read_source(spark, p, fmt="json", schema="a INT, b STRING")
    assert got.schema.simpleString() == "struct<a:int,b:string>"
    assert got.first().a == 1


def test_unknown_format_raises(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError, match="unsupported source format"):
        read_source(spark, str(tmp_path / "x.xml"))


def test_parquet_path_unchanged_with_pushdown(spark):
    df = read_source(spark, f"{SF_SMOKE}/part.parquet") \
        .filter(F.col("p_size") >= 10).select("p_partkey")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters:" in plan
    assert "GreaterThanOrEqual(p_size,10)" in plan.replace(" ", "")


def test_migration_from_jsonl_source(spark, tmp_path):
    """Row-format ingest end-to-end: a JSONL source migrates (with
    filter + mask) into a parquet target and compare passes — the
    land-interchange-to-columnar flow."""
    import json as _json

    from hummingbird_spark.config import MigrationConfig
    from hummingbird_spark.operators.compare import compare_migration
    from hummingbird_spark.operators.copy import (
        list_source_namespaces,
        run_migration,
    )

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    with open(src_dir / "users.jsonl", "w") as fh:
        for i in range(40):
            fh.write(_json.dumps(
                {"_id": i, "email": f"user{i}@example.com",
                 "score": i % 7}) + "\n")

    assert list_source_namespaces(spark, str(src_dir)) == ["users"]

    cfg = MigrationConfig.from_dict({
        "command": "data-only",
        "source": str(src_dir),
        "target": str(tmp_path / "tgt"),
        "drop": True,
        "includes": [{
            "namespace": "users",
            "filter": {"score": {"$gte": 3}},
            "masks": ["email"],
            "method": "partial",
        }],
    })
    report = run_migration(spark, cfg)
    assert report.total_rows == sum(1 for i in range(40) if i % 7 >= 3)

    tgt = spark.read.parquet(str(tmp_path / "tgt" / "users.parquet"))
    rows = {r._id: r for r in tgt.collect()}
    assert all(r.score >= 3 for r in rows.values())
    # partial mask: all but the last 4 chars are X'ed
    assert rows[3].email.endswith(".com")
    assert "user3" not in rows[3].email

    assert all(r.equal for r in compare_migration(spark, cfg))
