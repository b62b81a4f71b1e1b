"""Fixture-table loading (parquet scans — SURVEY §2.1 S1).

The reference scans MongoDB collections through cursors (splitter.go:51-108);
here every scan is `spark.read.parquet` so Catalyst owns predicate pushdown
and column pruning (both verified in tests via .explain: PushedFilters /
ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hummingbird_spark.commit import recorded_schema

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str,
               ts_between: tuple[str, str] | None = None) -> DataFrame:
    """Scan one fixture table. Plain parquet scan — filters/projections
    applied by callers reach the scan via Catalyst pushdown.

    The events fixture carries TIMESTAMP(NANOS) which Spark reads as a
    long (see session.py nanosAsLong); convert ns -> µs with integer
    division (exact — values are µs*1000) and rebuild the timestamp.

    ts_between=("2024-01-01", "2024-01-08") (half-open, UTC) applies a
    time-range predicate for events ON THE RAW NANOS LONG, *before* the
    ns->µs conversion. A caller-side `ts >= lit(...)` filter wraps ts in
    timestamp_micros(div) and cannot be pushed into the parquet scan
    (only isnotnull reaches PushedFilters) — a full scan at 100 TB. The
    raw-domain predicate is a plain long comparison: row-group min/max
    pruning applies. Plan-asserted in test_plan_quality.py.
    """
    df = read_source(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        if ts_between is not None:
            lo, hi = (_utc_ns(b) for b in ts_between)
            df = df.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    elif ts_between is not None:
        lo, hi = ts_between
        df = df.filter(
            (F.col("ts") >= F.lit(lo).cast("timestamp"))
            & (F.col("ts") < F.lit(hi).cast("timestamp"))
        )
    return df


def read_source(spark: SparkSession, path: str,
                fmt: str | None = None, **options) -> DataFrame:
    """Format-dispatched scan: parquet (columnar, splittable — the
    default at scale), ORC, JSON-lines, or CSV-with-header, chosen by
    explicit `fmt` or file extension. The reference's S7 gzip-BSON
    spool reader generalizes here: row formats are ingest/interchange
    surfaces; pipelines land them to parquet (`run_migration`) so later
    scans get pushdown, pruning, and row-group stats. JSON/CSV scans
    still stream and split (gzip members aside), but carry no column
    statistics — schema inference alone costs a full read, so prefer
    an explicit schema= option on big row-format inputs.

    A parquet table published with a schema record (every table the
    migration path writes: commit.put_schema) reads by that record when
    no `schema` is given, with no footer-reading inference job; a
    parquet path without one reads as Spark infers it."""
    if fmt is None:
        if path.startswith(("mongodb://", "mongodb+srv://")):
            fmt = "mongodb"
        else:
            base = path[:-3] if path.endswith(".gz") else path
            fmt = os.path.splitext(base)[1].lstrip(".").lower()
    fmt = {"jsonl": "json", "ndjson": "json", "tsv": "csv"}.get(fmt, fmt)
    if fmt == "mongodb":
        # live-Mongo seam (the reference's native I/O plane): options
        # carry database/collection/partitioner (sources/mongodb.py
        # maps MigrationConfig -> connector options)
        from hummingbird_spark.sources.mongodb import read_mongodb

        return read_mongodb(spark, path, **options)
    schema = options.pop("schema", None)
    if schema is None and fmt == "parquet":
        schema = recorded_schema(spark, path)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "parquet":
        return reader.options(**options).parquet(path)
    if fmt == "orc":
        # the other built-in columnar format: splittable, predicate
        # pushdown + column pruning via ORC stripe stats
        return reader.options(**options).orc(path)
    if fmt == "json":
        return reader.options(**options).json(path)
    if fmt == "csv":
        opts = {"header": "true", **options}
        if schema is None:
            opts.setdefault("inferSchema", "true")
        if path.endswith((".tsv", ".tsv.gz")):
            opts.setdefault("sep", "\t")
        return reader.options(**opts).csv(path)
    raise ValueError(f"unsupported source format {fmt!r} for {path}")


def write_sink(df: DataFrame, path: str, fmt: str = "parquet",
               mode: str = "overwrite", partition_cols=None,
               compression: str | None = None, **options) -> None:
    """Format-dispatched write — the mirror of read_source. parquet is
    the scan-optimized default; jsonl/csv are interchange surfaces
    (each output file is a valid JSONL/CSV shard, the layout LLM
    training loaders consume). compression: e.g. 'zstd' (parquet/orc)
    or 'gzip' (jsonl/csv) — at 100 TB the codec choice is a real
    storage/scan-cost knob, so it is explicit here."""
    fmt = {"json": "json", "jsonl": "json", "ndjson": "json",
           "tsv": "csv"}.get(fmt, fmt)
    writer = df.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*list(partition_cols))
    if compression is not None:
        options["compression"] = compression
    if fmt == "parquet":
        writer.options(**options).parquet(path)
    elif fmt == "orc":
        writer.options(**options).orc(path)
    elif fmt == "json":
        writer.options(**options).json(path)
    elif fmt == "csv":
        writer.options(**{"header": "true", **options}).csv(path)
    else:
        raise ValueError(f"unsupported sink format {fmt!r}")


def _utc_ns(bound: str) -> int:
    """'YYYY-MM-DD[ HH:MM:SS]' (UTC) -> epoch nanoseconds."""
    import datetime as _dt

    fmt = "%Y-%m-%d %H:%M:%S" if " " in bound else "%Y-%m-%d"
    d = _dt.datetime.strptime(bound, fmt).replace(tzinfo=_dt.timezone.utc)
    return int(d.timestamp()) * 1_000_000_000


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
