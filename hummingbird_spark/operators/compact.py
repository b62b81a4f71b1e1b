"""Small-file compaction for parquet targets.

The bucketed CDC layout (streaming/cdc.py::apply_cdc_batch with
`num_buckets`) rewrites only the buckets each micro-batch touches — the
right write amplification, but after thousands of batches every bucket
directory accumulates many small files, and at 100 TB the NameNode/listing
and per-file open costs dominate reads. Compaction is the standard
maintenance pass (Delta OPTIMIZE / Iceberg rewrite_data_files); this is
the plain-parquet equivalent:

  - read the table the way every reader does (commit.read_published):
    by its schema record, else by the union of its files' schemas, so
    a column only some files carry survives the rewrite,
  - size the output by BYTES, not file count: target_file_bytes decides
    how many output files the data actually needs,
  - for partitioned layouts, repartition BY the partition columns so
    each partition directory lands in one task -> one file,
  - publish the rewrite with a row-count verify
    (hummingbird_spark/commit.py owns the crash windows): a failed
    compaction never touches the live table.

The reference has no analogue (MongoDB storage compacts itself); this
belongs to the Spark-first scale story.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession

from hummingbird_spark.commit import (
    _fs, publish, put_schema, read_published, recorded_schema, recover,
)


def table_bytes(spark: SparkSession, path: str) -> int:
    """Total on-disk bytes under path (works on HDFS/S3A/local)."""
    fs, hpath = _fs(spark, path)
    return fs.getContentSummary(hpath).getLength()


def parquet_file_count(spark: SparkSession, path: str) -> int:
    df = read_published(spark, path)
    return 0 if df is None else len(df.inputFiles())


def compact_table(spark: SparkSession, path: str,
                  target_file_bytes: int = 128 * 1024 * 1024,
                  partition_cols: list[str] | None = None) -> dict:
    """Rewrite a parquet table into ~size/target_file_bytes files.

    partition_cols: hive-style partition columns of the layout (e.g.
    ["__bucket"] for the bucketed CDC target); preserved in the
    rewritten table, one file per partition directory.

    The table is read by commit.read_published: without a schema
    record, files of different widths union, never narrow to one
    footer's columns. A table with a schema record gets
    it back with the rewrite, so its next reader need not infer one. A
    table without one gets none: its writers append with Spark's own
    append mode (the streaming stores), and a record would not
    describe their next files, so the next read would drop a column
    only those files carry.

    Returns a report dict (files/bytes before and after).
    """
    recover(spark, path)
    before_bytes = table_bytes(spark, path)
    record = recorded_schema(spark, path)
    df = read_published(spark, path)
    if df is None:
        raise FileNotFoundError(f"no parquet data file under {path}")
    before_files = len(df.inputFiles())
    n_out = max(1, math.ceil(before_bytes / target_file_bytes))
    writer = (
        df.repartition(*([n_out] + list(partition_cols)))
        if partition_cols else df.repartition(n_out)
    ).write
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    n_src = df.count()

    def verify(stage: str) -> None:
        # a bad rewrite must never replace the live table (compare
        # counts, the cheapest full-coverage invariant)
        n_stage = spark.read.parquet(stage).count()
        if n_stage != n_src:
            raise RuntimeError(
                f"compaction row-count mismatch ({n_stage} != {n_src}); "
                f"live table untouched")

    def write(stage: str) -> None:
        writer.parquet(stage)
        if record is not None:
            put_schema(spark, stage, record)

    publish(spark, path, write, verify=verify)
    return {
        "path": path,
        "files_before": before_files,
        "files_after": parquet_file_count(spark, path),
        "bytes_before": before_bytes,
        "bytes_after": table_bytes(spark, path),
        "rows": n_src,
    }
