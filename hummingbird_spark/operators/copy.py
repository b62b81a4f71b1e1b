"""Batch copy pipeline — the reference's data-copy phase re-expressed as
one declarative Spark plan per namespace (SURVEY §3.1 steps 1-5).

Reference flow: enumerate includes -> split into _id-range tasks ->
workers cursor-copy each range with the include filter conjoined
(data_copier.go:66-113, task.go:54-105). Spark flow: per table,
`read -> filter -> mask -> limit -> rename -> range-partitioned write`.
The task queue, workers, stragglers, and resume bookkeeping collapse into
Spark's scheduler + an idempotent write; what remains is this thin layer.

Scale notes:
  - filter/projection reach the parquet scan (Catalyst pushdown);
  - the only shuffle is the optional repartitionByRange that reproduces
    the reference's block partitioning (and gives balanced output files);
  - idempotent re-copy (task_test.go:13-51 semantics) is a left_anti join
    on the key against the existing target — at scale, with Delta, this
    would be MERGE whenNotMatchedInsert; on plain parquet the anti-join
    is the portable equivalent.
"""

from __future__ import annotations

import glob
import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from hummingbird_spark.commit import _adopt_parquet_files
from hummingbird_spark.config import ConfigError, Include, MigrationConfig
from hummingbird_spark.filters import mongo_filter_to_column
from hummingbird_spark.functions.masks import mask_dataframe
from hummingbird_spark.operators.split import partition_for_copy
from hummingbird_spark.sources.catalog import expand_namespaces, split_namespace
from hummingbird_spark.sources.tables import read_source


@dataclass
class CopyResult:
    namespace: str
    target_namespace: str
    rows_copied: int
    skipped: bool = False


@dataclass
class MigrationReport:
    results: list[CopyResult] = field(default_factory=list)

    @property
    def total_rows(self) -> int:
        return sum(r.rows_copied for r in self.results)


# row-format ingest surfaces read_source dispatches on; targets are
# always parquet (land interchange files to columnar once, then every
# later scan gets pushdown + stats)
_SOURCE_EXTS = (".parquet", ".jsonl", ".jsonl.gz", ".ndjson", ".json",
                ".csv", ".csv.gz", ".tsv", ".tsv.gz")


def _table_path(root: str, namespace: str,
                exts: tuple[str, ...] = (".parquet",)) -> str:
    # namespace "db.coll" -> {root}/{coll}.<ext> ; bare "coll" likewise.
    # First existing extension wins; parquet when nothing exists yet.
    db, coll = split_namespace(namespace)
    base = os.path.join(root, coll or db)
    for ext in exts:
        if os.path.exists(base + ext):
            return base + ext
    return base + ".parquet"


def _parquet_row_count(path: str) -> int | None:
    """Row count from parquet footers (driver-side metadata read, no
    Spark job) — the analogue of the reference's collstats-based task
    sizing. Valid only for an unfiltered, unlimited copy. Row-format
    sources carry no footer stats -> None (caller falls back to a
    count-free partitioning)."""
    if not path.endswith(".parquet"):
        return None
    try:
        import pyarrow.parquet as pq

        parts = glob.glob(os.path.join(path, "*.parquet")) or [path]
        return sum(pq.read_metadata(p).num_rows for p in parts)
    except Exception:
        return None


def list_source_namespaces(source: str) -> list[str]:
    """Enumerate copyable namespaces in a source directory — the catalog
    scan (S5) for file-based sources, any supported format."""
    names = set()
    for ext in _SOURCE_EXTS:
        for p in glob.glob(os.path.join(source, f"*{ext}")):
            names.add(os.path.basename(p)[: -len(ext)])
    return sorted(names)


def resolve_includes(cfg: MigrationConfig) -> list[Include]:
    """The includes to copy or compare, wildcards expanded against the
    source's collections (data_copier.go:78-102). File sources name bare
    collections, so a pattern's collection part is matched against them
    and its db, when concrete, is kept. An empty include list means every
    collection (minimum.json); a pattern that matches nothing raises."""
    available = list_source_namespaces(cfg.source)
    if not cfg.includes:
        return [Include(namespace=ns) for ns in available]
    out: list[Include] = []
    for inc in cfg.includes:
        if "*" not in inc.namespace:
            out.append(inc)
            continue
        db, coll = split_namespace(inc.namespace)
        if coll and "*" not in db:
            found = expand_namespaces([f"{db}.{c}" for c in available],
                                      [inc.namespace])
        else:  # `*`, `*.coll`: bare collection names carry no db
            found = expand_namespaces(available, [coll or db])
        if not found:
            raise ConfigError(
                f"{inc.namespace} matches no collection in {cfg.source}")
        out += [Include(namespace=ns, filter=inc.filter, limit=inc.limit,
                        masks=inc.masks, method=inc.method)
                for ns in found]
    return out


def transform_for_include(df: DataFrame, include: Include) -> DataFrame:
    """The per-namespace dataflow: filter ∧ mask ∧ limit
    (task.go:54-61 + mask.go:23-28 + includes.go:16)."""
    out = df.filter(mongo_filter_to_column(include.filter))
    if include.masks:
        out = mask_dataframe(out, include.masks, include.method)
    if include.limit:
        out = out.limit(include.limit)
    return out


def copy_table(
    spark: SparkSession,
    cfg: MigrationConfig,
    include: Include,
    resume: bool = False,
) -> CopyResult:
    """Copy one namespace source->target. Modes:
      - cfg.drop: overwrite target (DropCollections, migrator.go:155-193)
      - resume + target exists: skip (completed-task skip, splitter.go:33-35)
      - target exists, no drop: idempotent top-up — append only rows whose
        key is missing (dup-key reconciliation J1, task.go:88-101)
    """
    if cfg.source.startswith(("mongodb://", "mongodb+srv://")):
        # the reference's native source: dispatch through the
        # connector seam (sources/mongodb.py maps the config onto the
        # public Spark MongoDB Connector's partitioner options; the
        # include filter pushes down as a server-side $match there, so
        # transform_for_include's re-apply is a no-op on those rows)
        from hummingbird_spark.sources.mongodb import (
            mongodb_read_options,
        )

        src_df = read_source(spark, cfg.source, fmt="mongodb",
                             **mongodb_read_options(cfg, include))
        src_path = None   # no parquet footers to count from
    else:
        src_path = _table_path(cfg.source, include.namespace,
                               _SOURCE_EXTS)
        src_df = read_source(spark, src_path)
    dst_path = _table_path(cfg.target, include.target_namespace)
    df = transform_for_include(src_df, include)

    target_exists = os.path.exists(os.path.join(dst_path, "_SUCCESS"))
    if resume and target_exists:
        return CopyResult(include.namespace, include.target_namespace, 0,
                          skipped=True)

    mode = "overwrite"
    if target_exists and not cfg.drop:
        existing = spark.read.parquet(dst_path).select(
            F.col(cfg.key).alias("__existing_key")
        )
        df = df.join(
            existing, df[cfg.key] == existing["__existing_key"], "left_anti"
        )
        mode = "append"

    key_in_schema = cfg.key in df.columns
    if key_in_schema:
        # unfiltered copy: size partitions from parquet footers; anything
        # else is left to AQE (no count scan either way)
        rows = None
        if src_path is not None and not include.filter \
                and not include.limit and mode == "overwrite":
            rows = _parquet_row_count(src_path)
        df = partition_for_copy(df, cfg.key, rows=rows, block=cfg.block)

    def _with_bloom(writer):
        """D2 index analogue: parquet bloom filters on the configured
        columns (index_copier.go:14-62 — the reference copies source
        indexes; columnar targets get point-lookup skipping from
        footer blooms instead). ndv sizes the filter; the 1M default
        would bloat small files by orders of magnitude."""
        for col in getattr(cfg, "bloom_filter_cols", []) or []:
            if col in df.columns:
                writer = writer.option(
                    f"parquet.bloom.filter.enabled#{col}", "true"
                ).option(
                    f"parquet.bloom.filter.expected.ndv#{col}",
                    str(cfg.bloom_filter_ndv),
                )
        return writer

    if mode == "append":
        # Appending to the path the anti-join is also reading (self-read)
        # is unsafe on plain parquet, but materializing the delta on the
        # driver caps the top-up at driver memory. Instead write the
        # delta to a sibling temp dir executor-side (the job finishes —
        # and its reads of dst complete — before any file moves), then
        # move the data files in: the plain-parquet equivalent of MERGE
        # whenNotMatchedInsert (the append path of
        # hummingbird_spark/commit.py).
        tmp = dst_path.rstrip("/") + "__append_tmp"
        obs = Observation()
        _with_bloom(
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write
        ).mode("overwrite").parquet(tmp)
        n = obs.get["rows"]
        _adopt_parquet_files(spark, tmp, dst_path, move=n > 0)
    else:
        # count during the write (observed metric, A6-style) — not with a
        # read-back scan of the target
        obs = Observation()
        _with_bloom(
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write
        ).mode("overwrite").parquet(dst_path)
        n = obs.get["rows"]
    return CopyResult(include.namespace, include.target_namespace, n)


def run_migration(
    spark: SparkSession, cfg: MigrationConfig, resume: bool = False,
    tracker=None,
) -> MigrationReport:
    """The `-start` data phase (start.go:78-82): resolve includes against
    the source catalog (wildcards expand, data_copier.go:78-102), then
    copy each namespace. Tables are independent jobs — Spark runs the
    stages of each in parallel across the cluster; at 100 TB per-table
    parallelism (partitions) dominates, not table count.
    """
    expanded = resolve_includes(cfg)
    if cfg.drop and os.path.isdir(cfg.target) and not resume:
        # Drop target namespaces (migrator.go:155-193), scoped to tables
        # we are about to write.
        for inc in expanded:
            p = _table_path(cfg.target, inc.target_namespace)
            if os.path.isdir(p):
                shutil.rmtree(p)

    report = MigrationReport()
    os.makedirs(cfg.target, exist_ok=True)
    if tracker is not None:  # web.ProgressTracker status feed (A4)
        tracker.add(*[inc.namespace for inc in expanded])
    for inc in expanded:
        if tracker is not None:
            tracker.start(inc.namespace)
        try:
            result = copy_table(spark, cfg, inc, resume=resume)
        except Exception:
            if tracker is not None:
                tracker.fail(inc.namespace)
            raise
        report.results.append(result)
        if tracker is not None:
            tracker.complete(inc.namespace, result.rows_copied)
    return report
