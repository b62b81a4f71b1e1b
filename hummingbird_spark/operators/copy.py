"""Batch copy pipeline — the reference's data-copy phase re-expressed as
one declarative Spark plan per namespace (SURVEY §3.1 steps 1-5).

Reference flow: enumerate includes -> split into _id-range tasks ->
workers cursor-copy each range with the include filter conjoined
(data_copier.go:66-113, task.go:54-105). Spark flow: per table,
`read -> filter -> mask -> limit -> rename -> range-partitioned write`.
The task queue, workers, stragglers, and resume bookkeeping collapse into
Spark's scheduler + an idempotent write; what remains is this thin layer.

Every table the copy writes is published through the commit protocol
(hummingbird_spark/commit.py) with its schema record, so a killed copy
leaves the target exactly as it was or exactly copied, and every later
reader (resume, top-up, compare, CDC, pipelines) reads it by the record
instead of inferring a schema. Listing, existence checks and the drop
go through the Hadoop FileSystem API, so source and target may be any
Hadoop filesystem URI.

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

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from hummingbird_spark.commit import (
    _adopt_parquet_files, _fs, publish, put_schema, read_published, recover,
)
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


def _table_path(root: str, namespace: str) -> str:
    """namespace "db.coll" (or bare "coll") -> {root}/{coll}.parquet:
    where the copy writes it."""
    db, coll = split_namespace(namespace)
    return f"{root.rstrip('/')}/{coll or db}.parquet"


def _source_path(spark: SparkSession, root: str, namespace: str) -> str:
    """The source table of `namespace` under `root`: the first of
    _SOURCE_EXTS that exists, else the parquet path."""
    base = _table_path(root, namespace)[: -len(".parquet")]
    for ext in _SOURCE_EXTS:
        fs, hpath = _fs(spark, base + ext)
        if fs.exists(hpath):
            return base + ext
    return base + ".parquet"


def _parquet_row_count(path: str) -> int | None:
    """Row count from parquet footers (driver-side metadata read, no
    Spark job) — the analogue of the reference's collstats-based task
    sizing. Valid only for an unfiltered, unlimited copy. pyarrow reads
    the footers from the local disk, so a path that is not there (a
    Hadoop filesystem URI) gives None, as a row-format source without
    footer stats does: the caller then leaves the split to AQE."""
    if not path.endswith(".parquet") or not os.path.exists(path):
        return None
    try:
        import pyarrow.parquet as pq

        parts = ([os.path.join(path, n) for n in os.listdir(path)
                  if n.endswith(".parquet")]
                 if os.path.isdir(path) else [path])
        return sum(pq.read_metadata(p).num_rows for p in parts)
    except Exception:
        return None


def list_source_namespaces(spark: SparkSession, source: str) -> list[str]:
    """Enumerate copyable namespaces in a source directory — the catalog
    scan (S5) for file-based sources, any supported format, on any
    Hadoop filesystem. A missing directory holds none."""
    fs, root = _fs(spark, source)
    if not fs.exists(root):
        return []
    names = set()
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        ext = next((e for e in _SOURCE_EXTS if name.endswith(e)), None)
        if ext is not None and not name.startswith("."):
            names.add(name[: -len(ext)])
    return sorted(names)


def resolve_includes(spark: SparkSession,
                     cfg: MigrationConfig) -> list[Include]:
    """The includes to copy or compare, wildcards expanded against the
    source's collections (data_copier.go:78-102). File sources name bare
    collections, so a pattern's collection part is matched against them
    and its db, when concrete, is kept. An empty include list means every
    collection (minimum.json); a pattern that matches nothing raises.
    The source is listed only when an include needs it."""
    if not cfg.includes:
        return [Include(namespace=ns)
                for ns in list_source_namespaces(spark, cfg.source)]
    out: list[Include] = []
    available = None
    for inc in cfg.includes:
        if "*" not in inc.namespace:
            out.append(inc)
            continue
        if available is None:
            available = list_source_namespaces(spark, cfg.source)
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
      - no target, or cfg.drop: publish the copy with its schema record
        (commit.publish), replacing any target (DropCollections,
        migrator.go:155-193)
      - resume + target exists: skip (completed-task skip, splitter.go:33-35)
      - target exists, no drop: idempotent top-up — append only rows whose
        key is missing (dup-key reconciliation J1, task.go:88-101)
    The target exists when commit.read_published finds it, after
    `recover` has settled an interrupted publish: a copy killed before
    its commit point left no target, one killed after it a whole one.
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
        src_path = _source_path(spark, cfg.source, include.namespace)
        src_df = read_source(spark, src_path)
    dst_path = _table_path(cfg.target, include.target_namespace)
    df = transform_for_include(src_df, include)

    recover(spark, dst_path)
    existing = read_published(spark, dst_path)
    if resume and existing is not None:
        return CopyResult(include.namespace, include.target_namespace, 0,
                          skipped=True)

    top_up = existing is not None and not cfg.drop
    if top_up:
        existing = existing.select(F.col(cfg.key).alias("__existing_key"))
        df = df.join(
            existing, df[cfg.key] == existing["__existing_key"], "left_anti"
        )

    key_in_schema = cfg.key in df.columns
    if key_in_schema:
        # unfiltered copy: size partitions from parquet footers; anything
        # else is left to AQE (no count scan either way)
        rows = None
        if src_path is not None and not include.filter \
                and not include.limit and not top_up:
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

    # count during the write (observed metric, A6-style) — not with a
    # read-back scan of the target
    obs = Observation()
    out = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    if top_up:
        # Appending to the path the anti-join is also reading (self-read)
        # is unsafe on plain parquet, but materializing the delta on the
        # driver caps the top-up at driver memory. Instead write the
        # delta to a sibling temp dir executor-side (the job finishes —
        # and its reads of dst complete — before any file moves), then
        # move the data files in: the plain-parquet equivalent of MERGE
        # whenNotMatchedInsert (the append path of
        # hummingbird_spark/commit.py).
        tmp = dst_path + "__append_tmp"
        _with_bloom(out.write).mode("overwrite").parquet(tmp)
        n = obs.get["rows"]
        _adopt_parquet_files(spark, tmp, dst_path, move=n > 0)
    else:
        def write(stage: str) -> None:
            _with_bloom(out.write).parquet(stage)
            put_schema(spark, stage, out.schema)

        publish(spark, dst_path, write)
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
    expanded = resolve_includes(spark, cfg)
    if cfg.drop and not resume:
        # Drop target namespaces first (migrator.go:155-193), scoped to
        # tables we are about to write: a drop run killed midway leaves
        # its uncopied tables absent, so `resume` recopies them instead
        # of skipping stale ones.
        for inc in expanded:
            fs, hpath = _fs(spark, _table_path(cfg.target,
                                               inc.target_namespace))
            fs.delete(hpath, True)

    report = MigrationReport()
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
