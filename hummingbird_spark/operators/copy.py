"""Batch copy pipeline — the reference's data-copy phase re-expressed as
one declarative Spark plan per namespace (SURVEY §3.1 steps 1-5).

Reference flow: enumerate includes -> split into _id-range tasks ->
workers cursor-copy each range with the include filter conjoined
(data_copier.go:66-113, task.go:54-105). Spark flow: per table,
`read -> filter -> mask -> limit -> rename -> range-partitioned write`.
The per-range tasks, stragglers and resume bookkeeping collapse into
Spark's scheduler + an idempotent write. The reference's pool of
`workers` (data_copier.go:109-113) becomes `side_by_side`: up to
`cfg.workers` namespaces are copied (and compared) at once, each from
its own driver thread, so one namespace's driver latency (planning,
listing, publishing) overlaps another's Spark jobs.

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
import threading
from concurrent.futures import Future, ThreadPoolExecutor
from contextlib import closing
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from hummingbird_spark.commit import (
    SCHEMA_RECORD, _fs, publish, put_schema, read_published, recover, widen,
)
from hummingbird_spark.config import ConfigError, Include, MigrationConfig
from hummingbird_spark.filters import mongo_filter_to_column
from hummingbird_spark.functions.masks import mask_dataframe
from hummingbird_spark.operators.split import partition_for_copy
from hummingbird_spark.sources.catalog import (
    expand_namespaces, split_namespace, table_path,
)
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


def _source_path(spark: SparkSession, root: str, namespace: str) -> str:
    """The source table of `namespace` under `root`: the first of
    _SOURCE_EXTS that exists, else the parquet path."""
    base = table_path(root, namespace)[: -len(".parquet")]
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


def side_by_side(spark: SparkSession, workers: int, items: list, fn,
                 lane=None):
    """Run fn(item) for every item on a pool of at most `workers` driver
    threads, and yield (item, Future of fn(item)) for each item that
    starts, in item order, once it has started. Items with the same
    `lane(item)` run one after another, in item order, in one thread;
    without `lane` each item is its own lane. Each thread runs with the
    caller's Spark local properties (job group, scheduler pool) as they
    were when the iteration began. After a failure no item that has not
    started starts (nor is yielded); the iteration ends only after every
    started item has ended."""
    lanes: dict = {}
    for i, item in enumerate(items):
        lanes.setdefault(i if lane is None else lane(item), []).append(i)
    if not lanes:
        return
    futures = [Future() for _ in items]
    decided = [threading.Event() for _ in items]
    stop = threading.Event()

    def run(indices):
        for i in indices:
            if stop.is_set():
                futures[i].cancel()
            else:
                futures[i].set_running_or_notify_cancel()
            decided[i].set()
            if futures[i].cancelled():
                continue
            try:
                futures[i].set_result(fn(items[i]))
            except BaseException as e:  # noqa: BLE001 -- handed to the caller
                stop.set()
                futures[i].set_exception(e)

    with ThreadPoolExecutor(min(workers, len(lanes))) as pool:
        try:
            for indices in lanes.values():
                # one wrap per lane: each gets its own copy of the
                # caller's local properties, which its SQL executions
                # then mutate. Without pinned threads
                # (PYSPARK_PIN_THREAD=false) local properties do not
                # follow Python threads, and the call returns the
                # session itself: run as is.
                wrap = inheritable_thread_target(spark)
                pool.submit(run if wrap is spark else wrap(run), indices)
            for i, item in enumerate(items):
                decided[i].wait()
                if not futures[i].cancelled():
                    yield item, futures[i]
        finally:
            stop.set()


def copy_table(
    spark: SparkSession,
    cfg: MigrationConfig,
    include: Include,
    resume: bool = False,
) -> CopyResult:
    """Copy one namespace source->target. Modes:
      - no target: publish the copy with its schema record
      - resume + target exists: skip (completed-task skip, splitter.go:33-35)
      - target exists: idempotent top-up — add only rows whose key is
        missing (dup-key reconciliation J1, task.go:88-101), recorded
        with the widened schema (commit.widen: the target's fields,
        then the delta's new ones).
    Both write one stage and publish it (commit.publish): a first copy
    replaces the whole path; a top-up adds the stage's part files
    beside the live ones and replaces the schema record, so a killed
    top-up leaves the target as it was or wholly topped up. The target
    exists when commit.read_published finds it, after
    `recover` has settled an interrupted publish: a copy killed before
    its commit point left no target, one killed after it a whole one.
    `cfg.drop` acts in run_migration, which deletes every target before
    the first copy (DropCollections, migrator.go:155-193); so includes
    that share a target fill it in include order, each later one
    topping up the earlier ones, with or without drop.
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
    dst_path = table_path(cfg.target, include.target_namespace)
    df = transform_for_include(src_df, include)

    recover(spark, dst_path)
    existing = read_published(spark, dst_path)
    if resume and existing is not None:
        return CopyResult(include.namespace, include.target_namespace, 0,
                          skipped=True)

    top_up = existing is not None
    if top_up:
        fs, hpath = _fs(spark, dst_path)
        if fs.getFileStatus(hpath).isFile():
            # the top-up adds part files to a directory; a target that
            # is one parquet file has none to add to
            raise ValueError(
                f"cannot top up {dst_path}: it is one parquet file, not a "
                f"directory; copy with drop to replace it")
        target_schema = existing.schema
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
    schema = widen(target_schema, out.schema) if top_up else out.schema

    def write(stage: str) -> None:
        # the stage is a sibling of the target, so the top-up's
        # anti-join reads the live target while the delta is written
        _with_bloom(out.write).parquet(stage)
        put_schema(spark, stage, schema)

    def added(stage: str) -> list[str]:
        """A top-up's items: the delta's part files, new beside the
        live ones (their names embed the write's UUID), and the widened
        schema record in place of the old one; none for an empty
        delta. The plain-parquet MERGE whenNotMatchedInsert."""
        if obs.get["rows"] == 0:
            return []
        fs, hpath = _fs(spark, stage)
        return [name for name in (s.getPath().getName()
                                  for s in fs.listStatus(hpath))
                if not name.startswith(("_", "."))] + [SCHEMA_RECORD]

    publish(spark, dst_path, write, partitions=added if top_up else None)
    return CopyResult(include.namespace, include.target_namespace,
                      obs.get["rows"])


def run_migration(
    spark: SparkSession, cfg: MigrationConfig, resume: bool = False,
    tracker=None,
) -> MigrationReport:
    """The `-start` data phase (start.go:78-82): resolve includes against
    the source catalog (wildcards expand, data_copier.go:78-102), then
    copy each namespace, up to `cfg.workers` at once (`side_by_side`;
    the reference's copy workers, data_copier.go:109-113). Each copy's
    Spark jobs run in the caller's job group. Includes that resolve to
    the same target table are copied one after another, in include
    order, so each target has one writer at a time (commit.py) and the
    result is the serial one.

    The report lists the results in include order. The tracker hears of
    each namespace from the calling thread only, one at a time, in
    include order: `start(ns)` when the call begins waiting on that
    copy, then `complete(ns, rows)` or `fail(ns)`. After a failure no
    copy that has not started starts (its namespace stays `added`), and
    the copies already running finish and publish; once every started
    copy has ended, the first failure in include order is raised.
    """
    expanded = resolve_includes(spark, cfg)
    if cfg.drop and not resume:
        # Drop target namespaces first (migrator.go:155-193), scoped to
        # tables we are about to write: a drop run killed midway leaves
        # its uncopied tables absent, so `resume` recopies them instead
        # of skipping stale ones.
        for inc in expanded:
            fs, hpath = _fs(spark, table_path(cfg.target,
                                              inc.target_namespace))
            fs.delete(hpath, True)

    report, failure = MigrationReport(), None
    if tracker is not None:  # web.ProgressTracker status feed (A4)
        tracker.add(*[inc.namespace for inc in expanded])
    copies = side_by_side(
        spark, cfg.workers, expanded,
        lambda inc: copy_table(spark, cfg, inc, resume=resume),
        lane=lambda inc: table_path(cfg.target, inc.target_namespace))
    with closing(copies):
        for inc, done in copies:
            if tracker is not None:
                tracker.start(inc.namespace)
            try:
                result = done.result()
            except Exception as e:  # noqa: BLE001 -- raised below
                if tracker is not None:
                    tracker.fail(inc.namespace)
                failure = failure or e
                continue
            report.results.append(result)
            if tracker is not None:
                tracker.complete(inc.namespace, result.rows_copied)
    if failure is not None:
        raise failure
    return report
