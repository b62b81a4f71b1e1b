"""CDC decode + merge-apply (SURVEY §2.9 ST1-ST9) — the heart of the
reference, re-expressed for Structured Streaming.

Reference pipeline: tailable oplog cursor -> spool -> ordered BulkWrite
replay (oplog_streamer.go:112-323, oplog_utils.go:88-281). Spark pipeline:
`readStream(oplog frame) -> decode to write models -> per-key ordered fold
-> foreachBatch merge into target` with the checkpoint dir carrying
offset state (replaces workspace.go:276-309's per-shard resume
timestamps).

Write-model semantics (GetWriteModels, oplog_utils.go:208-281):
  op 'i'            -> insert document (o)
  op 'd'            -> delete-one by key (o)
  op 'n'            -> no-op
  op 'c'/applyOps   -> unnest members, recurse
  op 'u', o.diff.u/.i (v2) -> $set those fields
  op 'u', o.diff.d  (v2)   -> $unset those fields
  op 'u', o.$set/$unset (v4) -> same
  op 'u' otherwise  -> full-document replace

Ordering discipline (ST6): the reference preserves per-document mutation
order with ordered bulks. Here each micro-batch is folded per key in
(ts, seq) order — an `applyInPandas` grouped fold, the one genuinely
stateful custom operator in the engine (everything around it is Column
expressions). Batches are serialized by the streaming engine, so
intra-batch fold + inter-batch serialization reproduces converged state.
A patch whose key is absent from the target is a no-op (Mongo UpdateOne
without upsert), and re-applying any prefix of the log is idempotent —
replays after checkpoint recovery are safe (ST7).

Scale note: the fold shuffles only the micro-batch (bounded, e.g. 1k-100k
events), never the target; the merge joins models against the target on
its key. On plain parquet the merged table is rewritten per batch (tests);
on a production lakehouse the identical models frame feeds Delta/Iceberg
MERGE INTO, which prunes to matching files.
"""

from __future__ import annotations

import json
import os

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from hummingbird_spark.commit import _fs, publish, recover
from hummingbird_spark.streaming.oplog import (
    namespace_match_column,
    skip_oplog,
    unnest_apply_ops,
)

# The oplog frame (Oplog struct, oplog_streamer.go:48-57). ts carries the
# BSON-Timestamp ordering role; seq is the increment/tiebreak.
OPLOG_SCHEMA = T.StructType([
    T.StructField("ts", T.TimestampType()),
    T.StructField("seq", T.LongType()),
    T.StructField("ns", T.StringType()),
    T.StructField("op", T.StringType()),
    T.StructField("o", T.StringType()),    # JSON: doc / update spec / key
    T.StructField("o2", T.StringType()),   # JSON: update match key
])

_MODEL_SCHEMA = T.StructType([
    T.StructField("ns", T.StringType()),
    T.StructField("key", T.StringType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("seq", T.LongType()),
    T.StructField("kind", T.StringType()),       # replace|patch|delete
    T.StructField("doc", T.StringType()),        # JSON for replace
    T.StructField("set_json", T.StringType()),   # JSON for patch sets
    T.StructField("unset_json", T.StringType()),  # JSON for patch unsets
])

_REDUCED_SCHEMA = T.StructType([
    T.StructField("ns", T.StringType()),
    T.StructField("key", T.StringType()),
    T.StructField("action", T.StringType()),      # replace|patch|delete
    T.StructField("doc", T.StringType()),
    T.StructField("set_json", T.StringType()),
    T.StructField("unset_json", T.StringType()),
])


def decode_write_models(
    oplogs: DataFrame, includes: list[str] | None = None,
    ejson: bool = False,
) -> DataFrame:
    """Oplog frame -> write-model frame. Pure Column expressions
    (filters, JSON path extraction) — streaming-safe, no state.

    `ejson=True` normalizes MongoDB extended-JSON type wrappers
    ({"$numberLong": ...}, {"$date": ...}, {"$oid": ...}) in o/o2
    before extraction — the transport shape a JSON-encoded oplog or
    change stream produces (the reference consumes native BSON and
    never sees wrappers; see functions/ejson.py)."""
    df = unnest_apply_ops(skip_oplog(oplogs, includes))
    if ejson:
        from hummingbird_spark.functions.ejson import normalize_extended_json

        df = df.withColumn("o", normalize_extended_json("o")) \
               .withColumn("o2", normalize_extended_json("o2"))
    # transaction members resolved their own ns during unnesting —
    # re-apply include routing to them (outer $cmd ns already passed)
    df = df.filter(
        namespace_match_column(F.col("resolved_ns"), includes)
    ).filter(F.col("op").isin("i", "u", "d"))

    # Extract every needed fragment with json_tuple: ONE parse of o (and
    # of o2 / diff when present) per event. The same logic written as
    # get_json_object expressions re-parses o ~10x per update event
    # (each CASE branch re-evaluates its own parse) — measured ~45 µs/row
    # in the decode projection; this is the CDC hot path at scale.
    # json_tuple is a generator, one per select, hence the chain.
    df = df.select(
        "resolved_ns", "ts", "seq", "op", "o", "o2",
        F.json_tuple("o", "_id", "diff", "$set", "$unset")
        .alias("__o_id", "__diff", "__v4_set", "__v4_unset"),
    ).select(
        "*", F.json_tuple("o2", "_id").alias("__o2_id")
    ).select(
        "*", F.json_tuple("__diff", "u", "i", "d")
        .alias("__diff_u", "__diff_i", "__diff_d"),
    )

    key = F.coalesce("__o2_id", "__o_id")
    diff_set = F.coalesce("__diff_u", "__diff_i")
    diff_unset = F.col("__diff_d")
    v4_set = F.col("__v4_set")
    v4_unset = F.col("__v4_unset")
    has_diff = F.col("__diff").isNotNull()
    has_v4 = v4_set.isNotNull() | v4_unset.isNotNull()

    # v2 diff applies only the FIRST of u/i, else d (oplog_utils.go:250-263)
    patch_set = F.when(has_diff, diff_set).otherwise(v4_set)
    patch_unset = F.when(
        has_diff, F.when(diff_set.isNull(), diff_unset)
    ).otherwise(v4_unset)

    kind = (
        F.when(F.col("op") == "d", F.lit("delete"))
        .when(F.col("op") == "i", F.lit("replace"))
        .when(has_diff | has_v4, F.lit("patch"))
        .otherwise(F.lit("replace"))  # full-document replace (u)
    )
    return df.select(
        F.col("resolved_ns").alias("ns"),
        key.alias("key"),
        F.col("ts"),
        F.col("seq"),
        kind.alias("kind"),
        F.when(kind == "replace", F.col("o")).alias("doc"),
        F.when(kind == "patch", patch_set).alias("set_json"),
        F.when(kind == "patch", patch_unset).alias("unset_json"),
    ).filter(F.col("key").isNotNull())


class _KeyFold:
    """Sequential fold state for one (ns, key)'s ordered events —
    GetWriteModels + ordered-bulk semantics collapsed to one effective
    action per key."""

    __slots__ = ("ns", "key", "mode", "doc", "sets", "unsets")

    def __init__(self, ns: str, key: str):
        self.ns, self.key = ns, key
        self.mode: str | None = None  # None = patch-on-existing
        self.doc: dict = {}
        self.sets: dict = {}
        self.unsets: list[str] = []

    def step(self, kind, doc, set_json, unset_json) -> None:
        if kind == "delete":
            self.mode, self.doc, self.sets, self.unsets = "delete", {}, {}, []
        elif kind == "replace":
            self.mode, self.doc = "replace", json.loads(doc)
            self.sets, self.unsets = {}, []
        else:  # patch
            s = json.loads(set_json) if set_json else {}
            u = list(json.loads(unset_json)) if unset_json else []
            if self.mode == "delete":
                return  # UpdateOne matches nothing -> no-op
            if self.mode == "replace":
                self.doc.update(s)
                for k in u:
                    self.doc.pop(k, None)
            else:
                self.sets.update(s)
                # Prior unsets overridden by this event's sets; then this
                # event's unsets apply LAST (within one event the declared
                # order is sets-then-unsets, matching apply_cdc_batch and
                # the ordered replayer), so a same-event set+unset of one
                # field nets to the unset, not a cancel.
                self.unsets = [k for k in self.unsets if k not in s]
                for k in u:
                    self.sets.pop(k, None)
                    if k not in self.unsets:
                        self.unsets.append(k)

    def finish(self) -> tuple:
        if self.mode == "delete":
            return (self.ns, self.key, "delete", None, None, None)
        if self.mode == "replace":
            return (self.ns, self.key, "replace", json.dumps(self.doc),
                    None, None)
        return (self.ns, self.key, "patch", None,
                json.dumps(self.sets) if self.sets else None,
                json.dumps(dict.fromkeys(self.unsets, 1))
                if self.unsets else None)


_REDUCED_COLS = ["ns", "key", "action", "doc", "set_json", "unset_json"]


def _fold_partition(batches):
    """mapInPandas kernel: fold a whole hash partition in one pass.
    The partition is repartitioned on (ns, key) and sorted by
    (ns, key, ts, seq), so each key's events are contiguous — but may
    SPAN Arrow batches, hence the carry across the iterator."""
    carry: _KeyFold | None = None
    for pdf in batches:
        out = []
        for r in pdf.itertuples(index=False):
            if carry is None or (r.ns, r.key) != (carry.ns, carry.key):
                if carry is not None:
                    out.append(carry.finish())
                carry = _KeyFold(r.ns, r.key)
            carry.step(r.kind, r.doc, r.set_json, r.unset_json)
        if out:
            yield pd.DataFrame(out, columns=_REDUCED_COLS)
    if carry is not None:
        yield pd.DataFrame([carry.finish()], columns=_REDUCED_COLS)


def reduce_write_models(models: DataFrame) -> DataFrame:
    """Per-key ordered fold (ST6): many events per key -> one effective
    write model. One shuffle on (ns, key), a partition-local sort, then
    a single Arrow-batched pass per partition (NOT per-group
    applyInPandas — per-key pandas invocations cost ~1-2 ms each, which
    dominated the apply path at 5k keys/batch; the partition fold is one
    Python pass total)."""
    sorted_models = models.repartition(F.col("ns"), F.col("key")) \
        .sortWithinPartitions("ns", "key", "ts", "seq")
    return sorted_models.mapInPandas(_fold_partition, schema=_REDUCED_SCHEMA)


def _empty_target(spark: SparkSession, schema: T.StructType) -> DataFrame:
    return spark.createDataFrame([], schema)


def _py_to_spark_type(v) -> T.DataType:
    if isinstance(v, bool):
        return T.BooleanType()
    if isinstance(v, int):
        return T.LongType()
    if isinstance(v, float):
        return T.DoubleType()
    return T.StringType()  # str / nested / mixed -> string passthrough


def evolve_schema(
    models: DataFrame, schema: T.StructType, sample: int = 200
) -> T.StructType:
    """Schema evolution for the schemaless source (SURVEY §1.2): the
    reference copies BSON verbatim, so a document may carry fields the
    target has never seen. Scan the batch's models for JSON keys
    outside `schema` and append them as nullable columns (type
    inferred from a bounded driver-side sample of values; conflicting
    or nested types degrade to string — the documented escape hatch).

    Cost shape: one distinct-keys aggregation over the micro-batch
    (bounded), plus `sample` rows collected for typing; never touches
    the target table. Existing columns NEVER change type — evolution
    is strictly additive, like parquet mergeSchema / Delta autoMerge."""
    known = {f.name for f in schema.fields}
    keys = (
        models.select(F.explode(F.coalesce(
            F.json_object_keys("doc"),
            F.json_object_keys("set_json"),
        )).alias("k"))
        .filter(~F.col("k").isin(*known))
        .distinct()
    )
    new_keys = [r.k for r in keys.collect()]
    if not new_keys:
        return schema
    docs = [
        r[0]
        for r in models.select(F.coalesce("doc", "set_json"))
        .filter(F.coalesce("doc", "set_json").isNotNull())
        .limit(sample).collect()
    ]
    inferred: dict[str, T.DataType] = {}
    for d in docs:
        try:
            obj = json.loads(d)
        except (ValueError, TypeError):
            continue
        for k in new_keys:
            if k in obj and obj[k] is not None:
                t = _py_to_spark_type(obj[k])
                prev = inferred.get(k)
                if prev is None:
                    inferred[k] = t
                elif prev != t:
                    inferred[k] = T.StringType()  # conflict -> string
    fields = list(schema.fields) + [
        T.StructField(k, inferred.get(k, T.StringType()), True)
        for k in new_keys
    ]
    return T.StructType(fields)


def _retain_target_columns(
    schema: T.StructType, target: DataFrame
) -> T.StructType:
    """Union the declared schema with columns already present in the
    target. A rewrite-style merge projects exactly `schema.fields`, so
    without this a batch that doesn't mention a previously-evolved
    field would silently drop that column from every row it rewrites —
    data loss, not evolution. Retention is unconditional (not gated on
    evolve=True): once a target has a column, no CDC batch may narrow
    it away; deliberate column removal is a DDL operation, not a merge
    side effect."""
    known = {f.name for f in schema.fields}
    extra = [f for f in target.schema.fields
             if f.name not in known and f.name != "__bucket"]
    return T.StructType(list(schema.fields) + extra) if extra else schema


def apply_cdc_batch(
    spark: SparkSession,
    reduced: DataFrame,
    target_path: str,
    key: str,
    schema: T.StructType,
    evolve: bool = False,
) -> ApplyStats:
    """Merge one micro-batch's reduced write models into a parquet
    target — the plain-parquet equivalent of
    `MERGE INTO target USING models ON target.key = models.key
       WHEN MATCHED AND action='delete' THEN DELETE
       WHEN MATCHED AND action='replace' THEN UPDATE SET *
       WHEN MATCHED AND action='patch'  THEN UPDATE SET <set/unset fields>
       WHEN NOT MATCHED AND action IN ('replace','patch-as-noop') THEN INSERT`
    (BulkWriteOplogs semantics, oplog_utils.go:110-197).

    `evolve=True` widens the schema with fields first seen in this
    batch (schemaless-source parity — see evolve_schema); pre-existing
    target rows carry NULL for the new columns. Columns the target
    already carries are always retained, whatever this batch mentions
    (see _retain_target_columns).
    """
    # a publish a crash interrupted lands whole or not at all before
    # the read; the replayed batch then re-applies idempotently (ST7)
    recover(spark, target_path)
    target = None
    if os.path.exists(os.path.join(target_path, "_SUCCESS")):
        target = spark.read.parquet(target_path)
        schema = _retain_target_columns(schema, target)
    if evolve:
        schema = evolve_schema(reduced, schema)

    if target is not None:
        missing = [f for f in schema.fields if f.name not in target.columns]
        for f in missing:
            target = target.withColumn(
                f.name, F.lit(None).cast(f.dataType)
            )
    else:
        target = _empty_target(spark, schema)

    # no cache: the flat merge reads the models exactly once (the
    # bucketed variant caches because it reuses them for bucket listing)
    m = reduced.withColumnRenamed("key", "__key")
    obs = Observation()
    result = _merge_survivors(target, m, key, schema, observation=obs)

    def write(stage: str) -> ApplyStats:
        result.write.parquet(stage)
        return _stats_or_recompute(obs, m, target, key)  # pre-publish

    return publish(spark, target_path, write)


@dataclass(frozen=True)
class ApplyStats:
    """Per-batch apply counters — BulkWriteOplogsResult parity
    (oplog_utils.go:79-85): how the batch's write models landed against
    the target. `noops` are patches addressed at absent keys (UpdateOne
    matching nothing, counted-but-skipped in the reference)."""
    inserted: int
    updated: int
    deleted: int
    noops: int

    @property
    def total(self) -> int:
        return self.inserted + self.updated + self.deleted + self.noops


def _observe_merge(joined: DataFrame, obs, tkey) -> DataFrame:
    """Attach apply counters to the merge join — a CollectMetrics node
    on rows already flowing through the plan, not an extra pass."""
    is_hit = tkey.isNotNull()
    cnt = lambda c: F.coalesce(  # noqa: E731
        F.sum(F.when(c, 1).otherwise(0)), F.lit(0))
    return joined.observe(
        obs,
        cnt((F.col("action") == "replace") & ~is_hit).alias("inserted"),
        cnt(F.col("action").isin("replace", "patch")
            & is_hit).alias("updated"),
        cnt((F.col("action") == "delete") & is_hit).alias("deleted"),
        cnt(F.col("action").isin("patch", "delete")
            & ~is_hit).alias("noops"),
    )


def _stats_or_recompute(
    obs: Observation, m: DataFrame, target: DataFrame, key: str
) -> ApplyStats:
    """Read the observed counters; if the merge result was runtime-empty
    AQE's empty-relation propagation drops the CollectMetrics node and
    the observation never fires — recompute exactly from the models vs
    the PRE-swap target (callers invoke this before replacing files).
    The recompute is a key-column-only join, and the empty-result case
    it serves is rare (a batch deleting everything it touches)."""
    try:
        return ApplyStats(**obs.get)
    except Exception:
        hit = F.col("__tk").isNotNull()
        row = (
            m.select("__key", "action")
            .join(
                target.select(F.col(key).cast("string").alias("__tk")),
                F.col("__key") == F.col("__tk"), "left",
            )
            .agg(
                F.coalesce(F.sum(F.when(
                    (F.col("action") == "replace") & ~hit, 1
                ).otherwise(0)), F.lit(0)).alias("inserted"),
                F.coalesce(F.sum(F.when(
                    F.col("action").isin("replace", "patch") & hit, 1
                ).otherwise(0)), F.lit(0)).alias("updated"),
                F.coalesce(F.sum(F.when(
                    (F.col("action") == "delete") & hit, 1
                ).otherwise(0)), F.lit(0)).alias("deleted"),
                F.coalesce(F.sum(F.when(
                    F.col("action").isin("patch", "delete") & ~hit, 1
                ).otherwise(0)), F.lit(0)).alias("noops"),
            )
            .first()
        )
        return ApplyStats(row.inserted, row.updated, row.deleted, row.noops)


def _merge_survivors(
    target: DataFrame, m: DataFrame, key: str, schema: T.StructType,
    observation=None,
) -> DataFrame:
    """The MERGE body shared by flat and bucketed apply: full-outer join
    target rows with models (`m`: __key/action/doc/set_json/unset_json),
    emit surviving rows with patch/replace semantics applied.

    Parse each model's JSON exactly once per row: the key arrays and
    the typed structs are materialized in their own select (a separate
    Project referenced by every field expression below — CollapseProject
    keeps multi-referenced aliases, so nothing re-parses per field; the
    naive per-field get_json_object form costs ~4 parses x n_fields
    per row, which dominates merge CPU on wide schemas)."""
    tkey = F.col(key).cast("string")
    joined = target.join(
        m, tkey == F.col("__key"), "full_outer"
    ).select(
        "*",
        F.json_object_keys("set_json").alias("__set_keys"),
        F.json_object_keys("unset_json").alias("__unset_keys"),
        F.from_json(F.col("doc"), schema).alias("__doc"),
        F.from_json(F.col("set_json"), schema).alias("__set"),
    )
    if observation is not None:
        joined = _observe_merge(joined, observation, tkey)

    # survivor rows: everything except deletes; patches on missing keys
    # are no-ops (dropped); replaces win over existing rows.
    patched_cols = []
    for f in schema.fields:
        c = f.name
        set_has = F.coalesce(
            F.array_contains("__set_keys", c), F.lit(False)
        )
        unset_has = F.coalesce(
            F.array_contains("__unset_keys", c), F.lit(False)
        )
        patched = (
            F.when(unset_has, F.lit(None).cast(f.dataType))
            .when(set_has, F.col("__set")[c])
            .otherwise(F.col(c))
        )
        value = (
            F.when(F.col("action") == "replace", F.col("__doc")[c])
            .when(F.col("action") == "patch", patched)
            .otherwise(F.col(c))
        )
        patched_cols.append(value.alias(c))

    return (
        joined.filter(
            # keep: untouched target rows, replaced rows, patched existing
            (F.col("action").isNull())
            | (F.col("action") == "replace")
            | ((F.col("action") == "patch") & tkey.isNotNull())
        )
        .select(*patched_cols)
    )


def _bucket_col(key_col: F.Column, num_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64(key_col.cast("string")), F.lit(num_buckets))


def apply_cdc_batch_bucketed(
    spark: SparkSession,
    reduced: DataFrame,
    target_path: str,
    key: str,
    schema: T.StructType,
    num_buckets: int = 64,
    evolve: bool = False,
) -> ApplyStats:
    """Partition-pruned MERGE on plain parquet — the scale path the flat
    `apply_cdc_batch` docstring promises from a lakehouse, built with
    nothing but hash-bucket partitioning:

      - the target is laid out as `__bucket=<pmod(xxhash64(key), N)>/`
        directories (hive-style partitioning),
      - each batch computes the buckets its keys hash into, reads ONLY
        those partitions (Catalyst partition pruning on the scan),
      - and rewrites ONLY those directories (dynamic partition
        overwrite) — untouched buckets' files are never read or written.

    A batch touching k keys costs O(k/N of the table) instead of O(table)
    per batch — the same file-pruning shape Delta/Iceberg MERGE INTO
    achieves with min/max stats (oplog_utils.go:110-197 is the semantics
    source; this is its 100-TB-viable parquet form).

    `evolve=True`: new fields widen the schema additively. Because only
    TOUCHED buckets are rewritten, bucket directories legitimately hold
    files of different (compatible) widths afterwards — reads go
    through parquet mergeSchema, which unions them and nulls the gaps
    (`read_cdc_target` does this; a production lakehouse would carry
    the union schema in table metadata instead of re-reading footers).
    Columns already present in the touched buckets are retained whether
    or not this batch mentions them (see _retain_target_columns); the
    evolve widening runs AFTER retention so a field's established
    target type wins over this batch's re-inference."""
    recover(spark, target_path)
    m = (
        reduced.withColumnRenamed("key", "__key")
        .withColumn("__bucket", _bucket_col(F.col("__key"), num_buckets))
        .cache()
    )
    try:
        if not os.path.exists(os.path.join(target_path, "_SUCCESS")):
            # first batch: initialize the bucketed layout from scratch.
            # __bucket is derived from the MERGED rows' key (computing it
            # from the pre-merge join columns reads the null target side
            # for inserts -> every insert lands in one bucket).
            if evolve:
                schema = evolve_schema(reduced, schema)
            obs = Observation()
            result = _merge_survivors(
                _empty_target(spark, schema), m, key, schema,
                observation=obs,
            ).withColumn("__bucket", _bucket_col(F.col(key), num_buckets))
            # co-locate each bucket into one task: one file per bucket
            # dir instead of one per (upstream task x bucket) — tiny
            # files would otherwise compound every batch
            publish(spark, target_path,
                    result.repartition(num_buckets, "__bucket").write
                    .partitionBy("__bucket").parquet)
            return _stats_or_recompute(
                obs, m, _empty_target(spark, schema), key)

        touched = [r[0] for r in m.select("__bucket").distinct().collect()]
        if not touched:
            return ApplyStats(0, 0, 0, 0)
        target = (
            spark.read.option("mergeSchema", "true").parquet(target_path)
            .filter(F.col("__bucket").isin(touched))  # partition pruning
            .drop("__bucket")
        )
        schema = _retain_target_columns(schema, target)
        if evolve:
            schema = evolve_schema(reduced, schema)
        for f in schema.fields:
            if f.name not in target.columns:
                target = target.withColumn(
                    f.name, F.lit(None).cast(f.dataType)
                )
        obs = Observation()
        result = _merge_survivors(target, m, key, schema,
                                  observation=obs) \
            .withColumn("__bucket", _bucket_col(F.col(key), num_buckets))
        # materialize to the stage (the plan READS the dirs we're about
        # to replace), then publish exactly the touched partitions —
        # incl. ones merging to empty, which partitionOverwriteMode=
        # dynamic would leave stale (it only overwrites partitions
        # present in the written data).
        def write(stage: str) -> ApplyStats:
            # one write task per touched bucket (see the seed write)
            result.repartition(max(len(touched), 1), "__bucket").write \
                .partitionBy("__bucket").parquet(stage)
            return _stats_or_recompute(obs, m, target, key)  # pre-publish

        return publish(spark, target_path, write,
                       partitions=[f"__bucket={b}" for b in touched])
    finally:
        m.unpersist()


def read_cdc_target(
    spark: SparkSession, target_path: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Read a CDC target written by either apply variant, hiding the
    bucketing layout column. `schema` covers the fully-emptied bucketed
    table (every partition dir removed -> nothing to infer from).
    mergeSchema unions file schemas across buckets rewritten before vs
    after a schema evolution (nulls fill the gaps)."""
    try:
        df = spark.read.option("mergeSchema", "true").parquet(target_path)
    except Exception:
        if schema is not None and _holds_no_data(spark, target_path):
            return _empty_target(spark, schema)
        raise
    return df.drop("__bucket") if "__bucket" in df.columns else df


def _holds_no_data(spark: SparkSession, path: str) -> bool:
    """True when `path` exists and no file under it is a data file
    (Spark skips names starting with `_` or `.`) — one listing."""
    fs, hpath = _fs(spark, path)
    if not fs.exists(hpath):
        return False
    files = fs.listFiles(hpath, True)
    while files.hasNext():
        if not files.next().getPath().getName().startswith(("_", ".")):
            return False
    return True


def start_cdc_stream(
    spark: SparkSession,
    oplog_dir: str,
    target_root: str,
    schemas: dict[str, T.StructType],
    includes: list[str] | None = None,
    key: str = "_id",
    checkpoint: str | None = None,
    trigger: dict | None = None,
    num_buckets: int | None = None,
    evolve: bool = False,
    ejson: bool = False,
    on_stats=None,
) -> StreamingQuery:
    """The three-phase CDC pipeline (ST2) collapsed to one streaming
    query: a file-source over JSON oplog frames (the test stand-in for a
    change-stream connector), decode, fold, merge per namespace.
    Checkpoint offsets replace the reference's saved per-shard resume
    timestamps (ST1); `startingOffsets` semantics come free from the file
    source reading only unprocessed files.

    `num_buckets` switches the sink to the partition-pruned bucketed
    merge (`apply_cdc_batch_bucketed`) — the layout to use when the
    target is large relative to each micro-batch. `evolve` lets
    documents carrying never-seen fields widen the target additively
    per batch (schemaless-source parity — see evolve_schema). `ejson`
    strips extended-JSON type wrappers during decode (JSON-encoded
    change streams; see functions/ejson.py). `on_stats(ns, batch_id,
    stats)` receives each namespace's ApplyStats per micro-batch — the
    reference's per-bulk-write counter log line (A6/ST8).
    """
    stream = (
        spark.readStream.schema(OPLOG_SCHEMA)
        .option("maxFilesPerTrigger", 10)
        .json(oplog_dir)
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        models = decode_write_models(batch_df, includes, ejson=ejson)
        reduced = reduce_write_models(models).cache()
        try:
            for ns in [r.ns for r in reduced.select("ns").distinct().collect()]:
                if ns not in schemas:
                    continue  # DDL-only / unconfigured namespace (ST9: log, don't replay)
                coll = ns.split(".", 1)[-1]
                path = os.path.join(target_root, f"{coll}.parquet")
                ns_models = reduced.filter(F.col("ns") == ns)
                if num_buckets:
                    stats = apply_cdc_batch_bucketed(
                        spark, ns_models, path, key, schemas[ns],
                        num_buckets=num_buckets, evolve=evolve,
                    )
                else:
                    stats = apply_cdc_batch(spark, ns_models, path, key,
                                            schemas[ns], evolve=evolve)
                if on_stats is not None:
                    on_stats(ns, batch_id, stats)
        finally:
            reduced.unpersist()

    q = (
        stream.writeStream.foreachBatch(_apply)
        .option(
            "checkpointLocation",
            checkpoint or os.path.join(target_root, "_checkpoint"),
        )
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
    return q
