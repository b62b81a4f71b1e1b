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
(ts, seq, idx) order — idx being an op's position inside its applyOps
transaction — by a declarative `aggregate` over the key's collected
events. Decode, fold and merge are all Catalyst expressions: a batch
scans its source once, parses each event's o/o2 once, and never leaves
the JVM. Batches are serialized by the streaming engine, so intra-batch
fold + inter-batch serialization reproduces converged state.
A patch whose key is absent from the target is a no-op (Mongo UpdateOne
without upsert), and re-applying any prefix of the log is idempotent —
replays after checkpoint recovery are safe (ST7).

A micro-batch's shape (start_cdc_stream): decode is part of the
streaming plan, analysed once per query, and `foreachBatch` receives the
decoded models; only the fold and the merge are built per batch. With
one target the merge's write job chain scans the source, decodes, folds
and merges: a flat batch is 3 Spark jobs in 5 stages, with no listing
job and no cache, and the fold's shuffle on the key serves the merge's
join; a batch that holds no model for the target publishes nothing.
With more than one target the folded models are cached and their
namespaces listed once, so idle targets are not even read.

Scale note: the fold shuffles only the micro-batch (bounded, e.g. 1k-100k
events), never the target; the merge joins models against the target on
its key. There is one merge, `apply_cdc_batch`, with two layouts: a flat
target is rewritten per batch (tests, small targets); a bucketed one
(`num_buckets`) reads and rewrites only the hash buckets the batch's keys
fall in. On a production lakehouse the identical models frame feeds
Delta/Iceberg MERGE INTO, which prunes to matching files.
"""

from __future__ import annotations

import os

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from hummingbird_spark.commit import (
    SCHEMA_RECORD, _fs, publish, put_schema, read_published, recover, widen,
)
from hummingbird_spark.sources.catalog import table_path
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

_DOC = "map<string,variant>"  # a parsed JSON object
_NO_DOC = f"CAST(map() AS {_DOC})"
_NO_NAMES = "CAST(array() AS array<string>)"


def _q(name: str) -> str:
    """SQL: the column name `name` as a quoted identifier."""
    return "`" + name.replace("`", "``") + "`"


def _lit(text: str) -> str:
    """SQL: `text` as a string literal."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _as_doc(variant: str, path: str = "$") -> str:
    """SQL: the value at `path` in `variant` as a map when it is a JSON
    object, else null."""
    return f"try_variant_get({variant}, '{path}', '{_DOC}')"


def _fraction_as_double(v: str) -> str:
    """SQL: the variant `v`, a DECIMAL made a double. Variant keeps a
    JSON number with a fraction (a MongoDB double) as a DECIMAL without
    trailing zeros: 10.0 would print as 10, not as a double's 10.0."""
    return (f"IF(schema_of_variant({v}) LIKE 'DECIMAL%',"
            f" CAST(CAST({v} AS DOUBLE) AS VARIANT), {v})")


# The decode and the fold are SQL text: one py4j call per projection
# instead of one per Column-API call. Built with Column calls, they
# cost about 0.3 s of driver time per micro-batch before any task ran
# (4-vCPU host, C1-only JVM).
_DECODE_STEPS = [
    # parse o and o2, once each; o's text stays, to pass a replace
    # document on verbatim
    ["resolved_ns AS ns", "ts", "seq", "idx", "op", "o AS doc_json",
     f"from_json(o, '{_DOC}') AS o", f"from_json(o2, '{_DOC}') AS o2"],
    # the key and the update forms, read from the parsed maps; a v2
    # diff applies only the FIRST of u/i, else d (oplog_utils.go:250-263)
    ["ns", "ts", "seq", "idx", "op", "o", "doc_json",
     "coalesce(o2['_id'], o['_id']) AS id",
     _as_doc("o['diff']") + " AS diff",
     "coalesce(" + _as_doc("o['diff']", "$.u") + ", "
     + _as_doc("o['diff']", "$.i") + ") AS diff_set",
     _as_doc("o['diff']", "$.d") + " AS diff_unset",
     _as_doc("o['$set']") + " AS v4_set",
     _as_doc("o['$unset']") + " AS v4_unset"],
    ["ns", f"CAST({_fraction_as_double('id')} AS STRING) AS key",
     "ts", "seq", "idx", "o", "doc_json",
     """CASE WHEN op = 'd' THEN 'delete' WHEN op = 'i' THEN 'replace'
             WHEN diff IS NOT NULL OR v4_set IS NOT NULL
                  OR v4_unset IS NOT NULL THEN 'patch'
             ELSE 'replace' END AS kind""",  # else: a full-document u
     "IF(diff IS NULL, v4_set, diff_set) AS patch_set",
     """IF(diff IS NULL, v4_unset, IF(diff_set IS NULL, diff_unset, NULL))
        AS patch_unset"""],
    ["ns", "key", "ts", "seq", "idx", "kind",
     "IF(kind = 'replace', o, NULL) AS doc",
     "IF(kind = 'replace', doc_json, NULL) AS doc_json",
     "IF(kind = 'patch', patch_set, NULL) AS sets",
     "IF(kind = 'patch', map_keys(patch_unset), NULL) AS unsets"],
]


def decode_write_models(
    oplogs: DataFrame, includes: list[str] | None = None,
    ejson: bool = False,
) -> DataFrame:
    """Oplog frame -> write-model frame: one row per member op with
    ns, key, ts, seq, idx (position inside an applyOps transaction),
    kind (replace|patch|delete), doc (the replace document) and
    doc_json (its source text), sets and unsets (the patch's `$set`/diff
    fields and its `$unset`/diff.d names). Pure SQL expressions —
    streaming-safe, no state.

    o and o2 are parsed once each into `map<string,variant>`; the key,
    the update form and every payload are read from those maps, and doc
    and sets stay parsed for the fold. The key is the `_id`'s text as
    `CAST(_id AS STRING)` gives it for the type a JSON reader infers
    (see _fraction_as_double).

    `ejson=True` normalizes MongoDB extended-JSON type wrappers
    ({"$numberLong": ...}, {"$date": ...}, {"$oid": ...}) in o/o2
    before the parse — the transport shape a JSON-encoded oplog or
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
        & F.col("op").isin("i", "u", "d")
    )
    for step in _DECODE_STEPS:
        df = df.selectExpr(*step)
    return df.filter("key IS NOT NULL")


_AT = "struct(ts, seq, idx)"  # an event's place in the log

# Per key: the last replace or delete — the barrier no earlier event gets
# past — and every patch with its place in the log.
_FOLD_AGGS = [
    f"""max_by(struct(kind, doc, doc_json, {_AT} AS at),
              IF(kind = 'patch', NULL, {_AT})) AS barrier""",
    f"""collect_list(IF(kind = 'patch', struct(
          {_AT} AS at, coalesce(sets, {_NO_DOC}) AS sets,
          coalesce(unsets, {_NO_NAMES}) AS unsets), NULL)) AS patches""",
]

# The patches after the barrier, in log order, folded into the barrier's
# document, or with no barrier into one patch: each field's last set or
# unset wins, and a patch sets before it unsets, so a same-event set +
# unset of one field nets to the unset. After a delete, patches match
# nothing. A replace no patch follows (not `patched`) passes its source
# text on.
_FOLD = f"""IF(barrier.kind = 'delete', NULL, aggregate(
  array_sort(
    filter(patches, p -> barrier IS NULL OR p.at > barrier.at),
    (a, b) -> CASE WHEN a.at < b.at THEN -1 WHEN a.at > b.at THEN 1
                   ELSE 0 END),
  named_struct('doc', coalesce(barrier.doc, {_NO_DOC}),
               'unsets', {_NO_NAMES}, 'patched', false),
  (s, p) -> named_struct(
    'doc', map_concat(
      map_filter(s.doc, (k, v) -> NOT array_contains(map_keys(p.sets), k)
                                  AND NOT array_contains(p.unsets, k)),
      map_filter(p.sets, (k, v) -> NOT array_contains(p.unsets, k))),
    'unsets', array_union(array_except(s.unsets, map_keys(p.sets)),
                          p.unsets),
    'patched', true)))"""

_FOLDED_JSON = ("to_json(transform_values(s.doc, (k, v) -> "
                + _fraction_as_double("v") + "))")

_FOLD_OUT = [
    "ns", "key", "action",
    f"IF(action = 'replace', IF(s.patched, {_FOLDED_JSON}, doc_json), NULL)"
    " AS doc",
    f"IF(action = 'patch' AND size(s.doc) > 0, {_FOLDED_JSON}, NULL)"
    " AS set_json",
    """IF(action = 'patch' AND size(s.unsets) > 0,
          to_json(map_from_arrays(
            s.unsets, array_repeat(1, size(s.unsets)))), NULL)
       AS unset_json""",
]


def reduce_write_models(models: DataFrame) -> DataFrame:
    """Per-key ordered fold (ST6): many events per key -> one effective
    write model (ns, key, action, doc, set_json, unset_json; the payloads
    as JSON text). One shuffle, on key alone: the (ns, key) groups
    need no other, and the merge's join on the key reuses it instead of
    shuffling the models again. Events are ordered by
    (ts, seq, idx): the last replace or delete is a barrier, patches
    after a delete are dropped, and patches after a replace, or with no
    barrier, fold field by field with `aggregate` (see _FOLD). Everything
    runs in the JVM; the state is serialized once, at the output. A
    replace no patch follows keeps its source text."""
    return (
        models.repartition("key").groupBy("ns", "key")
        .agg(*[F.expr(agg) for agg in _FOLD_AGGS])
        .selectExpr("ns", "key", "coalesce(barrier.kind, 'patch') AS action",
                    "barrier.doc_json", f"{_FOLD} AS s")
        .selectExpr(*_FOLD_OUT)
    )


def _empty_target(spark: SparkSession, schema: T.StructType) -> DataFrame:
    return spark.createDataFrame([], schema)


# schema_of_variant's type of a JSON value -> the column type it
# evolves to; DECIMAL covers a number with a fraction (variant keeps
# 10.0 as DECIMAL(2,0)), so a whole-valued double stays a double
_EVOLVED_TYPES = {"BOOLEAN": T.BooleanType(), "BIGINT": T.LongType(),
                  "DECIMAL": T.DoubleType(), "DOUBLE": T.DoubleType()}


def _evolved_type(variant_types: list[str]) -> T.DataType:
    """The column type of a new field from the variant types of its
    values: null values (VOID) say nothing; one known type is kept, and
    anything else (a string, a nested value, a mix, no value but nulls)
    is string, the documented escape hatch."""
    found = {_EVOLVED_TYPES.get(t.split("(")[0], T.StringType())
             for t in variant_types if t != "VOID"}
    return found.pop() if len(found) == 1 else T.StringType()


def evolve_schema(models: DataFrame, schema: T.StructType) -> T.StructType:
    """Schema evolution for the schemaless source (SURVEY §1.2): the
    reference copies BSON verbatim, so a document may carry fields the
    target has never seen. Scan the batch's models for JSON keys
    outside `schema` and append them as nullable columns, in name
    order, typed from every value the batch holds for them (see
    _evolved_type).

    Cost shape: one aggregation over the micro-batch (bounded), the
    distinct variant types of each new key, collected in one job; never
    touches the target table. Existing columns NEVER change type —
    evolution is strictly additive, like parquet mergeSchema / Delta
    autoMerge."""
    rows = (
        models.select(F.explode(F.from_json(
            F.coalesce("doc", "set_json"), _DOC)).alias("k", "v"))
        .filter(~F.col("k").isin(*schema.names))
        .groupBy("k")
        .agg(F.collect_set(F.schema_of_variant("v")).alias("types"))
        .collect()
    )
    return T.StructType(schema.fields + [
        T.StructField(r.k, _evolved_type(r.types), True)
        for r in sorted(rows)])


def apply_cdc_batch(
    spark: SparkSession,
    reduced: DataFrame,
    target_path: str,
    key: str,
    schema: T.StructType,
    evolve: bool = False,
    num_buckets: int | None = None,
) -> ApplyStats:
    """Merge one micro-batch's reduced write models into a parquet
    target — the plain-parquet equivalent of
    `MERGE INTO target USING models ON target.key = models.key
       WHEN MATCHED AND action='delete' THEN DELETE
       WHEN MATCHED AND action='replace' THEN UPDATE SET *
       WHEN MATCHED AND action='patch'  THEN UPDATE SET <set/unset fields>
       WHEN NOT MATCHED AND action IN ('replace','patch-as-noop') THEN INSERT`
    (BulkWriteOplogs semantics, oplog_utils.go:110-197).

    `num_buckets` chooses the layout. Without it the target is flat and
    each batch rewrites all of it. With it the target is laid out as
    `__bucket=<pmod(xxhash64(key), N)>/` directories (hive-style
    partitioning); a batch reads ONLY the buckets its keys hash into
    (Catalyst partition pruning on the scan) and publishes ONLY those
    directories, so untouched buckets' files are never read or written:
    O(k/N of the table) per batch for k keys, the file-pruning shape
    Delta/Iceberg MERGE INTO gets from min/max stats.

    `evolve=True` widens the schema with fields first seen in this
    batch (schemaless-source parity — see evolve_schema); pre-existing
    target rows carry NULL for the new columns. Columns the target
    already carries are always retained, whatever this batch mentions
    (commit.widen); the evolve widening runs after retention, so
    a field's established target type wins over this batch's inference.

    Each publish records the target's schema beside the data files
    (commit.put_schema), and the next batch reads the target by it
    (commit.read_published). On the bucketed layout untouched buckets
    keep files of older, narrower widths; the record is the union
    schema, so reads fill their gaps with NULL. A target another writer
    left (data files, but no `_SUCCESS` and no record) is read with
    mergeSchema and merged into, not replaced.

    A batch with no model changes nothing: the merge's observed
    counters are all zero, so its stage is dropped and the target is
    left as it was (none is created).

    The models are cached only where they are read more than once (the
    touched-bucket listing, evolve=True); otherwise the merge's write
    job is their only reader, so a stream's source is scanned once.
    """
    return _merge_batch(spark, reduced, target_path, key, schema, evolve,
                        num_buckets, models_cached=False)


class _NoModels(Exception):
    """Raised in a merge's stage write when the batch held no model, so
    that publish drops the stage."""


def _merge_batch(
    spark: SparkSession, reduced: DataFrame, target_path: str, key: str,
    schema: T.StructType, evolve: bool, num_buckets: int | None,
    models_cached: bool,
) -> ApplyStats:
    """apply_cdc_batch; `models_cached` says `reduced` is read from a
    cache already, so a second read of it rescans nothing and it is not
    cached again."""
    # a publish a crash interrupted lands whole or not at all before
    # the read; the replayed batch then re-applies idempotently (ST7)
    recover(spark, target_path)
    target = read_published(spark, target_path)
    # the model columns travel under reserved names, clear of the
    # target's own columns in the merge join
    m = reduced.selectExpr(
        "key AS __key", "struct(action, doc, set_json, unset_json) AS __m")
    # on an existing bucketed target, read and publish the touched
    # buckets only; the first batch publishes the whole layout, as
    # does the first batch over a flat target another writer left
    pruned = (bool(num_buckets) and target is not None
              and "__bucket" in target.columns)
    if pruned:
        m = m.withColumn("__bucket", _bucket_col(F.col("__key"), num_buckets))
    cached = (pruned or evolve) and not models_cached
    if cached:
        m = m.cache()
    try:
        if pruned:
            touched = [r[0] for r in
                       m.select("__bucket").distinct().collect()]
            target = (target.filter(F.col("__bucket").isin(touched))
                      .drop("__bucket"))  # partition pruning on the scan
        if target is not None:
            # retain every column the target has, whatever this batch
            # mentions: the merge projects exactly `schema`, so a batch
            # that does not name a previously-evolved field would drop
            # it from every row it rewrites, data loss, not evolution.
            # Unconditional (not gated on evolve): no CDC batch narrows
            # a target; removing a column is DDL, not a merge side effect
            schema = widen(schema, target.schema)
        if evolve:
            schema = evolve_schema(m.select("__m.*"), schema)
        if target is None:
            target = _empty_target(spark, schema)
        for f in schema.fields:
            if f.name not in target.columns:
                target = target.withColumn(
                    f.name, F.lit(None).cast(f.dataType))
        obs = Observation()
        result = _merge_survivors(target, m, key, schema, observation=obs)

        def write(stage: str) -> ApplyStats:
            if num_buckets:
                # __bucket comes from the MERGED row's key (the pre-merge
                # join's target side is null for inserts); one write task
                # per bucket, so one file per bucket directory instead of
                # one per (upstream task x bucket)
                (result.withColumn("__bucket",
                                   _bucket_col(F.col(key), num_buckets))
                 .repartition(max(len(touched), 1) if pruned
                              else num_buckets, "__bucket")
                 .write.partitionBy("__bucket").parquet(stage))
            else:
                result.write.parquet(stage)
            # publishes together with the data; the next batch reads by it
            put_schema(spark, stage, result.schema)
            stats = _stats_or_recompute(obs, m, target, key)  # pre-publish
            if stats.total == 0:
                raise _NoModels
            return stats

        # the touched buckets are published by name, incl. ones merging
        # to empty, which a dynamic partition overwrite would leave stale
        try:
            return publish(
                spark, target_path, write,
                partitions=[*(f"__bucket={b}" for b in touched),
                            SCHEMA_RECORD] if pruned else None)
        except _NoModels:
            return ApplyStats(0, 0, 0, 0)
    finally:
        if cached:
            m.unpersist()


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


def _counters(hit: str) -> list[Column]:
    """ApplyStats' counters over merge-join rows (`__m.action` a model's
    action, null on a target-only row); `hit`, SQL, marks a row whose
    key the target holds."""
    return [F.expr(f"count_if({cond}) AS {name}") for name, cond in (
        ("inserted", f"__m.action = 'replace' AND NOT {hit}"),
        ("updated", f"__m.action IN ('replace', 'patch') AND {hit}"),
        ("deleted", f"__m.action = 'delete' AND {hit}"),
        ("noops", f"__m.action IN ('patch', 'delete') AND NOT {hit}"),
    )]


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
        row = (
            m.join(target.selectExpr(f"CAST({_q(key)} AS STRING) AS __tk"),
                   F.expr("__key = __tk"), "left")
            .agg(*_counters("__tk IS NOT NULL"))
            .first()
        )
        return ApplyStats(row.inserted, row.updated, row.deleted, row.noops)


def _merge_survivors(
    target: DataFrame, m: DataFrame, key: str, schema: T.StructType,
    observation=None,
) -> DataFrame:
    """The MERGE body of both layouts: full-outer join target rows with
    models (`m`: __key and the __m struct of action, doc, set_json and
    unset_json), emit surviving rows with patch/replace semantics
    applied. SQL text throughout: one join, a filter and two
    projections, a handful of py4j calls whatever the schema's width.

    The first projection parses each model's JSON exactly once per row:
    doc and set_json through from_json into the schema's struct, the
    set and unset key lists through json_object_keys. The second is
    one CASE per field over those; CollapseProject keeps the parsed
    aliases in their own Project because every field references them,
    so nothing re-parses per field (the naive per-field
    get_json_object form costs ~4 parses x n_fields per row, which
    dominates merge CPU on wide schemas). The model columns stay under
    `__`-prefixed names, so any target field name but those is free."""
    hit = f"CAST({_q(key)} AS STRING) IS NOT NULL"
    joined = target.join(
        m, F.expr(f"CAST({_q(key)} AS STRING) = __key"), "full_outer")
    if observation is not None:
        # a CollectMetrics node on rows already flowing through the
        # plan, not an extra pass
        joined = joined.observe(observation, *_counters(hit))
    fields = [(_q(f.name), _lit(f.name)) for f in schema.fields]
    as_schema = _lit(schema.json())
    parsed = joined.where(
        # keep: untouched target rows, replaced rows, patched existing;
        # deletes go, and patches on missing keys are no-ops
        f"""__m.action IS NULL OR __m.action = 'replace'
            OR (__m.action = 'patch' AND {hit})"""
    ).selectExpr(
        *(c for c, _ in fields),
        "__m.action AS __action",
        "json_object_keys(__m.set_json) AS __set_keys",
        "json_object_keys(__m.unset_json) AS __unset_keys",
        f"from_json(__m.doc, {as_schema}) AS __doc",
        f"from_json(__m.set_json, {as_schema}) AS __set",
    )
    return parsed.selectExpr(*(
        f"""CASE __action WHEN 'replace' THEN __doc.{c}
              WHEN 'patch' THEN CASE
                WHEN array_contains(__unset_keys, {name}) THEN NULL
                WHEN array_contains(__set_keys, {name}) THEN __set.{c}
                ELSE {c} END
              ELSE {c} END AS {c}"""
        for c, name in fields))


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
    """`apply_cdc_batch` on the bucketed layout."""
    return apply_cdc_batch(spark, reduced, target_path, key, schema,
                           evolve=evolve, num_buckets=num_buckets)


def read_cdc_target(
    spark: SparkSession, target_path: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Read a CDC target of either layout as commit.read_published reads
    it, hiding the bucketing layout column. A bucketed target whose
    every bucket was emptied reads as empty with its recorded schema. A
    target without the record reads with mergeSchema; if it holds no
    data file at all, `schema` gives the empty table. A missing target
    raises."""
    df = read_published(spark, target_path)
    if df is None:
        fs, hpath = _fs(spark, target_path)
        if schema is None or not fs.exists(hpath):
            raise FileNotFoundError(f"no CDC target at {target_path}")
        return _empty_target(spark, schema)
    return df.drop("__bucket") if "__bucket" in df.columns else df


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

    `num_buckets` lays the target out in that many hash buckets, each
    batch reading and rewriting only the buckets it touches (see
    apply_cdc_batch) — the layout to use when the target is large
    relative to each micro-batch. `evolve` lets
    documents carrying never-seen fields widen the target additively
    per batch (schemaless-source parity — see evolve_schema). `ejson`
    strips extended-JSON type wrappers during decode (JSON-encoded
    change streams; see functions/ejson.py). `on_stats(ns, batch_id,
    stats)` receives each namespace's ApplyStats per micro-batch in
    which the batch held a model for it — the reference's
    per-bulk-write counter log line (A6/ST8).

    Decode runs in the streaming plan, so `foreachBatch` receives the
    decoded models and builds only the fold and the merge. With one
    namespace in `schemas` a batch is one job chain: the merge's write
    scans the source, decodes, folds and merges, with no cache and no
    listing (a batch with no model for the namespace writes a stage
    that is dropped unpublished, so its target's files stay as they
    were). With more than one, the folded models are cached and their
    namespaces listed once, and only targets the batch touches are
    merged.
    """
    models = decode_write_models(
        spark.readStream.schema(OPLOG_SCHEMA)
        .option("maxFilesPerTrigger", 10)
        .json(oplog_dir),
        includes, ejson=ejson)

    def _merge(reduced: DataFrame, ns: str, batch_id: int,
               models_cached: bool) -> None:
        stats = _merge_batch(
            spark, reduced, table_path(target_root, ns), key, schemas[ns],
            evolve, num_buckets, models_cached)
        if on_stats is not None and stats.total > 0:
            on_stats(ns, batch_id, stats)

    def _apply(batch: DataFrame, batch_id: int) -> None:
        if len(schemas) == 1:
            (ns,) = schemas
            _merge(reduce_write_models(batch.where(F.col("ns") == ns)),
                   ns, batch_id, models_cached=False)
            return
        reduced = reduce_write_models(batch).cache()
        try:
            for ns in [r.ns for r in reduced.select("ns").distinct().collect()]:
                if ns in schemas:  # else DDL-only / unconfigured (ST9: log, don't replay)
                    _merge(reduced.where(F.col("ns") == ns), ns, batch_id,
                           models_cached=True)
        finally:
            reduced.unpersist()

    return (
        models.writeStream.foreachBatch(_apply)
        .option(
            "checkpointLocation",
            checkpoint or os.path.join(target_root, "_checkpoint"),
        )
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
