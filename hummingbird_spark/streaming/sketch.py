"""Continuous count-min sketch maintenance — the streaming twin of
`operators/sketch.py`, shaped exactly like the continuous rollup
(streaming/rollup.py): per-batch partial counters merged additively
into a persistent depth x width counter table, idempotent on
checkpoint-replay via the same batch-id ledger discipline.

Why this composes perfectly: a CMS is a PURELY ADDITIVE sketch — the
merge of two sketches over disjoint data is element-wise counter
addition, with no min/max/absorbing terms — so incremental maintenance
is exact by algebra: the continuously-maintained sketch is
bit-identical to one built from scratch over everything ingested
(asserted in tests/test_streaming_sketch.py). The table is bounded at
depth*width rows FOREVER, which makes this the one streaming state
whose size is independent of stream length — the frequency monitor an
always-on ingest pipeline can afford at any scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from hummingbird_spark.commit import publish, recover, write_text
from hummingbird_spark.streaming.ledger import BatchLedger


def _merge_additive(
    spark: SparkSession,
    partial: DataFrame,
    path: str,
    keys: tuple,
    batch_id: int | None = None,
    combine: str = "sum",
) -> None:
    """Merge a batch's (*keys, cnt) partial counters into a persistent
    counter table — the shared merge of every exactly-mergeable sketch:
    combine='sum' for the purely-additive ones (CMS counters, HDR
    histogram buckets), combine='max' for max-semilattice registers
    (HLL rho values — max is idempotent/commutative/associative, so
    the maintained registers are bit-identical to a from-scratch build
    just like the additive case). Same ledger + publish discipline
    as merge_rollup_batch (streaming/rollup.py); see
    streaming/ledger.py for the shared crash-window semantics and the
    single-driver assumption."""
    led = BatchLedger(path)
    if led.seen(batch_id):
        return
    recover(spark, path)

    p = partial.select(*keys, "cnt")
    for c in [*keys, "cnt"]:
        p = p.withColumnRenamed(c, f"__{c}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        cur = spark.read.parquet(path)
        cond = None
        for c in keys:
            eq = cur[c] == p[f"__{c}"]
            cond = eq if cond is None else (cond & eq)
        if combine == "max":
            merged_cnt = F.greatest(
                F.coalesce(cur["cnt"], F.lit(0)),
                F.coalesce(p["__cnt"], F.lit(0)))
        else:
            merged_cnt = (F.coalesce(cur["cnt"], F.lit(0))
                          + F.coalesce(p["__cnt"], F.lit(0)))
        merged = cur.join(p, cond, "full_outer").select(
            *[F.coalesce(cur[c], p[f"__{c}"]).alias(c) for c in keys],
            merged_cnt.alias("cnt"),
        )
    else:
        merged = p.select(
            *[F.col(f"__{c}").alias(c) for c in [*keys, "cnt"]])

    publish(spark, path, merged.write.parquet)
    led.record(batch_id)


def merge_cms_batch(
    spark: SparkSession,
    partial: DataFrame,
    sketch_path: str,
    batch_id: int | None = None,
) -> None:
    """Add a batch's (row, bucket, cnt) partial counters into the
    persistent sketch (see _merge_additive)."""
    _merge_additive(spark, partial, sketch_path, ("row", "bucket"),
                    batch_id=batch_id)


def start_continuous_cms(
    spark: SparkSession,
    source_dir: str,
    sketch_path: str,
    schema,
    text_col: str = "text",
    depth: int = 4,
    width: int = 1024,
    gram: str = "token",
    checkpoint: str | None = None,
) -> StreamingQuery:
    """File-source JSON stream -> per-batch CMS partials -> additive
    merge. The sketch is queryable (read_cms / cms_estimate) while the
    stream runs."""
    from hummingbird_spark.operators.sketch import cms_build, token_counts

    stream = spark.readStream.schema(schema).json(source_dir)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        partial = cms_build(
            token_counts(batch_df, text_col, gram), depth, width)
        merge_cms_batch(spark, partial, sketch_path, batch_id=batch_id)

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation",
                checkpoint or sketch_path + "._checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def read_cms(spark: SparkSession, sketch_path: str) -> DataFrame:
    return spark.read.parquet(sketch_path)


# --------------------------------------------------------------------------
# Continuous HDR histogram: like the CMS, the log-linear histogram is
# PURELY ADDITIVE (bucketing is a pure integer function of the value),
# so continuous maintenance is exact by algebra — the maintained
# histogram is bit-identical to a from-scratch build over everything
# ingested, and quantile queries against it carry the same 2^-s
# relative-error bounds at any point in the stream's life. State is
# bounded at <= 64 * 2^s rows forever.


def merge_hist_batch(
    spark: SparkSession,
    partial: DataFrame,
    hist_path: str,
    batch_id: int | None = None,
) -> None:
    """Add a batch's (bucket, cnt) histogram partial into the
    persistent histogram (see _merge_additive)."""
    _merge_additive(spark, partial, hist_path, ("bucket",),
                    batch_id=batch_id)


def start_continuous_hdr(
    spark: SparkSession,
    source_dir: str,
    hist_path: str,
    schema,
    value_col: str,
    s: int = 5,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """File-source JSON stream -> per-batch HDR partials -> additive
    merge. Quantiles are queryable mid-stream via read_hist +
    operators/sketch.py::hdr_bounds."""
    from hummingbird_spark.operators.sketch import hdr_build

    stream = spark.readStream.schema(schema).json(source_dir)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        merge_hist_batch(spark, hdr_build(batch_df, value_col, s),
                         hist_path, batch_id=batch_id)

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation",
                checkpoint or hist_path + "._checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def read_hist(spark: SparkSession, hist_path: str) -> DataFrame:
    return spark.read.parquet(hist_path)


# --------------------------------------------------------------------------
# Continuous HLL: registers live in a max-semilattice (merge = max,
# which is idempotent/commutative/associative), so continuous
# maintenance is exact by algebra exactly like the additive sketches —
# the maintained registers are bit-identical to a from-scratch build
# over everything ingested, and cardinality estimates read from them
# (operators/sketch.py::hll_estimate_from_registers) carry the full
# 1.04/sqrt(m) guarantee at any point in the stream's life. Bonus of
# idempotence: even a DOUBLE-applied batch could not corrupt this
# state (the ledger still prevents it, but max-merge would forgive it).


def merge_hll_batch(
    spark: SparkSession,
    partial_regs: DataFrame,
    regs_path: str,
    group_cols: list,
    batch_id: int | None = None,
) -> None:
    """Max-merge a batch's (groups..., bucket, rho) registers into the
    persistent register table (see _merge_additive)."""
    _merge_additive(spark, partial_regs.withColumnRenamed("rho", "cnt"),
                    regs_path, (*group_cols, "bucket"),
                    batch_id=batch_id, combine="max")


def start_continuous_hll(
    spark: SparkSession,
    source_dir: str,
    regs_path: str,
    schema,
    value_col: str,
    group_cols: list,
    m: int = 256,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """File-source JSON stream -> per-batch HLL registers -> max
    merge. Distinct-count estimates are queryable mid-stream via
    read_hll + hll_estimate_from_registers."""
    from hummingbird_spark.operators.sketch import hll_registers

    stream = spark.readStream.schema(schema).json(source_dir)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        merge_hll_batch(
            spark, hll_registers(batch_df, value_col, group_cols, m),
            regs_path, group_cols, batch_id=batch_id)

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation",
                checkpoint or regs_path + "._checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def read_hll(spark: SparkSession, regs_path: str) -> DataFrame:
    return spark.read.parquet(regs_path).withColumnRenamed("cnt", "rho")


# --------------------------------------------------------------------------
# Continuous Misra-Gries top-k: the bounded-state streaming twin of
# operators/sketch.py::mg_candidates. Unlike the CMS, the MG merge is
# NOT purely additive — merging two summaries adds counters, then
# subtracts the (k+1)-th largest value and drops the non-positive
# (Agarwal et al., PODS 2012) — so the maintained state depends on
# batch boundaries (rows-only territory, like the batch summaries).
# What IS invariant is the guarantee: after any merge sequence over
# total weight n, every token's stored count undershoots its true
# count by at most n/(k+1), and any token with true count > n/(k+1)
# is present. The state is <= k rows forever.


def merge_topk_batch(
    spark: SparkSession,
    batch_tc: DataFrame,
    summary_path: str,
    k: int,
    batch_id: int | None = None,
) -> None:
    """Merge a batch's (tok, cnt) vocabulary-grain counts into the
    persistent <= k-row MG summary. Same ledger + publish discipline
    as merge_cms_batch. The total stream weight n that
    interprets the n/(k+1) guarantee rides INSIDE the summary parquet
    as a tok=NULL sentinel row (the mg_candidates convention), so n
    and the counters publish together: a crash between the summary
    publish and the ledger write replays the batch into BOTH
    counts and n together — the advertised [c, c + n/(k+1)] bound on
    true counts stays coherent (the replayed batch just reads as
    having occurred twice in the stream). Only the static k lives in
    the .meta sidecar; it never changes, so its write is idempotent
    and has no crash window."""
    import json

    from pyspark.sql import Window

    meta_path = summary_path + ".meta"
    led = BatchLedger(summary_path)
    if led.seen(batch_id):
        return
    recover(spark, summary_path)

    batch_tc = batch_tc.select("tok", "cnt")
    n_batch = batch_tc.agg(F.sum("cnt")).collect()[0][0] or 0
    n_prior = 0
    if os.path.exists(os.path.join(summary_path, "_SUCCESS")):
        prior = spark.read.parquet(summary_path)
        sent = (prior.filter(F.col("tok").isNull())
                .agg(F.count(F.lit(1)).alias("rows"),
                     F.coalesce(F.sum("cnt"), F.lit(0)).alias("n"))
                .collect()[0])
        if sent["rows"] > 0:
            n_prior = int(sent["n"])
        elif os.path.exists(meta_path):
            # summary written by the pre-sentinel format: no tok=NULL
            # row exists, but the stream weight is still on disk in
            # the .meta sidecar — fold it into this merge's sentinel
            # so the [c, c + n/(k+1)] true-count bound stays correct
            # across the upgrade instead of silently reading n=0
            with open(meta_path) as fh:
                n_prior = int(json.load(fh).get("n", 0))
        merged = (
            prior.filter(F.col("tok").isNotNull())
            .unionByName(batch_tc)
            .groupBy("tok").agg(F.sum("cnt").alias("cnt"))
        )
    else:
        merged = batch_tc
    # the merged frame is <= k + batch-vocabulary rows (small by
    # construction), so one single-partition ranking window is fine;
    # d = the (k+1)-th largest counter, 0 when nothing overflows
    ranked = merged.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.desc("cnt"), "tok")))
    d_frame = ranked.agg(
        F.coalesce(F.max(F.when(F.col("rn") == k + 1, F.col("cnt"))),
                   F.lit(0)).alias("d"))
    pruned = (
        ranked.crossJoin(F.broadcast(d_frame))
        .filter(F.col("cnt") > F.col("d"))
        .select("tok", (F.col("cnt") - F.col("d")).alias("cnt"))
    )
    n_total = int(n_prior) + int(n_batch)
    sentinel = spark.createDataFrame(
        [(None, n_total)], "tok string, cnt long")
    out = pruned.unionByName(sentinel)

    if not os.path.exists(meta_path):
        # static k only: idempotent, no crash window, so it can land
        # before the swap
        write_text(spark, meta_path, json.dumps({"k": k}))
    publish(spark, summary_path, out.write.parquet)
    led.record(batch_id)


def start_continuous_topk(
    spark: SparkSession,
    source_dir: str,
    summary_path: str,
    schema,
    text_col: str = "text",
    k: int = 64,
    gram: str = "token",
    checkpoint: str | None = None,
) -> StreamingQuery:
    """File-source JSON stream -> per-batch vocabulary counts ->
    MG merge. The summary is queryable (read_topk / topk_meta) while
    the stream runs; pair a stored count c with meta['n'] to bound the
    true count in [c, c + n/(k+1)]."""
    from hummingbird_spark.operators.sketch import token_counts

    stream = spark.readStream.schema(schema).json(source_dir)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        merge_topk_batch(spark, token_counts(batch_df, text_col, gram),
                         summary_path, k, batch_id=batch_id)

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation",
                checkpoint or summary_path + "._checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def read_topk(spark: SparkSession, summary_path: str) -> DataFrame:
    """The MG summary without the tok=NULL stream-weight sentinel."""
    return (spark.read.parquet(summary_path)
            .filter(F.col("tok").isNotNull()))


def topk_meta(summary_path: str) -> dict:
    """{'n': total stream weight, 'k': summary size}. n comes from
    the tok=NULL sentinel INSIDE the summary parquet (atomic with the
    counters it interprets — read via pyarrow, no session needed); k
    from the static sidecar."""
    import json

    import pyarrow.parquet as pq

    tbl = pq.read_table(summary_path, columns=["tok", "cnt"])
    toks = tbl.column("tok").to_pylist()
    cnts = tbl.column("cnt").to_pylist()
    with open(summary_path + ".meta") as fh:
        meta = json.load(fh)
    if any(t is None for t in toks):
        n = sum(c for t, c in zip(toks, cnts) if t is None)
    else:
        # pre-sentinel-format summary: the weight is still in the
        # sidecar (the old convention); don't misread it as n=0
        n = meta.get("n", 0)
    return {"n": int(n), "k": int(meta["k"])}
