"""Continuous stratified reservoir — the streaming twin of
operators/dsir.py::stratified_reservoir, and the best-behaved of the
three continuous summaries here: because the Efraimidis-Spirakis
priority is a pure function of (seed, id, weight) rather than arrival
order, per-batch top-k merged with the stored top-k IS the global
top-k — the maintained sample is EXACTLY the batch operator's output
over everything ingested, not an approximation of it (asserted in
tests/test_reservoir.py). Classic reservoir sampling has neither the
replay-idempotency (task retries would re-draw) nor this merge
exactness. State is <= strata * k rows forever."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from hummingbird_spark.commit import publish, recover
from hummingbird_spark.streaming.ledger import BatchLedger


def merge_reservoir_batch(
    spark: SparkSession,
    batch_keyed: DataFrame,
    store_path: str,
    strata_col: str,
    id_col: str,
    k: int,
    batch_id: int | None = None,
) -> None:
    """Merge a batch's (strata, id, __key) candidates into the
    persistent per-stratum top-k. Union + one window over <= strata *
    2k rows; same ledger + publish discipline as the
    continuous sketches (see streaming/ledger.py for the shared
    crash-window semantics and the single-driver assumption)."""
    from pyspark.sql import Window

    led = BatchLedger(store_path)
    if led.seen(batch_id):
        return
    recover(spark, store_path)

    cols = batch_keyed.columns
    if os.path.exists(os.path.join(store_path, "_SUCCESS")):
        merged = spark.read.parquet(store_path).select(*cols) \
            .unionByName(batch_keyed)
    else:
        merged = batch_keyed
    # Full idempotency for free: the E-S priority is a pure function
    # of (seed, id, weight), so a batch re-applied after a crash in
    # the window between the store publish and the ledger write
    # contributes byte-identical (strata, id, __key) rows, and the
    # per-(strata, id) max below collapses them to one. When the SAME
    # id re-arrives later with a DIFFERENT weight, the survivor must
    # not depend on partition order (dropDuplicates would): keep the
    # max-__key row, with the remaining columns inside the struct so
    # exact-__key ties also resolve by a total order — every replay
    # sees the same reservoir. max(struct) is map-side-partially
    # aggregable, so no single hot window partition either.
    tie_cols = [c for c in cols if c not in (strata_col, id_col,
                                             "__key")]
    merged = (
        merged.groupBy(strata_col, id_col)
        .agg(F.max(F.struct("__key", *tie_cols)).alias("__s"))
        .select(strata_col, id_col,
                *[F.col(f"__s.{c}") for c in ["__key", *tie_cols]])
        .select(*cols)
    )
    win = Window.partitionBy(strata_col).orderBy(
        F.desc("__key"), id_col)
    topk = (
        merged.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )

    publish(spark, store_path, topk.write.parquet)
    led.record(batch_id)


def start_continuous_reservoir(
    spark: SparkSession,
    source_dir: str,
    store_path: str,
    schema,
    strata_col: str,
    k: int,
    weight_col: str | None = None,
    id_col: str = "doc_id",
    seed: str = "rsv",
    checkpoint: str | None = None,
) -> StreamingQuery:
    """File-source JSON stream -> per-batch derived priorities ->
    top-k merge. The maintained sample equals the batch
    stratified_reservoir over everything ingested, at every point in
    the stream's life."""
    from hummingbird_spark.operators.dsir import aes_key

    stream = spark.readStream.schema(schema).json(source_dir)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        w = (F.col(weight_col) if weight_col is not None
             else F.lit(1.0))
        keyed = batch_df.select(
            strata_col, id_col,
            *([weight_col] if weight_col is not None else []),
            aes_key(F.col(id_col), w, seed).alias("__key"),
        )
        merge_reservoir_batch(spark, keyed, store_path, strata_col,
                              id_col, k, batch_id=batch_id)

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation",
                checkpoint or store_path + "._checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def read_reservoir(spark: SparkSession, store_path: str) -> DataFrame:
    return spark.read.parquet(store_path)
