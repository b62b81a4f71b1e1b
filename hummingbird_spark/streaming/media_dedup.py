"""Streaming perceptual image dedup: continuous ingestion filtered
against a persisted pHash band store, with one structural difference
from a MinHash band store forced by the hash family's math.

A MinHash band collision already implies high Jaccard, so a MinHash
filter may drop unverified store hits (the standard online trade). An 8-bit
pHash band collides BY CHANCE at ~1/256 per band pair — against a
store of M images a newcomer sees ~8*M/256 random band hits, so
unverified dropping would empty the stream once M reaches a few
hundred. The store therefore keeps (chunk, ckey, phash) and every hit
is VERIFIED with one bit_count(XOR) <= max_hamming before dropping;
the store stays tiny (8 rows x 16 bytes per accepted image) and the
verify is part of the same equi-join, never an all-pairs pass.

Exactly-once: out/store appends guarded by a batch-id ledger; the
shared crash-window ordering argument of streaming/ledger.py
(re-append on replay is recoverable, loss is not)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from hummingbird_spark.operators.multimodal import (
    image_phash,
    phash_band_keys,
    phash_near_duplicate_pairs,
)
from hummingbird_spark.streaming.ledger import BatchLedger


def phash_dedup_batch_against_store(
    spark: SparkSession,
    batch_df: DataFrame,
    store_path: str,
    id_col: str = "media_id",
    max_hamming: int = 6,
) -> tuple[DataFrame, DataFrame]:
    """One dedup round: returns (survivors, survivor_band_rows).

    Pure plan construction. Store hits verify exact Hamming before
    dropping; intra-batch near-dups keep the smallest id."""
    hashed = image_phash(batch_df, id_col)
    bands = phash_band_keys(hashed, id_col)

    if os.path.exists(os.path.join(store_path, "_SUCCESS")):
        store = spark.read.parquet(store_path).select(
            "chunk", "ckey", F.col("phash").alias("ph_store"))
        hit_ids = (
            bands.join(store, ["chunk", "ckey"])
            .filter(
                F.bit_count(F.col("phash").bitwiseXOR(F.col("ph_store")))
                <= max_hamming)
            .select(id_col).distinct()
        )
        fresh = batch_df.join(hit_ids, id_col, "left_anti")
        fresh_hashed = hashed.join(hit_ids, id_col, "left_anti")
        fresh_bands = bands.join(hit_ids, id_col, "left_anti")
    else:
        fresh, fresh_hashed, fresh_bands = batch_df, hashed, bands

    dups = (
        phash_near_duplicate_pairs(fresh_hashed, max_hamming, id_col)
        .select(F.col("b").alias(id_col))  # a < b: later id drops
        .distinct()
    )
    survivors = fresh.join(dups, id_col, "left_anti")
    survivor_bands = fresh_bands.join(dups, id_col, "left_anti")
    return survivors, survivor_bands


def start_streaming_phash_dedup(
    spark: SparkSession,
    source_dir: str,
    out_path: str,
    store_path: str,
    schema,
    id_col: str = "media_id",
    max_hamming: int = 6,
    checkpoint: str | None = None,
    compact_every: int = 32,
) -> StreamingQuery:
    """File-source stream of (id, data) rows -> per-batch pHash dedup
    -> survivors append to out_path, their (chunk, ckey, phash) rows
    to store_path. Idempotent on batch replay via the ledger (shared
    crash-window contract: streaming/ledger.py). compact_every: the
    band store appends one small file-set per batch and is re-READ
    every batch — rewrite it through the verified compaction swap
    every N applied batches."""
    led = BatchLedger(store_path)

    stream = spark.readStream.schema(schema).parquet(source_dir)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if led.seen(batch_id):
            return
        survivors, bands_df = phash_dedup_batch_against_store(
            spark, batch_df, store_path, id_col, max_hamming)
        # both plans read the store (join) — materialize BEFORE
        # appending to the store they read from
        survivors = survivors.localCheckpoint(eager=True)
        bands_df = bands_df.localCheckpoint(eager=True)
        survivors.write.mode("append").parquet(out_path)
        bands_df.select("chunk", "ckey", "phash").write \
            .mode("append").parquet(store_path)
        led.record(batch_id)
        if (compact_every and batch_id is not None
                and len(led.applied()) % compact_every == 0):
            from hummingbird_spark.operators.compact import compact_table

            compact_table(spark, store_path)

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation",
                checkpoint or store_path + "._checkpoint")
        .trigger(availableNow=True)
        .start()
    )
