"""Streaming audio dedup: continuous ingestion filtered against a
persisted fingerprint store — the audio-modality twin of the image
pHash stream (streaming/media_dedup.py), with the verification shape
the fingerprint family dictates.

A MinHash band collision already implies high Jaccard (drop
unverified); a single pHash band collides by chance (verify each hit
with one Hamming test). An audio zc-fingerprint sits in between: one
(fp_idx, fp) collision is weak evidence, but `min_matched`
POSITION-ALIGNED collisions against the same stored clip is the
near-dup definition itself (operators/multimodal.py::
audio_near_duplicates) — so the verification IS the match-count
aggregation on the store join, no second pass. The store keeps
(sid, fp_idx, fp): ~n_windows rows x 16 bytes per accepted clip,
equi-joined per batch; degenerate fingerprints (silence/boilerplate
audio) are excluded by the same max-bucket guard as the batch
operator, computed over store ∪ batch so a bucket that grows hot
over the stream's life stops generating join work.

Exactly-once: out/store appends guarded by the shared batch-id ledger
(streaming/ledger.py); re-append on replay is the recoverable
failure, loss is not. The store compacts every N applied batches."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from hummingbird_spark.operators.multimodal import (
    audio_fingerprints,
    wav_window_features,
)
from hummingbird_spark.streaming.ledger import BatchLedger


def audio_dedup_batch_against_store(
    spark: SparkSession,
    batch_df: DataFrame,
    store_path: str,
    id_col: str = "media_id",
    window_ms: int = 4,
    min_matched: int = 4,
    max_bucket_size: int = 200,
) -> tuple[DataFrame, DataFrame]:
    """One dedup round: returns (survivors, survivor_fingerprints).

    Pure plan construction. A batch clip drops when it shares >=
    min_matched position-aligned fingerprints with ANY single stored
    clip (the match-count aggregation is the verification); survivors
    then dedup intra-batch by the same rule, smallest id winning."""
    fps = audio_fingerprints(
        wav_window_features(batch_df, window_ms=window_ms), id_col)

    has_store = os.path.exists(os.path.join(store_path, "_SUCCESS"))
    if has_store:
        store = spark.read.parquet(store_path)
        # hot-bucket guard over store ∪ batch: a fingerprint shared
        # by too many clips (silence) generates quadratic join work
        # and carries no near-dup signal
        all_fps = store.select("fp_idx", "fp").unionByName(
            fps.select("fp_idx", "fp"))
        kept_buckets = (
            all_fps.groupBy("fp_idx", "fp")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") <= max_bucket_size)
            .select("fp_idx", "fp")
        )
        fps_k = fps.join(kept_buckets, ["fp_idx", "fp"])
        hit_ids = (
            fps_k.join(store.join(kept_buckets, ["fp_idx", "fp"]),
                       ["fp_idx", "fp"])
            .groupBy(id_col, "sid")
            .agg(F.count(F.lit(1)).alias("m"))
            .filter(F.col("m") >= min_matched)
            .select(id_col).distinct()
        )
        fresh = batch_df.join(hit_ids, id_col, "left_anti")
        fresh_fps = fps.join(hit_ids, id_col, "left_anti")
    else:
        fresh, fresh_fps = batch_df, fps

    # intra-batch: same aligned-count rule, first-seen (min id) wins
    a = fresh_fps.select(F.col(id_col).alias("a"), "fp_idx", "fp")
    b = fresh_fps.select(F.col(id_col).alias("b"), "fp_idx", "fp")
    dups = (
        a.join(b, ["fp_idx", "fp"])
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("m"))
        .filter(F.col("m") >= min_matched)
        .select(F.col("b").alias(id_col))
        .distinct()
    )
    survivors = fresh.join(dups, id_col, "left_anti")
    survivor_fps = (
        fresh_fps.join(dups, id_col, "left_anti")
        .select(F.col(id_col).alias("sid"), "fp_idx", "fp")
    )
    return survivors, survivor_fps


def start_streaming_audio_dedup(
    spark: SparkSession,
    source_dir: str,
    out_path: str,
    store_path: str,
    schema,
    id_col: str = "media_id",
    window_ms: int = 4,
    min_matched: int = 4,
    max_bucket_size: int = 200,
    checkpoint: str | None = None,
    compact_every: int = 32,
) -> StreamingQuery:
    """File-source stream of (id, data) WAV rows -> per-batch audio
    dedup -> survivors append to out_path, their (sid, fp_idx, fp)
    rows to store_path. Idempotent on batch replay via the ledger."""
    led = BatchLedger(store_path)

    stream = spark.readStream.schema(schema).parquet(source_dir)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if led.seen(batch_id):
            return
        survivors, fps_df = audio_dedup_batch_against_store(
            spark, batch_df, store_path, id_col, window_ms,
            min_matched, max_bucket_size)
        # both plans read the store (join) — materialize BEFORE
        # appending to the store they read from
        survivors = survivors.localCheckpoint(eager=True)
        fps_df = fps_df.localCheckpoint(eager=True)
        survivors.write.mode("append").parquet(out_path)
        fps_df.write.mode("append").parquet(store_path)
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
