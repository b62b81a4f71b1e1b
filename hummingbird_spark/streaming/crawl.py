"""Streaming crawl ingestion: continuous (url, html) arrivals ->
canonical-URL dedup against a persisted store -> domain blocklist ->
main-text extraction -> curated append. The crawl-front-end twin of
the modality dedup streams (image streaming/media_dedup.py, audio
streaming/audio_dedup.py): URL
identity is the cheapest dedup key a crawl has, and it runs BEFORE
content hashing — a re-crawled page never reaches the expensive
MinHash/pHash stages.

Unlike the perceptual families there is nothing to verify on a store
hit: canonical-URL equality IS the dedup definition (exact string
match on the canonicalized form), so the store stays one row per
accepted page — (canonical_url, domain) — and the filter is a single
equi-anti-join. Intra-batch ties (two messy variants of one canonical
in the same batch) keep the lexicographically-smallest raw URL via a
map-side-aggregable min(struct), never a window.

Exactly-once: ledger + append ordering per streaming/ledger.py (the
shared crash-window contract); the store is compacted on the batch
cadence because it appends one small file-set per batch while being
re-read every batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from hummingbird_spark.functions.html import (
    block_stats_from,
    block_structs,
    canonical_url,
    main_text_from,
    registered_domain,
    url_host,
)
from hummingbird_spark.streaming.ledger import BatchLedger


def crawl_ingest_batch_against_store(
    spark: SparkSession,
    batch_df: DataFrame,
    store_path: str,
    blocked_domains: tuple[str, ...] = (),
    min_block_chars: int = 10,
    max_link_density: float = 0.34,
    robots: DataFrame | None = None,
    robots_agent: str = "trainingbot",
    allow_updates: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """One ingest round: returns (curated_rows, new_store_rows).

    Pure plan construction — robots verdicts (optional), blocklist
    filter, store anti-join, intra-batch canonical dedup, extraction.
    batch_df: (url, html). robots: (host, robots_txt) — pages whose
    URL a disallow rule matches for `robots_agent` never land.

    allow_updates: skip the store anti-join so REFETCHES of known
    URLs land again (the recrawl-on-update loop: the delta frontier
    only schedules a refetch when a sitemap advertises a strictly
    newer lastmod, so the ingest trusts its scheduler; intra-batch
    dedup is kept). Pair with the streaming wrapper's update mode,
    which versions curated rows with fetch_seq: a canonical URL's
    newest fetch is its row with the largest fetch_seq."""
    if robots is not None:
        from hummingbird_spark.operators.robots import (
            robots_rules,
            robots_verdicts,
        )

        verdicts = robots_verdicts(
            batch_df.select("url").distinct(),
            robots_rules(robots, agent=robots_agent))
        batch_df = batch_df.join(
            verdicts.filter(F.col("allowed") == 1).select("url"), "url")
    tagged = batch_df.select(
        "url", "html",
        canonical_url(F.col("url")).alias("canonical_url"),
        registered_domain(url_host(F.col("url"))).alias("domain"),
    )
    if blocked_domains:
        tagged = tagged.filter(
            ~F.col("domain").isin(*blocked_domains))

    if (not allow_updates
            and os.path.exists(os.path.join(store_path, "_SUCCESS"))):
        store = spark.read.parquet(store_path).select("canonical_url")
        tagged = tagged.join(store, "canonical_url", "left_anti")

    # intra-batch: one survivor per canonical, deterministic and
    # map-side partially aggregable (no window, hub-safe)
    fresh = (
        tagged.groupBy("canonical_url", "domain")
        .agg(F.min(F.struct("url", "html")).alias("w"))
        .select("canonical_url", "domain",
                F.col("w.url").alias("url"),
                F.col("w.html").alias("html"))
    )
    bound = fresh.select(
        "url", "canonical_url", "domain",
        block_structs(F.col("html")).alias("__b"))
    st = block_stats_from(F.col("__b"), min_block_chars,
                          max_link_density)
    curated = bound.select(
        "url", "canonical_url", "domain",
        main_text_from(F.col("__b"), min_block_chars,
                       max_link_density).alias("text"),
        st["kept_blocks"].alias("kept_blocks"),
        st["dropped_link"].alias("dropped_link"),
    ).withColumn("n_chars", F.length("text"))
    new_store = fresh.select("canonical_url", "domain")
    return curated, new_store


def start_streaming_crawl_ingest(
    spark: SparkSession,
    source_dir: str,
    out_path: str,
    store_path: str,
    schema,
    blocked_domains: tuple[str, ...] = (),
    robots_path: str | None = None,
    robots_agent: str = "trainingbot",
    checkpoint: str | None = None,
    compact_every: int = 32,
    allow_updates: bool = False,
) -> StreamingQuery:
    """File-source stream of (url, html) rows -> per-batch robots +
    canonical dedup + extraction -> curated rows append to out_path,
    canonical keys to store_path. Idempotent on batch replay via the
    ledger. robots_path: optional (host, robots_txt) parquet,
    re-read per batch so policy updates apply to the next tick.

    allow_updates (the recrawl-on-update loop): refetched URLs land
    again, and curated rows carry a `fetch_seq` (the batch id): a
    canonical URL's newest fetch is its row with the largest
    fetch_seq. The default mode's curated schema is unchanged."""
    led = BatchLedger(store_path)

    stream = spark.readStream.schema(schema).parquet(source_dir)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if led.seen(batch_id):
            return
        robots = (spark.read.parquet(robots_path)
                  if robots_path else None)
        curated, new_store = crawl_ingest_batch_against_store(
            spark, batch_df, store_path, blocked_domains,
            robots=robots, robots_agent=robots_agent,
            allow_updates=allow_updates)
        if allow_updates:
            curated = curated.withColumn(
                "fetch_seq", F.lit(batch_id or 0).cast("long"))
        # both plans read the store (anti-join) — materialize BEFORE
        # appending to the store they read from
        curated = curated.localCheckpoint(eager=True)
        new_store = new_store.localCheckpoint(eager=True)
        curated.write.mode("append").parquet(out_path)
        new_store.write.mode("append").parquet(store_path)
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
