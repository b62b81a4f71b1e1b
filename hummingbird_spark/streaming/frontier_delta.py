"""Delta-maintained crawl frontier: the r9 answer to the one store
whose per-tick cost was not delta-bounded (streaming/frontier.py
re-materializes the ENTIRE "known minus crawled" queue every tick —
fine while sitemap volume is small, linear-in-queue if it is not).

State under one root directory, bucketed BY HOST HASH so reads
partition-prune. Host (not URL) bucketing is load-bearing: a tick's
work is driven by its ACTIVE HOSTS (the sitemap batch's hosts plus
the hosts the crawler just fetched from), and politeness means a
tick touches few hosts relative to the queue's backlog — URL-hash
bucketing would spray every host's rows across all buckets and
degrade every tick to a full rebuild. Pick `n_buckets` so one
bucket's rows stay comfortable (~queue_rows / 50k); it is pinned at
store creation.

    <root>/queue/bucket=<b>/   (host, curl, lastmod) — the frontier
    <root>/mirror/bucket=<b>/  (curl) — crawled URLs, append-only,
                               distinct-on-read (the crawl store
                               mirrored into the queue's bucketing)
    <root>/queue.ledger        batch-id ledger (streaming/ledger.py)
    <root>/cursor              crawl-store part files already mirrored
    <root>/meta                {"n_buckets": N} pinned at creation

Per tick the work is bounded by the DELTA, not the queue:

    newly   = crawl-store part files not yet in the cursor (the
              crawled delta — file-grain, no full rescan)
    entries = the batch's sitemap <url> entries (robots-gated)
    touched = buckets(entries) ∪ buckets(newly)   (<= n_buckets)
    rebuild = for touched buckets only:
                maxmerge(old bucket rows ∪ entries) anti mirror-rows
              — every read partition-pruned to the touched buckets

Touched buckets publish as partitions (hummingbird_spark/commit.py).
Correctness induction: a bucket's rows never contain a URL that was
in the mirror at the bucket's last rebuild, and every tick's rebuild
anti-joins the FULL mirrored set for its touched buckets — so a URL
leaves the queue on the first tick after its crawl lands, and a
sitemap re-advertising a long-crawled URL dies against the mirror
(which is why the mirror exists: checking the batch against the
unbucketed crawl store would cost O(crawled) per tick).

Crash windows (ledger contract): mirror append lands FIRST
(duplicates absorbed by distinct-on-read), the bucket publish next
(the replay recomputes every touched bucket from current state —
maxmerge and anti are idempotent, so it converges), ledger then
cursor last (a lost cursor update replays the same crawl files into
the mirror as duplicates). The bucket publish is itself crash-safe:
the tick start recovers it to exactly its pre- or post-publish
state, so no window loses a bucket's backlog.
Robots verdicts gate entries at ENQUEUE time (batch-bounded); the
swap frontier re-gates the whole queue every tick. When robots can
CHANGE, pass the current robots frame to read_fetch_schedule — it
re-gates ALLOW at schedule time (r11), so both stores honor robots
updates without a queue rebuild; newly-disallowed backlog simply
never schedules (and returns if re-allowed).

Recrawl-on-update (opt-in, `recrawl_on_update=True`): the mirror
additionally records the lastmod the queue held when each crawl
landed, and the rebuild's mirror check becomes "advertised strictly
newer than the newest crawled version ⇒ re-queue" instead of
crawled-is-crawled. See frontier_delta_batch's docstring for the
null/version semantics.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hummingbird_spark.commit import publish, recover, write_text
from hummingbird_spark.streaming.frontier import parse_sitemap_entries
from hummingbird_spark.streaming.ledger import BatchLedger

DEFAULT_BUCKETS = 64


def _paths(root: str) -> tuple[str, str, str, str]:
    return (os.path.join(root, "queue"), os.path.join(root, "mirror"),
            os.path.join(root, "cursor"), os.path.join(root, "meta"))


def _n_buckets(root: str, requested: int) -> int:
    _, _, _, meta = _paths(root)
    if os.path.exists(meta):
        with open(meta) as fh:
            return int(json.load(fh)["n_buckets"])
    os.makedirs(root, exist_ok=True)
    with open(meta, "w") as fh:
        json.dump({"n_buckets": requested}, fh)
    return requested


def _bucket(col: Column, n: int) -> Column:
    return F.pmod(F.xxhash64(col), F.lit(n)).cast("int")


def _read_bucketed(spark: SparkSession, path: str,
                   touched: list[int] | None = None,
                   merge: bool = False) -> DataFrame | None:
    """Read the store, or just the touched bucket dirs. Listing only
    the touched dirs matters: a plain read partition-DISCOVERS every
    bucket dir before pruning — O(n_buckets) driver-side listing per
    tick, which measured 6x tick growth at 6400 buckets. basePath
    keeps the bucket partition column. `merge` turns on parquet
    schema merging (the mirror may mix files written before and
    after the lastmod column)."""
    if not os.path.isdir(path):
        return None
    reader = spark.read
    if merge:
        reader = reader.option("mergeSchema", "true")
    if touched is None:
        if not glob.glob(os.path.join(path, "bucket=*")):
            return None
        return reader.parquet(path)
    dirs = [os.path.join(path, f"bucket={b}") for b in touched]
    dirs = [d for d in dirs if os.path.isdir(d)]
    if not dirs:
        return None
    return reader.option("basePath", path).parquet(*dirs)


def _crawled_delta_files(crawled_path: str, cursor: str) -> list[str]:
    if not os.path.isdir(crawled_path):
        return []
    have = set()
    if os.path.exists(cursor):
        with open(cursor) as fh:
            have = set(fh.read().split())
    return sorted(f for f in glob.glob(
        os.path.join(crawled_path, "*.parquet"))
        if os.path.basename(f) not in have)


def _advance_cursor(spark: SparkSession, cursor: str,
                    files: list[str]) -> None:
    have = set()
    if os.path.exists(cursor):
        with open(cursor) as fh:
            have = set(fh.read().split())
    have.update(os.path.basename(f) for f in files)
    write_text(spark, cursor, " ".join(sorted(have)) + " ")


def frontier_delta_batch(
    spark: SparkSession,
    batch_sitemaps: DataFrame,
    root: str,
    crawled_path: str | None = None,
    robots: DataFrame | None = None,
    robots_agent: str = "trainingbot",
    xml_col: str = "sitemap_xml",
    n_buckets: int = DEFAULT_BUCKETS,
    batch_id: int | None = None,
    compact_every: int = 32,
    recrawl_on_update: bool = False,
) -> None:
    """One delta tick. See the module docstring for the contract.
    Every `compact_every` applied batches the mirror compacts (it
    appends one file per touched bucket per tick; the queue needs no
    compaction — each rebuild rewrites a touched bucket as one
    file).

    recrawl_on_update (opt-in — real crawlers re-fetch on update):
    the mirror records the LASTMOD THE QUEUE HELD when each crawl
    landed, and a sitemap advertising a STRICTLY NEWER lastmod
    re-queues the URL instead of dying against the mirror. A crawl
    with no known lastmod (never queued, or a replay after the queue
    entry was retired) blocks all re-advertisements for that URL —
    max-on-read over the mirror keeps the newest known crawl version,
    so duplicate replay rows with null lastmod are absorbed. Off by
    default: crawled-is-crawled (the r9 contract) stays bit-exact."""
    queue, mirror, cursor, _ = _paths(root)
    led = BatchLedger(queue)
    if led.seen(batch_id):
        return
    for p in (queue, cursor):
        recover(spark, p)
    n = _n_buckets(root, n_buckets)

    entries = parse_sitemap_entries(batch_sitemaps, xml_col)
    if robots is not None:
        from hummingbird_spark.operators.robots import (
            robots_rules,
            robots_verdicts,
        )

        verdicts = robots_verdicts(
            entries.select(F.col("curl").alias("url")),
            robots_rules(robots, agent=robots_agent))
        entries = entries.join(
            verdicts.filter(F.col("allowed") == 1)
            .select(F.col("url").alias("curl")), "curl")
    entries = entries.withColumn("bucket", _bucket(F.col("host"), n)) \
        .localCheckpoint(eager=True)

    delta_files = (_crawled_delta_files(crawled_path, cursor)
                   if crawled_path else [])
    newly = None
    if delta_files:
        from hummingbird_spark.functions.html import url_host

        newly = (
            spark.read.parquet(*delta_files)
            .select(F.col("canonical_url").alias("curl"))
            .withColumn("bucket",
                        _bucket(url_host(F.col("curl")), n))
            .localCheckpoint(eager=True)
        )

    touched = {r.bucket for r in
               entries.select("bucket").distinct().collect()}
    if newly is not None:
        touched |= {r.bucket for r in
                    newly.select("bucket").distinct().collect()}
    touched = sorted(touched)
    if not touched:
        led.record(batch_id)
        if delta_files:
            _advance_cursor(spark, cursor, delta_files)
        return

    # 1. mirror append FIRST (duplicates absorbed on read).
    # repartition-by-bucket before every partitioned write: without
    # it each of the N shuffle tasks writes a file into every bucket
    # dir it holds rows for (tasks x buckets tiny files — measured
    # 3x tick cost at 640 buckets); with it, one file per bucket.
    # The mirror row carries the lastmod the queue held for the
    # crawled URL (null when unknown or recrawl is off) — the version
    # the recrawl_on_update comparison is against. Reading the queue
    # here is safe: writes have not started.
    if newly is not None:
        mrow = newly.select("bucket", "curl")
        lm = None
        if recrawl_on_update:
            nb = sorted({r.bucket for r in
                         newly.select("bucket").distinct().collect()})
            qnow = _read_bucketed(spark, queue, nb)
            if qnow is not None:
                lm = qnow.select("curl", "lastmod")
        if lm is not None:
            mrow = mrow.join(lm, "curl", "left")
        else:
            mrow = mrow.withColumn("lastmod",
                                   F.lit(None).cast("string"))
        mrow.select("bucket", "curl", "lastmod") \
            .repartition("bucket") \
            .write.mode("append").partitionBy("bucket").parquet(mirror)

    # 2. rebuild ONLY the touched buckets
    old = _read_bucketed(spark, queue, touched)
    cand = entries.select("bucket", "host", "curl", "lastmod")
    if old is not None:
        cand = cand.unionByName(
            old.select("bucket", "host", "curl", "lastmod"))
    merged = cand.groupBy("bucket", "host", "curl").agg(
        F.max("lastmod").alias("lastmod"))
    seen = _read_bucketed(spark, mirror, touched, merge=True)
    if seen is not None:
        if "lastmod" not in seen.columns:  # pre-lastmod mirror files
            seen = seen.withColumn("lastmod",
                                   F.lit(None).cast("string"))
        if recrawl_on_update:
            # keep an entry iff never crawled, or advertised STRICTLY
            # newer than the newest known crawled version (a crawl
            # with unknown version blocks everything for its URL)
            mseen = seen.groupBy("curl").agg(
                F.max("lastmod").alias("__mlm"),
                F.count(F.lit(1)).alias("__mn"))
            merged = (
                merged.join(mseen, "curl", "left")
                .filter(F.col("__mn").isNull()
                        | (F.col("__mlm").isNotNull()
                           & (F.col("lastmod") > F.col("__mlm"))))
                .drop("__mlm", "__mn"))
        else:
            merged = merged.join(seen.select("curl").distinct(),
                                 "curl", "left_anti")
    nxt = merged.select("bucket", "host", "curl", "lastmod") \
        .localCheckpoint(eager=True)

    # 3. publish the touched buckets (a touched bucket with nothing
    # left disappears)
    publish(spark, queue,
            nxt.repartition("bucket").write.partitionBy("bucket").parquet,
            partitions=[f"bucket={b}" for b in touched])

    # 4. ledger, then cursor
    led.record(batch_id)
    if delta_files:
        _advance_cursor(spark, cursor, delta_files)
    if (compact_every and batch_id is not None
            and len(led.applied()) % compact_every == 0
            and os.path.isdir(mirror)):
        from hummingbird_spark.operators.compact import compact_table

        # the mirror may mix pre- and post-lastmod files; compaction
        # reads their union, so the crawl-version column survives
        compact_table(spark, mirror, partition_cols=["bucket"])


def start_streaming_frontier_delta(
    spark: SparkSession,
    source_dir: str,
    root: str,
    schema,
    crawled_path: str | None = None,
    robots_path: str | None = None,
    robots_agent: str = "trainingbot",
    checkpoint: str | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
    recrawl_on_update: bool = False,
):
    """File-source parquet stream of sitemap rows -> delta ticks —
    the streaming twin of start_streaming_frontier with per-tick cost
    bounded by the delta instead of the queue."""
    stream = spark.readStream.schema(schema).parquet(source_dir)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        robots = (spark.read.parquet(robots_path)
                  if robots_path else None)
        frontier_delta_batch(
            spark, batch_df, root, crawled_path=crawled_path,
            robots=robots, robots_agent=robots_agent,
            n_buckets=n_buckets, batch_id=batch_id,
            recrawl_on_update=recrawl_on_update)

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation",
                checkpoint or os.path.join(root, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )


def read_delta_frontier(spark: SparkSession, root: str) -> DataFrame:
    """The maintained queue as (host, curl, lastmod) — the same shape
    streaming/frontier.py's swap store exposes."""
    queue, _, _, _ = _paths(root)
    df = _read_bucketed(spark, queue)
    if df is None:
        return spark.createDataFrame(
            [], "host string, curl string, lastmod string")
    return df.select("host", "curl", "lastmod")
