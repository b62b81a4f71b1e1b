"""Streaming crawl frontier: continuously-arriving sitemaps maintain
the persisted fetch queue — the scheduler side of the crawl loop,
composing three already-shipped pieces: sitemap parsing (the
sitemap_frontier query's chain), the crawl ingest's canonical-URL
store (streaming/crawl.py — URLs crawled so far), and robots verdicts
(operators/robots.py — disallowed URLs never enter the queue).

Store shape: (host, curl, lastmod), swap-maintained
(hummingbird_spark/commit.py::publish) because entries RETRACT — a URL
leaves the frontier the tick after the crawler lands it (the
anti-join against the crawl store re-runs over the whole queue each
tick, which is exactly the semantics a scheduler needs: the frontier
is a VIEW of "known minus crawled", kept materialized). A URL seen in
multiple sitemaps keeps its newest lastmod (max-merge, so replays and
re-delivered sitemap files are absorbed — the swap-style idempotency
argument shared by sketch/reservoir/rollup).

`read_fetch_schedule` turns the queue into per-host fetch slots:
row_number ordered by (lastmod DESC, curl) times the host's
crawl-delay — newest content first, politeness spacing per host. The
window partitions by host; a host's frontier is bounded by its
sitemap size, not the corpus.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from hummingbird_spark.functions.html import canonical_url, url_host
from hummingbird_spark.commit import publish, recover
from hummingbird_spark.streaming.ledger import BatchLedger

# sitemaps in the wild emit namespace-prefixed tags (<sm:url>,
# <sitemap:loc>, ...) as freely as bare ones — every tag pattern
# tolerates one optional prefix
_NS = r"(?:[A-Za-z0-9_-]+:)?"
_LOC_RE = rf"(?is)<{_NS}loc>(.*?)</{_NS}loc>"
_MOD_RE = rf"(?is)<{_NS}lastmod>(.*?)</{_NS}lastmod>"
_URL_EL_RE = rf"(?is)<{_NS}url\b[^>]*>(.*?)</{_NS}url>"
_SITEMAP_EL_RE = rf"(?is)<{_NS}sitemap\b[^>]*>(.*?)</{_NS}sitemap>"


def sitemap_url_elements(xml: F.Column) -> F.Column:
    """Array of per-`<url>` element structs (loc, lastmod). Pairing
    is STRUCTURAL — loc and lastmod are extracted within each
    element — because lastmod is optional per the sitemap protocol:
    a flat extract-all of each tag zipped by position shifts every
    lastmod after the first omission onto the wrong URL. A missing
    lastmod is null. `<sitemapindex>` child refs sit inside
    `<sitemap>` elements, so they never leak in here."""
    els = F.regexp_extract_all(xml, F.lit(_URL_EL_RE), F.lit(1))
    return F.transform(
        els,
        lambda e: F.struct(
            F.regexp_extract(e, _LOC_RE, 1).alias("loc"),
            F.nullif(F.regexp_extract(e, _MOD_RE, 1), F.lit(""))
            .alias("mod"),
        ),
    )


def parse_sitemap_entries(sitemaps: DataFrame,
                          xml_col: str = "sitemap_xml") -> DataFrame:
    """(.., sitemap_xml) -> (host, curl, lastmod) rows, canonicalized;
    host derives from each loc (a sitemap may list several hosts).
    Rows whose XML is a `<sitemapindex>` contribute no page entries
    (their `<loc>`s are child-sitemap refs — `parse_sitemap_index_refs`
    surfaces those for the scheduler to fetch)."""
    return (
        sitemaps.select(
            F.explode(sitemap_url_elements(F.col(xml_col))).alias("e"))
        .filter(F.col("e.loc") != "")
        .select(canonical_url(F.col("e.loc")).alias("curl"),
                F.col("e.mod").alias("lastmod"))
        .select(url_host(F.col("curl")).alias("host"), "curl",
                "lastmod")
    )


def parse_sitemap_index_refs(sitemaps: DataFrame,
                             xml_col: str = "sitemap_xml") -> DataFrame:
    """`<sitemapindex>` rows -> (host, sitemap_curl, lastmod): the
    child sitemaps an index points at — the one recursion level the
    protocol allows (indexes may not nest). The scheduler treats
    these as sitemap fetches; once a child's XML arrives as its own
    row, its `<url>` entries flow through `parse_sitemap_entries`."""
    els = F.regexp_extract_all(F.col(xml_col), F.lit(_SITEMAP_EL_RE),
                               F.lit(1))
    refs = F.transform(
        els,
        lambda e: F.struct(
            F.regexp_extract(e, _LOC_RE, 1).alias("loc"),
            F.nullif(F.regexp_extract(e, _MOD_RE, 1), F.lit(""))
            .alias("mod"),
        ),
    )
    return (
        sitemaps.select(F.explode(refs).alias("e"))
        .filter(F.col("e.loc") != "")
        .select(canonical_url(F.col("e.loc")).alias("sitemap_curl"),
                F.col("e.mod").alias("lastmod"))
        .select(url_host(F.col("sitemap_curl")).alias("host"),
                "sitemap_curl", "lastmod")
    )


def frontier_batch_merge(
    spark: SparkSession,
    batch_sitemaps: DataFrame,
    frontier_path: str,
    crawled_path: str | None = None,
    robots: DataFrame | None = None,
    robots_agent: str = "trainingbot",
    xml_col: str = "sitemap_xml",
) -> DataFrame:
    """One scheduler tick: parse the batch, max-merge lastmod with the
    existing queue, drop crawled and robots-disallowed URLs. Returns
    the full next frontier (swap semantics)."""
    entries = parse_sitemap_entries(batch_sitemaps, xml_col)
    if os.path.exists(os.path.join(frontier_path, "_SUCCESS")):
        entries = entries.unionByName(
            spark.read.parquet(frontier_path)
            .select("host", "curl", "lastmod"))
    merged = entries.groupBy("host", "curl").agg(
        F.max("lastmod").alias("lastmod"))
    if crawled_path is not None and os.path.exists(
            os.path.join(crawled_path, "_SUCCESS")):
        crawled = spark.read.parquet(crawled_path) \
            .select(F.col("canonical_url").alias("curl"))
        merged = merged.join(crawled, "curl", "left_anti")
    if robots is not None:
        from hummingbird_spark.operators.robots import (
            robots_rules,
            robots_verdicts,
        )

        verdicts = robots_verdicts(
            merged.select(F.col("curl").alias("url")),
            robots_rules(robots, agent=robots_agent))
        merged = merged.join(
            verdicts.filter(F.col("allowed") == 1)
            .select(F.col("url").alias("curl")), "curl")
    return merged


def start_streaming_frontier(
    spark: SparkSession,
    source_dir: str,
    frontier_path: str,
    schema,
    crawled_path: str | None = None,
    robots_path: str | None = None,
    robots_agent: str = "trainingbot",
    checkpoint: str | None = None,
) -> StreamingQuery:
    """File-source parquet stream of sitemap rows -> per-batch queue
    maintenance. Swap + max-merge make batch replay a no-op in value
    terms; the batch-id ledger makes it a no-op in work terms."""
    led = BatchLedger(frontier_path)

    stream = spark.readStream.schema(schema).parquet(source_dir)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if led.seen(batch_id):
            return
        recover(spark, frontier_path)
        robots = (spark.read.parquet(robots_path)
                  if robots_path else None)
        nxt = frontier_batch_merge(
            spark, batch_df, frontier_path, crawled_path, robots,
            robots_agent).localCheckpoint(eager=True)
        publish(spark, frontier_path, nxt.write.parquet)
        led.record(batch_id)

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation",
                checkpoint or frontier_path + "._checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def read_fetch_schedule(spark: SparkSession,
                        frontier_path: str | DataFrame,
                        robots: DataFrame | None = None,
                        robots_agent: str = "trainingbot") -> DataFrame:
    """The queue as per-host fetch slots: newest lastmod first,
    fetch_at_sec spaced by the host's crawl-delay (1s floor).
    `frontier_path` is the swap store's parquet path, or an already
    loaded (host, curl, lastmod) frame — the delta store passes
    `read_delta_frontier(...)`, which handles the empty/boot case a
    bare parquet read would throw on.

    When `robots` is given, the CURRENT rules also re-gate ALLOW at
    schedule time (real crawler discipline: robots.txt may have
    changed since a URL was enqueued). Newly-disallowed backlog
    stays queued but is never scheduled — and re-appears if robots
    re-allows, which a purge-at-enqueue design could not do. Cost:
    one verdict join bounded by the queue."""
    q = (frontier_path if isinstance(frontier_path, DataFrame)
         else spark.read.parquet(frontier_path))
    delay = F.lit(1)
    if robots is not None:
        from hummingbird_spark.operators.robots import (
            robots_rules,
            robots_verdicts,
        )

        rules = robots_rules(robots, agent=robots_agent)
        allowed = (
            robots_verdicts(q.select(F.col("curl").alias("url")),
                            rules)
            .filter(F.col("allowed") == 1)
            .select(F.col("url").alias("curl"))
        )
        q = q.join(allowed, "curl")
        delays = (
            rules
            .groupBy("host")
            .agg(F.min("crawl_delay").alias("__delay"))
        )
        q = q.join(F.broadcast(delays), "host", "left")
        delay = F.greatest(F.coalesce("__delay", F.lit(1)), F.lit(1))
    w = Window.partitionBy("host").orderBy(
        F.col("lastmod").desc(), "curl")
    return q.select(
        "host", "curl", "lastmod",
        ((F.row_number().over(w) - 1) * delay).alias("fetch_at_sec"),
    )
