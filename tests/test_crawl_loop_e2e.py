"""The full crawl loop, composed end-to-end from the four streaming
web components: sitemaps feed the FRONTIER, the scheduler's queue is
"fetched" (pages synthesized for exactly the queued URLs), fetched
pages land through CRAWL INGEST (robots + canonical dedup +
extraction), the accepted pages maintain the WEB GRAPH, and the next
frontier tick drains what was crawled. Each stage's store is asserted
against the independent batch computation — the proof that the
components actually compose, not just pass their own tests."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hummingbird_spark.operators.graph import web_link_edges
from hummingbird_spark.streaming.crawl import (
    start_streaming_crawl_ingest,
)
from hummingbird_spark.streaming.frontier import (
    read_fetch_schedule,
    start_streaming_frontier,
)
from hummingbird_spark.streaming.web_graph import (
    read_web_edges,
    start_streaming_web_graph,
)

SM_SCHEMA = T.StructType([T.StructField("sitemap_xml", T.StringType())])
PAGE_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("html", T.StringType()),
])

HOST = "site.example"


def _page(doc, links):
    anchors = "".join(f'<a href="{u}">l</a>' for u in links)
    return (f"<html><body><h1>Page {doc}</h1>"
            f"<p>body text of page {doc} with enough characters</p>"
            f"{anchors}</body></html>")


def _xml(urls):
    return ('<?xml version="1.0"?><urlset>' + "".join(
        f"<url><loc>{u}</loc><lastmod>2026-02-0{i+1}</lastmod></url>"
        for i, u in enumerate(urls)) + "</urlset>")


def _drop(df, src, name):
    tmp = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0],
                os.path.join(src, name))
    shutil.rmtree(tmp)


def test_crawl_loop_end_to_end(spark, tmp_path):
    sm_src = str(tmp_path / "sm_in")
    pg_src = str(tmp_path / "pg_in")
    frontier = str(tmp_path / "frontier")
    curated = str(tmp_path / "curated")
    crawled = str(tmp_path / "crawled")  # crawl ingest's URL store
    robots = str(tmp_path / "robots")
    gp, gl, ge = (str(tmp_path / x) for x in ("gp", "gl", "ge"))
    os.makedirs(sm_src)
    os.makedirs(pg_src)

    spark.createDataFrame([Row(
        host=HOST,
        robots_txt="User-agent: *\nDisallow: /private/")]) \
        .write.mode("overwrite").parquet(robots)

    # tick 1: sitemap announces 3 pages + 1 disallowed
    urls = [f"https://{HOST}/p/{i}" for i in range(3)]
    _drop(spark.createDataFrame(
        [Row(sitemap_xml=_xml(urls + [f"https://{HOST}/private/x"]))]),
        sm_src, "sm0.parquet")
    q = start_streaming_frontier(
        spark, sm_src, frontier, SM_SCHEMA,
        crawled_path=crawled, robots_path=robots)
    assert q.awaitTermination(240)
    sched = read_fetch_schedule(
        spark, frontier, spark.read.parquet(robots))
    queued = sorted(r.curl for r in sched.collect())
    assert queued == sorted(urls)  # /private/x never queued

    # "fetch" the queue: pages 0->1->2->0 link in a ring, page 0 also
    # links to the disallowed URL (a dangling edge candidate)
    fetched = spark.createDataFrame([
        Row(url=urls[0],
            html=_page(0, [urls[1], f"https://{HOST}/private/x"])),
        Row(url=urls[1], html=_page(1, [urls[2]])),
        Row(url=urls[2], html=_page(2, [urls[0]])),
    ])
    _drop(fetched, pg_src, "b0.parquet")
    q = start_streaming_crawl_ingest(
        spark, pg_src, curated, crawled, PAGE_SCHEMA,
        robots_path=robots)
    assert q.awaitTermination(240)
    cur = spark.read.parquet(curated)
    assert cur.count() == 3
    assert {r.canonical_url for r in cur.collect()} == set(urls)
    # extraction ran on the way in
    assert all("body text of page" in r.text for r in cur.collect())

    # accepted pages maintain the web graph; ring = 3 edges, the
    # dangling /private/x link resolves to nothing. The graph ingests
    # the fetched pages whose canonical URL the crawl ACCEPTED (the
    # curated store keeps extracted text, the raw html rides the
    # fetch batch), ids from the page URL.
    wg_src = str(tmp_path / "wg_in")
    os.makedirs(wg_src)
    accepted = cur.select(F.col("url").alias("aurl"))
    pages = (
        fetched.join(accepted, fetched.url == F.col("aurl"))
        .select(
            F.expr("cast(substring(url, length(url), 1) as long)")
            .alias("doc_id"),
            F.col("url").alias("base"), "html")
        .localCheckpoint())
    _drop(pages, wg_src, "b0.parquet")
    q = start_streaming_web_graph(
        spark, wg_src, gp, gl, ge, pages.schema)
    assert q.awaitTermination(240)
    got = {(r.a, r.b) for r in read_web_edges(spark, ge).collect()}
    want = {(r.a, r.b)
            for r in web_link_edges(pages).collect()}
    assert got == want == {(0, 1), (1, 2), (0, 2)}

    # tick 2: a new sitemap arrives; the crawled URLs drain from the
    # queue and only the genuinely new page remains
    _drop(spark.createDataFrame(
        [Row(sitemap_xml=_xml(urls + [f"https://{HOST}/p/9"]))]),
        sm_src, "sm1.parquet")
    q = start_streaming_frontier(
        spark, sm_src, frontier, SM_SCHEMA,
        crawled_path=crawled, robots_path=robots)
    assert q.awaitTermination(240)
    left = [r.curl for r in spark.read.parquet(frontier).collect()]
    assert left == [f"https://{HOST}/p/9"]


def _curated_latest(spark, curated):
    """One row per canonical URL of an update-mode curated store: its
    newest fetch (the largest fetch_seq)."""
    df = spark.read.parquet(curated)
    newest = df.groupBy("canonical_url").agg(
        F.max("fetch_seq").alias("fetch_seq"))
    return df.join(newest, ["canonical_url", "fetch_seq"])


def test_recrawl_loop_updates_curated(spark, tmp_path):
    """The recrawl-on-update loop composes: a sitemap advertising a
    STRICTLY newer lastmod re-queues a crawled URL out of the delta
    frontier, the update-mode ingest lands the refetch, and
    the newest fetch of the canonical URL holds the NEW text — then the
    next tick drains it again at the new version."""
    from hummingbird_spark.streaming.frontier_delta import (
        frontier_delta_batch,
        read_delta_frontier,
    )

    pg_src = str(tmp_path / "pg_in")
    os.makedirs(pg_src)
    root = str(tmp_path / "fd")
    curated = str(tmp_path / "curated")
    crawled = str(tmp_path / "crawled")
    url = f"https://{HOST}/p/0"

    def _sm(lastmod):
        return spark.createDataFrame([Row(
            sitemap_xml='<?xml version="1.0"?><urlset><url>'
            f"<loc>{url}</loc><lastmod>{lastmod}</lastmod>"
            "</url></urlset>")])

    def _queued():
        return sorted(r.curl for r in
                      read_delta_frontier(spark, root).collect())

    # tick 1: v1 advertised -> queued
    frontier_delta_batch(spark, _sm("2026-02-01"), root,
                         crawled_path=crawled, n_buckets=8,
                         batch_id=0, recrawl_on_update=True)
    assert _queued() == [url]

    # fetch v1, ingest in UPDATE mode
    _drop(spark.createDataFrame(
        [Row(url=url, html=_page(0, []))]), pg_src, "b0.parquet")
    q = start_streaming_crawl_ingest(
        spark, pg_src, curated, crawled, PAGE_SCHEMA,
        allow_updates=True)
    assert q.awaitTermination(240)
    v1 = _curated_latest(spark, curated).collect()
    assert len(v1) == 1 and "body text of page 0" in v1[0].text

    # tick 2: same version re-advertised -> drains (crawled at v1)
    frontier_delta_batch(spark, _sm("2026-02-01"), root,
                         crawled_path=crawled, n_buckets=8,
                         batch_id=1, recrawl_on_update=True)
    assert _queued() == []

    # tick 3: STRICTLY newer version -> re-queued
    frontier_delta_batch(spark, _sm("2026-03-01"), root,
                         crawled_path=crawled, n_buckets=8,
                         batch_id=2, recrawl_on_update=True)
    assert _queued() == [url]

    # refetch with UPDATED content; latest-wins resolves to v2
    html2 = ("<html><body><h1>Page 0</h1>"
             "<p>updated body text with fresh characters</p>"
             "</body></html>")
    _drop(spark.createDataFrame(
        [Row(url=url, html=html2)]), pg_src, "b1.parquet")
    q = start_streaming_crawl_ingest(
        spark, pg_src, curated, crawled, PAGE_SCHEMA,
        allow_updates=True)
    assert q.awaitTermination(240)
    latest = _curated_latest(spark, curated).collect()
    assert len(latest) == 1
    assert "updated body text" in latest[0].text
    # full history retained underneath (two fetches)
    assert spark.read.parquet(curated).count() == 2

    # tick 4: the refetch landed -> drains at the NEW version
    frontier_delta_batch(spark, _sm("2026-03-01"), root,
                         crawled_path=crawled, n_buckets=8,
                         batch_id=3, recrawl_on_update=True)
    assert _queued() == []
