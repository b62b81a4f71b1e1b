"""Streaming crawl frontier (streaming/frontier.py): sitemap batches
maintain the fetch queue; crawled URLs leave it the next tick;
robots-disallowed URLs never enter; lastmod max-merges across
re-delivered sitemaps; the schedule spaces fetches by crawl-delay;
a wiped-checkpoint replay is a no-op."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import Row
from pyspark.sql import types as T

from hummingbird_spark.streaming.frontier import (
    read_fetch_schedule,
    start_streaming_frontier,
)

SCHEMA = T.StructType([T.StructField("sitemap_xml", T.StringType())])


def _xml(entries):
    body = "".join(
        f"<url><loc>{u}</loc><lastmod>{m}</lastmod></url>"
        for u, m in entries)
    return f'<?xml version="1.0"?><urlset>{body}</urlset>'


def _drop_file(df, src, name):
    tmp = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0],
                os.path.join(src, name))
    shutil.rmtree(tmp)


def _run(spark, src, frontier, crawled, robots):
    q = start_streaming_frontier(
        spark, src, frontier, SCHEMA,
        crawled_path=crawled, robots_path=robots)
    assert q.awaitTermination(240)


def test_streaming_frontier(spark, tmp_path):
    src = str(tmp_path / "in")
    frontier = str(tmp_path / "frontier")
    crawled = str(tmp_path / "crawled")
    robots = str(tmp_path / "robots")
    os.makedirs(src)

    spark.createDataFrame([Row(
        host="a.example",
        robots_txt="User-agent: *\nDisallow: /private/\n"
                   "Crawl-delay: 5",
    )]).write.mode("overwrite").parquet(robots)
    # crawl store: /p1 already fetched
    spark.createDataFrame(
        [Row(canonical_url="https://a.example/p1")]
    ).write.mode("overwrite").parquet(crawled)

    b0 = spark.createDataFrame([Row(sitemap_xml=_xml([
        ("https://a.example/p1", "2026-01-05"),
        ("https://a.example/p2", "2026-01-03"),
        ("https://a.example/private/x", "2026-01-09"),
        ("https://b.example/q1", "2026-01-02"),
    ]))])
    _drop_file(b0, src, "b0.parquet")
    _run(spark, src, frontier, crawled, robots)
    rows = {r.curl: r for r in spark.read.parquet(frontier).collect()}
    # crawled p1 out, disallowed /private/x never in
    assert set(rows) == {"https://a.example/p2",
                         "https://b.example/q1"}

    # tick 2: p2 gets crawled; a re-delivered entry bumps q1's
    # lastmod; one new URL arrives
    spark.createDataFrame(
        [Row(canonical_url="https://a.example/p1"),
         Row(canonical_url="https://a.example/p2")]
    ).write.mode("overwrite").parquet(crawled)
    b1 = spark.createDataFrame([Row(sitemap_xml=_xml([
        ("https://b.example/q1", "2026-01-20"),
        ("https://a.example/p3", "2026-01-11"),
    ]))])
    _drop_file(b1, src, "b1.parquet")
    _run(spark, src, frontier, crawled, robots)
    rows = {r.curl: r for r in spark.read.parquet(frontier).collect()}
    assert set(rows) == {"https://b.example/q1",
                         "https://a.example/p3"}
    assert rows["https://b.example/q1"].lastmod == "2026-01-20"

    # schedule: a.example spaced by its crawl-delay, b.example by the
    # 1s floor (no delay rule)
    sched = {r.curl: r for r in read_fetch_schedule(
        spark, frontier, spark.read.parquet(robots)).collect()}
    assert sched["https://a.example/p3"].fetch_at_sec == 0
    assert sched["https://b.example/q1"].fetch_at_sec == 0

    # third sitemap for a.example proves the delay spacing
    b2 = spark.createDataFrame([Row(sitemap_xml=_xml([
        ("https://a.example/p4", "2026-01-12"),
    ]))])
    _drop_file(b2, src, "b2.parquet")
    _run(spark, src, frontier, crawled, robots)
    sched = {r.curl: r for r in read_fetch_schedule(
        spark, frontier, spark.read.parquet(robots)).collect()}
    # p4 (newer lastmod) first, p3 five seconds later
    assert sched["https://a.example/p4"].fetch_at_sec == 0
    assert sched["https://a.example/p3"].fetch_at_sec == 5

    # wiped checkpoint: ledger alone makes all batches no-ops
    n = spark.read.parquet(frontier).count()
    shutil.rmtree(frontier + "._checkpoint")
    _run(spark, src, frontier, crawled, robots)
    assert spark.read.parquet(frontier).count() == n


def test_optional_lastmod_pairs_structurally(spark):
    """lastmod is optional per the sitemap protocol: one entry
    without it must NOT shift later lastmods onto the wrong URLs
    (the r8 ADVICE bug — positional arrays_zip pairing)."""
    from hummingbird_spark.streaming.frontier import (
        parse_sitemap_entries,
    )

    xml = ('<?xml version="1.0"?><urlset>'
           '<url><loc>https://a.example/p1</loc>'
           '<lastmod>2026-01-01</lastmod></url>'
           '<url><loc>https://a.example/p2</loc></url>'
           '<url><loc>https://a.example/p3</loc>'
           '<lastmod>2026-01-03</lastmod></url>'
           '<url><lastmod>2026-01-09</lastmod>'
           '<loc>https://a.example/p4</loc></url>'
           '</urlset>')
    got = {r.curl: r.lastmod for r in parse_sitemap_entries(
        spark.createDataFrame([Row(sitemap_xml=xml)])).collect()}
    assert got == {
        "https://a.example/p1": "2026-01-01",
        "https://a.example/p2": None,
        "https://a.example/p3": "2026-01-03",
        "https://a.example/p4": "2026-01-09",
    }


def test_sitemap_index_refs_do_not_pollute_frontier(spark):
    """A <sitemapindex> row's <loc>s are CHILD SITEMAP refs, not
    pages: parse_sitemap_entries must yield nothing for it."""
    from hummingbird_spark.streaming.frontier import parse_sitemap_entries

    index = ('<?xml version="1.0"?><sitemapindex>'
             '<sitemap><loc>https://a.example/sitemap-a.xml</loc>'
             '<lastmod>2026-02-01</lastmod></sitemap>'
             '<sitemap><loc>https://a.example/sitemap-b.xml</loc>'
             '</sitemap></sitemapindex>')
    child = ('<?xml version="1.0"?><urlset>'
             '<url><loc>https://a.example/p9</loc>'
             '<lastmod>2026-02-02</lastmod></url></urlset>')
    df = spark.createDataFrame([Row(sitemap_xml=index),
                                Row(sitemap_xml=child)])
    entries = {r.curl for r in parse_sitemap_entries(df).collect()}
    assert entries == {"https://a.example/p9"}


def test_namespace_prefixed_tags_parse(spark):
    """Real sitemaps emit <sm:url>/<sitemap:loc>-style prefixed tags
    as freely as bare ones; the parser must tolerate one prefix, and a
    prefixed index row must still contribute no page entry."""
    from hummingbird_spark.streaming.frontier import parse_sitemap_entries

    urlset = ('<?xml version="1.0"?><sm:urlset>'
              '<sm:url><sm:loc>https://a.example/p1</sm:loc>'
              '<sm:lastmod>2026-03-01</sm:lastmod></sm:url>'
              '<sm:url><sm:loc>https://a.example/p2</sm:loc>'
              '</sm:url></sm:urlset>')
    index = ('<?xml version="1.0"?><sitemap:sitemapindex>'
             '<sitemap:sitemap><sitemap:loc>'
             'https://a.example/more.xml</sitemap:loc>'
             '</sitemap:sitemap></sitemap:sitemapindex>')
    df = spark.createDataFrame([Row(sitemap_xml=urlset),
                                Row(sitemap_xml=index)])
    got = {r.curl: r.lastmod
           for r in parse_sitemap_entries(df).collect()}
    assert got == {"https://a.example/p1": "2026-03-01",
                   "https://a.example/p2": None}


def test_schedule_time_robots_regate(spark):
    """read_fetch_schedule re-gates ALLOW against the CURRENT robots
    (r11): URLs enqueued under permissive rules stop scheduling when
    robots turns disallow, and return when re-allowed — no queue
    rebuild involved."""
    from pyspark.sql import functions as F

    from hummingbird_spark.streaming.frontier import (
        read_fetch_schedule,
    )

    queue = spark.createDataFrame([
        Row(host="a.example", curl="https://a.example/p/1",
            lastmod="2026-01-01"),
        Row(host="a.example", curl="https://a.example/q/2",
            lastmod="2026-01-02"),
        Row(host="b.example", curl="https://b.example/p/9",
            lastmod="2026-01-03"),
    ])

    def robots(a_txt):
        return spark.createDataFrame([
            Row(host="a.example", robots_txt=a_txt),
            Row(host="b.example",
                robots_txt="User-agent: *\nAllow: /"),
        ])

    permissive = robots("User-agent: *\nAllow: /")
    got = {r.curl for r in read_fetch_schedule(
        spark, queue, permissive).collect()}
    assert got == {"https://a.example/p/1", "https://a.example/q/2",
                   "https://b.example/p/9"}

    # robots.txt changes AFTER enqueue: /q now disallowed on a
    restrictive = robots("User-agent: *\nDisallow: /q")
    got = {r.curl for r in read_fetch_schedule(
        spark, queue, restrictive).collect()}
    assert got == {"https://a.example/p/1", "https://b.example/p/9"}

    # crawl-delay still applies alongside the gate
    delayed = robots("User-agent: *\nDisallow: /q\nCrawl-delay: 7")
    rows = {r.curl: r.fetch_at_sec for r in read_fetch_schedule(
        spark, delayed and queue, delayed).collect()}
    assert rows["https://a.example/p/1"] == 0
    assert "https://a.example/q/2" not in rows

    # re-allowed: the backlog entry returns without any rebuild
    got = {r.curl for r in read_fetch_schedule(
        spark, queue, permissive).collect()}
    assert "https://a.example/q/2" in got

    # no robots frame: pure pass-through (legacy shape intact)
    assert read_fetch_schedule(spark, queue).count() == 3
