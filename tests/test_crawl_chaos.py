"""Crash-window contracts for the crawl-side stores, pinned as tests
(the streaming/ledger.py discipline): the crawl ingest is
append-style — a replay after the curated append but before the store
append re-emits the batch's curated rows (duplicates are the
RECOVERABLE failure; loss would not be) while the canonical store
still converges; the frontier is swap-style — double application is a
value-level no-op (max-merge idempotency)."""

from __future__ import annotations

from pyspark.sql import Row

from hummingbird_spark.streaming.crawl import (
    crawl_ingest_batch_against_store,
)
from hummingbird_spark.streaming.frontier import frontier_batch_merge
from hummingbird_spark.commit import publish


def _page(body):
    return f"<html><body><p>{body}</p></body></html>"


def test_crawl_replay_duplicates_curated_but_store_converges(
        spark, tmp_path):
    out = str(tmp_path / "out")
    store = str(tmp_path / "store")
    batch = spark.createDataFrame([
        Row(url="https://a.example/p1",
            html=_page("first page body text here")),
        Row(url="https://a.example/p2",
            html=_page("second page body text here")),
    ])

    # crashed attempt: curated lands, the store append never does
    curated, new_store = crawl_ingest_batch_against_store(
        spark, batch, store)
    curated.localCheckpoint(eager=True).write.mode("append") \
        .parquet(out)

    # restart replays the batch end-to-end (store append included)
    curated2, new_store2 = crawl_ingest_batch_against_store(
        spark, batch, store)
    curated2 = curated2.localCheckpoint(eager=True)
    new_store2 = new_store2.localCheckpoint(eager=True)
    curated2.write.mode("append").parquet(out)
    new_store2.write.mode("append").parquet(store)

    # duplicates in the curated output: the documented recoverable
    # failure (consumers dedupe on canonical_url)
    cur = spark.read.parquet(out)
    assert cur.count() == 4
    assert cur.select("canonical_url").distinct().count() == 2
    # the store converged: one row per accepted canonical
    assert spark.read.parquet(store).count() == 2

    # and the NEXT batch sees the store, so the duplication never
    # compounds: a re-crawl of p1 plus one new page
    batch2 = spark.createDataFrame([
        Row(url="https://a.example/p1?utm_source=x",
            html=_page("recrawled first page body")),
        Row(url="https://a.example/p3",
            html=_page("third page body text here")),
    ])
    curated3, new_store3 = crawl_ingest_batch_against_store(
        spark, batch2, store)
    assert {r.canonical_url for r in curated3.collect()} == \
        {"https://a.example/p3"}


def test_frontier_double_apply_is_value_noop(spark, tmp_path):
    frontier = str(tmp_path / "frontier")
    batch = spark.createDataFrame([Row(sitemap_xml=(
        '<?xml version="1.0"?><urlset>'
        '<url><loc>https://a.example/p1</loc>'
        '<lastmod>2026-01-05</lastmod></url>'
        '<url><loc>https://b.example/q1</loc>'
        '<lastmod>2026-01-06</lastmod></url></urlset>'))])

    nxt = frontier_batch_merge(spark, batch, frontier) \
        .localCheckpoint(eager=True)
    publish(spark, frontier, nxt.write.parquet)
    first = sorted(map(tuple, spark.read.parquet(frontier).collect()))

    # replay: the merge re-reads its own output; max-merge makes the
    # swap a value-level no-op
    nxt2 = frontier_batch_merge(spark, batch, frontier) \
        .localCheckpoint(eager=True)
    publish(spark, frontier, nxt2.write.parquet)
    second = sorted(map(tuple, spark.read.parquet(frontier).collect()))
    assert first == second
