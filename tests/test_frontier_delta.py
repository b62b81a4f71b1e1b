"""Delta-maintained frontier (streaming/frontier_delta.py): the
bucketed queue must equal the from-scratch "all sitemap entries
max-merged, minus everything crawled, robots-gated" computation after
EVERY tick — including re-advertised long-crawled URLs (the mirror's
reason to exist), crawl deltas arriving with no sitemap batch, crash
windows (mirror landed / queue swap lost; partial bucket swap), and
wiped-ledger replays."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from hummingbird_spark.streaming.frontier_delta import (
    frontier_delta_batch,
    read_delta_frontier,
)
from tests.conftest import InjectedCrash, crash_publish


def _xml(entries):
    body = "".join(
        f"<url><loc>{u}</loc>"
        + (f"<lastmod>{m}</lastmod>" if m else "") + "</url>"
        for u, m in entries)
    return f'<?xml version="1.0"?><urlset>{body}</urlset>'


def _sm(spark, entries):
    return spark.createDataFrame([Row(sitemap_xml=_xml(entries))])


def _crawl(spark, crawled, urls):
    spark.createDataFrame([Row(canonical_url=u) for u in urls]) \
        .coalesce(1).write.mode("append").parquet(crawled)


def _state(spark, root):
    return sorted(map(tuple, read_delta_frontier(spark, root)
                      .collect()))


def _expected(spark, all_entries, crawled_urls):
    """From-scratch twin: max-merge every entry ever fed, anti the
    full crawled set."""
    merged = {}
    for u, m in all_entries:
        host = u.split("//")[1].split("/")[0]
        key = (host, u)
        if key not in merged or (m or "") > (merged[key] or ""):
            merged[key] = m
    return sorted((h, u, merged[(h, u)]) for (h, u) in merged
                  if u not in crawled_urls)


def test_delta_equals_from_scratch_every_tick(spark, tmp_path):
    root = str(tmp_path / "fd")
    crawled = str(tmp_path / "crawled")
    fed: list[tuple[str, str | None]] = []
    crawled_urls: set[str] = set()

    # tick 1: two hosts, one entry missing lastmod
    b0 = [("https://a.example/p1", "2026-01-05"),
          ("https://a.example/p2", None),
          ("https://b.example/q1", "2026-01-02")]
    fed += b0
    frontier_delta_batch(spark, _sm(spark, b0), root,
                         crawled_path=crawled, n_buckets=8)
    assert _state(spark, root) == _expected(spark, fed, crawled_urls)

    # tick 2: p1 crawled; re-delivered q1 bumps lastmod; new URL
    _crawl(spark, crawled, ["https://a.example/p1"])
    crawled_urls.add("https://a.example/p1")
    b1 = [("https://b.example/q1", "2026-01-20"),
          ("https://a.example/p3", "2026-01-11")]
    fed += b1
    frontier_delta_batch(spark, _sm(spark, b1), root,
                         crawled_path=crawled, n_buckets=8)
    assert _state(spark, root) == _expected(spark, fed, crawled_urls)
    got = {r.curl: r.lastmod
           for r in read_delta_frontier(spark, root).collect()}
    assert got["https://b.example/q1"] == "2026-01-20"
    assert got["https://a.example/p2"] is None

    # tick 3: crawl delta with an EMPTY sitemap batch — q1 must leave
    _crawl(spark, crawled, ["https://b.example/q1"])
    crawled_urls.add("https://b.example/q1")
    frontier_delta_batch(spark, _sm(spark, []), root,
                         crawled_path=crawled, n_buckets=8)
    assert _state(spark, root) == _expected(spark, fed, crawled_urls)

    # tick 4: a sitemap re-advertises the LONG-crawled p1 — it must
    # die against the mirror, not re-enter the queue
    b3 = [("https://a.example/p1", "2026-02-01")]
    fed += b3
    frontier_delta_batch(spark, _sm(spark, b3), root,
                         crawled_path=crawled, n_buckets=8)
    assert _state(spark, root) == _expected(spark, fed, crawled_urls)


def test_replay_and_crash_windows_converge(spark, tmp_path):
    root = str(tmp_path / "fd")
    crawled = str(tmp_path / "crawled")
    b0 = [("https://a.example/p1", "2026-01-05"),
          ("https://b.example/q1", "2026-01-02")]
    frontier_delta_batch(spark, _sm(spark, b0), root,
                         crawled_path=crawled, n_buckets=8,
                         batch_id=0)
    want = _state(spark, root)

    # ledger makes an exact replay a no-op
    frontier_delta_batch(spark, _sm(spark, b0), root,
                         crawled_path=crawled, n_buckets=8,
                         batch_id=0)
    assert _state(spark, root) == want

    # crash window: mirror append landed (cursor NOT advanced), queue
    # swap lost — simulate by appending the crawl delta to the mirror
    # by hand, then replaying the tick end-to-end
    _crawl(spark, crawled, ["https://a.example/p1"])
    from hummingbird_spark.streaming.frontier_delta import (
        _bucket,
        _paths,
    )

    from hummingbird_spark.functions.html import url_host

    mirror = _paths(root)[1]
    spark.createDataFrame([Row(curl="https://a.example/p1")]) \
        .withColumn("bucket", _bucket(url_host(F.col("curl")), 8)) \
        .select("bucket", "curl") \
        .write.mode("append").partitionBy("bucket").parquet(mirror)
    frontier_delta_batch(spark, _sm(spark, []), root,
                         crawled_path=crawled, n_buckets=8,
                         batch_id=1)
    assert _state(spark, root) == [
        ("b.example", "https://b.example/q1", "2026-01-02")]

    # wiped ledger: replaying every batch converges to the same state
    os.remove(_paths(root)[0] + ".ledger")
    frontier_delta_batch(spark, _sm(spark, b0), root,
                         crawled_path=crawled, n_buckets=8,
                         batch_id=0)
    frontier_delta_batch(spark, _sm(spark, []), root,
                         crawled_path=crawled, n_buckets=8,
                         batch_id=1)
    assert _state(spark, root) == [
        ("b.example", "https://b.example/q1", "2026-01-02")]


def test_partial_bucket_swap_replay_converges(spark, tmp_path):
    """Crash mid bucket-swap: a prefix of the touched buckets carries
    the new content, the rest the old. The replay recomputes every
    touched bucket from current state and must converge."""
    from hummingbird_spark.streaming.frontier_delta import _paths

    root = str(tmp_path / "fd")
    crawled = str(tmp_path / "crawled")
    b0 = [(f"https://h{i}.example/p{i}", f"2026-01-{i + 1:02d}")
          for i in range(12)]
    frontier_delta_batch(spark, _sm(spark, b0), root,
                         crawled_path=crawled, n_buckets=8,
                         batch_id=0)
    want = _state(spark, root)

    # simulate the crash: wipe HALF the queue's bucket dirs AND the
    # ledger record (a real mid-swap crash dies BEFORE ledger.record,
    # so the replayed batch must not be gated away)
    queue = _paths(root)[0]
    victims = sorted(os.listdir(queue))[:2]
    for v in victims:
        shutil.rmtree(os.path.join(queue, v))
    os.remove(queue + ".ledger")
    assert _state(spark, root) != want  # genuinely damaged

    # the replay (ledger never recorded batch 0) rebuilds them
    frontier_delta_batch(spark, _sm(spark, b0), root,
                         crawled_path=crawled, n_buckets=8,
                         batch_id=0)
    assert _state(spark, root) == want


def test_crash_between_swap_renames_restores_backlog(spark, tmp_path,
                                                    monkeypatch):
    """The worst swap window: batch 1's publish is killed right after a
    populated bucket dir moved aside, before its replacement moved in.
    The bucket holds BACKLOG rows from batch 0 that the replayed batch
    cannot re-derive — rmtree-then-rename would lose them permanently;
    the tick-start recovery must keep them."""
    from hummingbird_spark.streaming.frontier_delta import _paths

    root = str(tmp_path / "fd")
    crawled = str(tmp_path / "crawled")
    b0 = [(f"https://h{i}.example/p{i}", f"2026-01-{i + 1:02d}")
          for i in range(12)]
    frontier_delta_batch(spark, _sm(spark, b0), root,
                         crawled_path=crawled, n_buckets=8,
                         batch_id=0)
    want0 = _state(spark, root)
    queue = _paths(root)[0]

    # batch 1 adds a new URL of a backlog host, so it touches that
    # host's populated bucket; the backlog URL itself is not in it
    b1 = [("https://h0.example/new", "2026-02-01")]
    crash_publish(monkeypatch, after_commit=True, under=queue + "/")
    with pytest.raises(InjectedCrash):
        frontier_delta_batch(spark, _sm(spark, b1), root,
                             crawled_path=crawled, n_buckets=8,
                             batch_id=1)
    monkeypatch.undo()
    # the damaged store under-reports (the bucket is moved aside)
    assert len(_state(spark, root)) < len(want0)

    # replay batch 1 (the ledger never recorded it)
    frontier_delta_batch(spark, _sm(spark, b1), root,
                         crawled_path=crawled, n_buckets=8,
                         batch_id=1)
    assert _state(spark, root) == _expected(
        spark, b0 + b1, set())
    # debris gone: no stage, aside or commit record
    assert [d for d in os.listdir(root) if ".__" in d] == []


def test_mirror_compacts_on_cadence(spark, tmp_path):
    """The mirror appends one file per touched bucket per tick;
    compaction on the ledger cadence bounds the file count without
    changing the maintained state."""
    from hummingbird_spark.streaming.frontier_delta import _paths

    root = str(tmp_path / "fd")
    crawled = str(tmp_path / "crawled")
    for i in range(4):
        _crawl(spark, crawled, [f"https://a.example/c{i}"])
        b = [(f"https://a.example/p{i}", f"2026-01-{i + 1:02d}")]
        frontier_delta_batch(spark, _sm(spark, b), root,
                             crawled_path=crawled, n_buckets=4,
                             batch_id=i, compact_every=2)
    mirror = _paths(root)[1]
    n_files = len(spark.read.parquet(mirror).inputFiles())
    # 4 appends into one host bucket would be >= 4 files uncompacted
    assert n_files <= 2
    assert _state(spark, root) == [
        ("a.example", f"https://a.example/p{i}", f"2026-01-{i + 1:02d}")
        for i in range(4)]


def test_recrawl_on_update_requeues_strictly_newer(spark, tmp_path):
    """Opt-in lastmod-aware recrawl: the mirror records the lastmod
    the queue held at crawl time; a sitemap advertising a STRICTLY
    newer lastmod re-queues the URL; equal, older, and unversioned
    re-advertisements stay blocked."""
    root = str(tmp_path / "fd")
    crawled = str(tmp_path / "crawled")
    kw = dict(crawled_path=crawled, n_buckets=8,
              recrawl_on_update=True)
    u = "https://a.example/p1"

    # tick 1: queue it at v 2026-01-05; tick 2: crawl lands
    frontier_delta_batch(spark, _sm(spark, [(u, "2026-01-05")]),
                         root, batch_id=0, **kw)
    _crawl(spark, crawled, [u])
    frontier_delta_batch(spark, _sm(spark, []), root, batch_id=1,
                         **kw)
    assert _state(spark, root) == []

    # equal and OLDER re-advertisements stay blocked
    frontier_delta_batch(spark, _sm(
        spark, [(u, "2026-01-05"), (u, "2026-01-01")]), root,
        batch_id=2, **kw)
    assert _state(spark, root) == []
    # unversioned re-advertisement stays blocked too
    frontier_delta_batch(spark, _sm(spark, [(u, None)]), root,
                         batch_id=3, **kw)
    assert _state(spark, root) == []

    # strictly newer -> re-queued at the new version
    frontier_delta_batch(spark, _sm(spark, [(u, "2026-02-01")]),
                         root, batch_id=4, **kw)
    assert _state(spark, root) == [("a.example", u, "2026-02-01")]

    # the recrawl lands: blocked again at the NEW version...
    _crawl(spark, crawled, [u])
    frontier_delta_batch(spark, _sm(spark, [(u, "2026-02-01")]),
                         root, batch_id=5, **kw)
    assert _state(spark, root) == []
    # ...and only a version beyond 2026-02-01 re-queues now
    frontier_delta_batch(spark, _sm(spark, [(u, "2026-01-20")]),
                         root, batch_id=6, **kw)
    assert _state(spark, root) == []
    frontier_delta_batch(spark, _sm(spark, [(u, "2026-03-01")]),
                         root, batch_id=7, **kw)
    assert _state(spark, root) == [("a.example", u, "2026-03-01")]


def test_recrawl_mirror_replay_and_unqueued_crawls(spark, tmp_path):
    """Replay rows carrying null lastmod are absorbed by max-on-read;
    a crawl that was never queued (unknown version) blocks all
    re-advertisements of its URL."""
    root = str(tmp_path / "fd")
    crawled = str(tmp_path / "crawled")
    kw = dict(crawled_path=crawled, n_buckets=8,
              recrawl_on_update=True)
    u = "https://a.example/p1"
    v = "https://a.example/out-of-band"

    frontier_delta_batch(spark, _sm(spark, [(u, "2026-01-05")]),
                         root, batch_id=0, **kw)
    # v is crawled WITHOUT ever being queued
    _crawl(spark, crawled, [u, v])
    frontier_delta_batch(spark, _sm(spark, []), root, batch_id=1,
                         **kw)

    # simulate the crash-replay duplicate: the same crawl file
    # re-mirrored AFTER u's queue entry was retired -> a (u, null)
    # mirror row that must not mask the known version
    from hummingbird_spark.streaming.frontier_delta import (
        _bucket,
        _paths,
    )
    from hummingbird_spark.functions.html import url_host

    mirror = _paths(root)[1]
    spark.createDataFrame([(u, None)],
                          "curl string, lastmod string") \
        .withColumn("bucket", _bucket(url_host(F.col("curl")), 8)) \
        .select("bucket", "curl", "lastmod") \
        .write.mode("append").partitionBy("bucket").parquet(mirror)

    # strictly newer still re-queues u (max ignores the null dup);
    # v stays blocked at ANY advertised version (unknown crawl ver)
    frontier_delta_batch(spark, _sm(
        spark, [(u, "2026-02-01"), (v, "2027-01-01")]), root,
        batch_id=2, **kw)
    assert _state(spark, root) == [
        ("a.example", u, "2026-02-01")]


def test_recrawl_reads_pre_lastmod_mirror_files(spark, tmp_path):
    """A mirror written before the lastmod column existed (two-column
    files) reads as unknown-version rows: crawled URLs stay blocked,
    and mixed-schema stores don't crash the tick."""
    root = str(tmp_path / "fd")
    crawled = str(tmp_path / "crawled")
    u = "https://a.example/p1"

    # build the store with the flag OFF — but hand-write the mirror
    # rows in the OLD two-column shape first
    from hummingbird_spark.streaming.frontier_delta import (
        _bucket,
        _paths,
    )
    from hummingbird_spark.functions.html import url_host

    mirror = _paths(root)[1]
    spark.createDataFrame([Row(curl=u)]) \
        .withColumn("bucket", _bucket(url_host(F.col("curl")), 8)) \
        .select("bucket", "curl") \
        .write.mode("append").partitionBy("bucket").parquet(mirror)

    # a new-schema row for another URL lands in the same store
    _crawl(spark, crawled, ["https://a.example/p2"])
    frontier_delta_batch(
        spark, _sm(spark, [(u, "2026-02-01"),
                           ("https://a.example/p2", "2026-01-01"),
                           ("https://a.example/p3", "2026-01-01")]),
        root, crawled_path=crawled, n_buckets=8, batch_id=0,
        recrawl_on_update=True)
    # u: old-schema mirror row = unknown version -> blocked even
    # though advertised with a lastmod; p2: crawled -> blocked;
    # p3: fresh -> queued
    assert _state(spark, root) == [
        ("a.example", "https://a.example/p3", "2026-01-01")]


def test_robots_gate_at_enqueue(spark, tmp_path):
    root = str(tmp_path / "fd")
    robots = spark.createDataFrame([Row(
        host="a.example",
        robots_txt="User-agent: *\nDisallow: /private/")])
    b0 = [("https://a.example/ok", "2026-01-01"),
          ("https://a.example/private/x", "2026-01-02")]
    frontier_delta_batch(spark, _sm(spark, b0), root, robots=robots,
                         n_buckets=8)
    assert {r.curl for r in read_delta_frontier(spark, root)
            .collect()} == {"https://a.example/ok"}
