"""Update-aware web graph (streaming/web_graph_versioned.py): the
maintained edge set must equal a from-scratch web_link_edges over the
LATEST version of every page after EVERY batch — including updates
that REMOVE links (the retraction the append-only twin cannot
express), either-endpoint edge support, dangling anchors resolving
against latest (not historical) links, replays, and crash windows."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row

from hummingbird_spark.operators.graph import web_link_edges
from hummingbird_spark.streaming.web_graph_versioned import (
    read_web_edges_versioned,
    web_graph_versioned_batch,
)

HOST = "https://g.example"


def _page(links):
    anchors = "".join(f'<a href="{u}">l</a>' for u in links)
    return f"<html><body><p>text body here</p>{anchors}</body></html>"


def _row(i, links):
    return Row(doc_id=i, base=f"{HOST}/p/{i}", html=_page(links))


def _url(i):
    return f"{HOST}/p/{i}"


class Harness:
    def __init__(self, spark, tmp_path):
        self.spark = spark
        self.paths = tuple(str(tmp_path / x)
                           for x in ("lk", "vs", "pg", "ed"))
        self.latest: dict[int, Row] = {}
        self.seq = 0

    def apply(self, rows, batch_id=None):
        for r in rows:
            self.latest[r.doc_id] = r
        web_graph_versioned_batch(
            self.spark, self.spark.createDataFrame(rows),
            *self.paths,
            batch_id=self.seq if batch_id is None else batch_id)
        self.seq += 1

    def maintained(self):
        return sorted(
            (r.a, r.b) for r in read_web_edges_versioned(
                self.spark, self.paths[3]).collect())

    def from_scratch(self):
        df = self.spark.createDataFrame(list(self.latest.values()))
        return sorted((r.a, r.b)
                      for r in web_link_edges(df).collect())

    def check(self):
        assert self.maintained() == self.from_scratch()


def test_update_retracts_removed_links(spark, tmp_path):
    h = Harness(spark, tmp_path)
    # v1: 0 -> 1, 1 -> 2 (one-way links)
    h.apply([_row(0, [_url(1)]), _row(1, [_url(2)]),
             _row(2, [])])
    h.check()
    assert h.maintained() == [(0, 1), (1, 2)]

    # page 0 v2 drops its only link: edge (0,1) must RETRACT
    h.apply([_row(0, [])])
    h.check()
    assert h.maintained() == [(1, 2)]

    # page 0 v3 links 2 instead: (0,2) appears, (0,1) stays gone
    h.apply([_row(0, [_url(2)])])
    h.check()
    assert h.maintained() == [(0, 2), (1, 2)]


def test_either_endpoint_support_survives(spark, tmp_path):
    h = Harness(spark, tmp_path)
    # mutual links: 0 <-> 1
    h.apply([_row(0, [_url(1)]), _row(1, [_url(0)])])
    assert h.maintained() == [(0, 1)]
    # 0 drops its link — edge SURVIVES (1 still links 0)
    h.apply([_row(0, [])])
    h.check()
    assert h.maintained() == [(0, 1)]
    # 1 drops too — now it retracts
    h.apply([_row(1, [])])
    h.check()
    assert h.maintained() == []


def test_dangling_resolution_uses_latest_links(spark, tmp_path):
    h = Harness(spark, tmp_path)
    # v1: 0 links the not-yet-crawled 7 AND the not-yet-crawled 8
    h.apply([_row(0, [_url(7), _url(8)])])
    assert h.maintained() == []
    # 0 v2 drops the 8 link, keeps 7
    h.apply([_row(0, [_url(7)])])
    h.check()
    # 7 and 8 arrive: only (0,7) appears — 8's old anchor is not in
    # 0's LATEST version
    h.apply([_row(7, []), _row(8, [])])
    h.check()
    assert h.maintained() == [(0, 7)]


def test_replay_and_crash_window_converge(spark, tmp_path):
    h = Harness(spark, tmp_path)
    h.apply([_row(0, [_url(1)]), _row(1, [_url(2)]), _row(2, [])],
            batch_id=0)
    want = h.maintained()

    # exact replay is a ledger no-op
    web_graph_versioned_batch(
        spark, spark.createDataFrame(
            [_row(0, [_url(1)]), _row(1, [_url(2)]), _row(2, [])]),
        *h.paths, batch_id=0)
    assert h.maintained() == want

    # crash window: batch 1 (an update dropping 0->1) landed its
    # LINKS + VERSIONS appends but not the ops append or ledger —
    # simulate by hand-appending the facts, then replay end-to-end
    upd = [_row(0, [])]
    spark.createDataFrame([Row(src=0, curl="x-none", seq=1)]) \
        .limit(0).write.mode("append").parquet(h.paths[0])
    spark.createDataFrame([Row(tgt=0, seq=1)]) \
        .write.mode("append").parquet(h.paths[1])
    h.apply(upd, batch_id=1)
    h.check()
    assert h.maintained() == [(1, 2)]

    # wiped ledger: replaying both batches converges
    os.remove(h.paths[3] + ".ledger")
    h.apply([_row(0, [_url(1)]), _row(1, [_url(2)]), _row(2, [])],
            batch_id=0)
    h.apply(upd, batch_id=1)
    # batch 0's replay re-adds nothing: its +1 ops carry seq 0 and
    # lose to batch 1's seq-1 retraction under max-seq-wins... but
    # the LATEST state is what matters and batch 1 replays after
    h.check()
    assert h.maintained() == [(1, 2)]


def test_chaos_kill_in_every_append_window(spark, tmp_path):
    """Kill the update batch after EVERY SUBSET of the four appends
    (the appends land concurrently, so a crash can leave any of the
    2^4 landed subsets, not just prefixes); the replay must converge
    to the clean twin's state in every window."""
    from itertools import combinations

    from hummingbird_spark.streaming.web_graph_versioned import (
        _versioned_delta,
    )

    b0 = [_row(0, [_url(1), _url(2)]), _row(1, [_url(0)]),
          _row(2, [])]
    # batch 1: page 0 drops BOTH links, page 1 keeps its link
    b1 = [_row(0, [])]

    # clean twin
    clean = Harness(spark, tmp_path / "clean")
    clean.apply(b0, batch_id=0)
    clean.apply(b1, batch_id=1)
    want = clean.maintained()
    assert want == [(0, 1)]  # (0,1) survives via 1->0; (0,2) gone

    subsets = [s for k in range(5) for s in combinations(range(4), k)]
    for w, landed in enumerate(subsets):
        h = Harness(spark, tmp_path / f"w{w}")
        h.apply(b0, batch_id=0)
        deltas = _versioned_delta(
            spark, spark.createDataFrame(b1), *h.paths, 1)
        pairs = list(zip(deltas, h.paths))
        for i in landed:
            df, path = pairs[i]
            df.write.mode("append").parquet(path)
        # ledger never recorded batch 1 -> restart replays it
        h.apply(b1, batch_id=1)
        assert h.maintained() == want, f"window {landed}"


def test_versioned_edges_feed_pagerank_unchanged(spark, tmp_path):
    """read_web_edges_versioned returns the exact (a, b) shape the
    graph operators consume: PageRank over the maintained store
    equals PageRank over the from-scratch latest-version build —
    including after an update changed the topology."""
    from hummingbird_spark.operators.graph import pagerank_scaled

    h = Harness(spark, tmp_path)
    h.apply([_row(0, [_url(1)]), _row(1, [_url(2)]),
             _row(2, [_url(0)])])
    h.apply([_row(0, [_url(2)])])  # update rewires 0->1 to 0->2
    h.check()

    maintained = read_web_edges_versioned(spark, h.paths[3])
    scratch = web_link_edges(
        spark.createDataFrame(list(h.latest.values())))
    pr_m = {r.node: r.rank_scaled for r in
            pagerank_scaled(maintained, rounds=2).collect()}
    pr_s = {r.node: r.rank_scaled for r in
            pagerank_scaled(scratch, rounds=2).collect()}
    assert pr_m == pr_s and len(pr_m) >= 2


def test_intra_batch_dedup_and_self_links(spark, tmp_path):
    h = Harness(spark, tmp_path)
    # two raw variants of one canonical in a batch + a self-link
    rows = [
        Row(doc_id=3, base=f"{HOST}/p/3?utm_source=x",
            html=_page([_url(3), _url(4)])),
        Row(doc_id=3, base=f"{HOST}/p/3",
            html=_page([_url(4)])),
        _row(4, []),
    ]
    for r in rows:
        h.latest[r.doc_id] = Row(doc_id=3, base=f"{HOST}/p/3",
                                 html=_page([_url(4)])) \
            if r.doc_id == 3 else r
    web_graph_versioned_batch(
        spark, spark.createDataFrame(rows), *h.paths, batch_id=0)
    h.seq = 1
    got = h.maintained()
    assert got == [(3, 4)]  # self-link filtered, one canonical row


def _apply_fixture_batches(h):
    """Three batches with churn: batch 1 supersedes page 0 twice over
    (drops a link, later relinks), batch 2 retracts page 1's link —
    leaves superseded ops, -1 winners, and old version rows behind."""
    h.apply([_row(0, [_url(1), _url(2)]), _row(1, [_url(2)]),
             _row(2, [])], batch_id=0)
    h.apply([_row(0, [_url(2)])], batch_id=1)   # drop 0->1
    h.apply([_row(1, [])], batch_id=2)          # drop 1->2
    return h


class TestLogicalGc:
    def test_gc_preserves_state_and_prunes(self, spark, tmp_path):
        from hummingbird_spark.streaming.web_graph_versioned import (
            gc_web_graph_versioned,
        )

        h = _apply_fixture_batches(Harness(spark, tmp_path))
        want = h.maintained()
        assert want == [(0, 2)]
        rows_before = {
            p: spark.read.parquet(p).count() for p in h.paths[:2]
        }
        ops_before = spark.read.parquet(h.paths[3]).count()
        gc_web_graph_versioned(spark, *h.paths, watermark=2)
        h.check()
        assert h.maintained() == want
        # superseded ops + -1 winners dropped; one valid direction
        # per surviving edge endpoint support remains
        ops_after = spark.read.parquet(h.paths[3]).count()
        assert ops_after < ops_before
        valid = spark.read.parquet(h.paths[3])
        assert valid.filter("op = -1").count() == 0
        # old versions' link rows dropped (page 0 has 3 versions'
        # worth of links before, only the latest after)
        assert (spark.read.parquet(h.paths[0]).count()
                < rows_before[h.paths[0]])
        assert (spark.read.parquet(h.paths[1]).count()
                < rows_before[h.paths[1]])

    def test_equality_across_gc_boundary(self, spark, tmp_path):
        """Batches after a GC tick behave identically: retractions of
        edges whose +1 op was rewritten by the GC still land, and the
        maintained set equals from-scratch at every step."""
        from hummingbird_spark.streaming.web_graph_versioned import (
            gc_web_graph_versioned,
        )

        h = _apply_fixture_batches(Harness(spark, tmp_path))
        gc_web_graph_versioned(spark, *h.paths, watermark=2)
        # batch 3: page 0 drops its remaining link (retracts the
        # GC-rewritten +1), page 2 starts linking 1
        h.apply([_row(0, []), _row(2, [_url(1)])], batch_id=3)
        h.check()
        assert h.maintained() == [(1, 2)]
        # and a second GC over the post-GC store is a no-op on state
        gc_web_graph_versioned(spark, *h.paths, watermark=3)
        h.check()

    def test_gc_prev_version_lookup_survives(self, spark, tmp_path):
        """After GC, an UPDATE to a page whose only stored version is
        the GC-kept one still retracts correctly (prev_links reads
        the latest sub-watermark version)."""
        from hummingbird_spark.streaming.web_graph_versioned import (
            gc_web_graph_versioned,
        )

        h = Harness(spark, tmp_path)
        h.apply([_row(0, [_url(1)]), _row(1, [])], batch_id=0)
        gc_web_graph_versioned(spark, *h.paths, watermark=0)
        h.apply([_row(0, [])], batch_id=1)
        h.check()
        assert h.maintained() == []

    def test_chaos_kill_in_every_gc_window(self, spark, tmp_path,
                                           monkeypatch):
        """Kill the GC inside each store's publish, before its commit
        point and right after it (live store moved aside); the
        recovery at the next batch start must heal, and the next batch
        must produce the clean twin's state."""
        from hummingbird_spark.streaming.web_graph_versioned import (
            gc_web_graph_versioned,
        )
        from tests.conftest import InjectedCrash, crash_publish

        b3 = [_row(0, []), _row(2, [_url(1)])]
        clean = _apply_fixture_batches(Harness(spark, tmp_path / "c"))
        gc_web_graph_versioned(spark, *clean.paths, watermark=2)
        clean.apply(b3, batch_id=3)
        want = clean.maintained()
        assert want == [(1, 2)]

        for store_i in (0, 1, 3):  # links, vers, edges
            for after_commit in (False, True):
                root = tmp_path / f"w{store_i}{int(after_commit)}"
                h = _apply_fixture_batches(Harness(spark, root))
                crash_publish(monkeypatch, after_commit,
                              under=h.paths[store_i])
                with pytest.raises(InjectedCrash):
                    gc_web_graph_versioned(spark, *h.paths, watermark=2)
                monkeypatch.undo()
                h.apply(b3, batch_id=3)
                assert h.maintained() == want, (store_i, after_commit)
                assert [d for d in os.listdir(root) if ".__" in d] == []
