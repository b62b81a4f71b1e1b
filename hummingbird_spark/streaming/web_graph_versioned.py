"""Update-aware incremental web graph: the recrawl-loop twin of
streaming/web_graph.py. The append-only module's contract is
immutable facts — correct while crawled-is-crawled holds, but under
recrawl-on-update a page's NEW version can REMOVE out-links, and an
append-only edge store would keep them forever (the stale-edge gap
documented in SURVEY §24/§25). This module maintains the graph over
the LATEST version of every page, with retractions.

State (all append-only files; mutation is logical, by sequence):

    <links>/    (src, curl, seq)  — every version's full out-link set
    <vers>/     (tgt, seq)        — accepted page versions
    <pages>/    (curl, tgt)       — page identity (append-once; a
                                    page's id never changes across
                                    versions — derived from its URL)
    <edges>/    (src, dst, seq, op) — DIRECTED edge ops, +1/-1

Directed ops + max-seq-wins is what makes retraction append-only:
the valid directed set is "per (src, dst), the highest-seq op is
+1", and the undirected edge set is the symmetrized distinct of the
valid directed set. Directed (not undirected) ops are load-bearing:
an undirected edge (a, b) can be supported by EITHER endpoint's
anchor, so removing a's link to b must not retract the edge while b
still links to a — per-direction validity composes, per-edge
tombstones would not.

Per batch (seq = batch id):

    new_links(p)  = extracted links of each batch page's NEW version
    prev_links(p) = the stored links of p's previous latest version
                    (versions store, seq < batch — so a replay never
                    sees its own half-landed rows as "previous")
    latest_links  = stored-latest for non-batch srcs
                    ∪ new_links for batch srcs
    D_new = new_links  ⨝ all pages        (directed, src ≠ dst)
    D_old = prev_links ⨝ all pages
    ops   = +(D_new \\ D_old)  ∪  -(D_old \\ D_new)          (dir 1)
          ∪ +(latest_links hitting BATCH curls ⨝ batch pages) (dir 2:
            dangling anchors whose target just arrived)

Replay safety needs no special recovery path: every derived row is
keyed by the batch's seq, redundant ops are harmless under
max-seq-wins (a duplicate +1 for a still-valid direction keeps it
valid; dir-2 recomputes for ALL batch curls, not just new ones, so a
crash between appends replays to the same state). The four appends
land CONCURRENTLY (the ledger records strictly after all four): the
replay argument is subset-independent, not order-dependent — the
delta recomputes against "store minus this batch" semantics whichever
appends landed (prev/latest via the seq < batch filter, pages via the
anti-join — a landed pages append just makes the replay's new_pages
empty, ops/links/vers dups collapse under max-seq-wins / groupBy-max
/ the flags groupBy), so every one of the 2^4 crash subsets converges
(pinned by test_chaos_kill_in_every_append_window over all subsets).

Cost per batch: equi-joins bounded by the batch's links plus the
store rows matching the batch's keys — never a graph rescan. The
latest-links filter is a max-seq semi-join on the (bounded) srcs
that can matter to the batch.

Growth control is two-tier: compact_table merges small files
(physical, row-set preserving), and gc_web_graph_versioned is the
LOGICAL tick — below a replay-safe watermark it keeps only the
winning op per direction (dropping -1 winners outright) and only
each page's latest version's link rows, so the history the
max-seq-wins read scans stays proportional to the live graph, not
to total recrawl churn. Every GC rewrite is one publish
(hummingbird_spark/commit.py), recovered at the next batch start.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from hummingbird_spark.functions.html import canonical_url, extract_links
from hummingbird_spark.commit import publish, recover
from hummingbird_spark.operators.dedup import ensure_kernel_parallelism
from hummingbird_spark.streaming.ledger import BatchLedger


def _read(spark: SparkSession, path: str,
          cols: list[str]) -> DataFrame | None:
    """Plain pruned scan — deliberately NO distinct. Crash replay can
    leave duplicate rows in a store, but every consumer is dup-
    insensitive by construction (prev/latest go through groupBy-max,
    ops through the flags groupBy or an explicit distinct, pages
    through an anti-join and the flags groupBy), so deduplicating at
    read time only added a shuffle + a blocking stage per store per
    batch (guide §2.1: remove shuffles outright)."""
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return spark.read.parquet(path).select(*cols)
    return None


def _latest_per(df: DataFrame, key: str, seq_col: str = "seq",
                below: int | None = None) -> DataFrame:
    """(key, seq) -> the max seq per key (optionally only seqs
    strictly below `below` — the replay guard)."""
    if below is not None:
        df = df.filter(F.col(seq_col) < below)
    return df.groupBy(key).agg(F.max(seq_col).alias(seq_col))


def _versioned_delta(
    spark: SparkSession,
    batch_pages: DataFrame,
    links_path: str,
    vers_path: str,
    pages_path: str,
    edges_path: str,
    seq: int,
    id_col: str = "doc_id",
    base_col: str = "base",
    html_col: str = "html",
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The four append deltas (links, versions, pages, ops) for one
    batch — the seam the chaos tests drive window-by-window."""

    # anchor extraction + canonicalization is the batch's CPU, and it
    # rides the groupBy's MAP side here (inside the min-struct), NOT
    # the post-groupBy frame: the winner frame lands as ~1 AQE-
    # coalesced partition at small batch sizes, which would serialize
    # the regex parse on one core. The input-side spread guard keeps
    # the map side wide (a no-op whenever the batch already arrives
    # with >= cores partitions — always true at real scan scale;
    # guide §2.5). Cost shift: links are extracted for every batch
    # row rather than for curl-dedup winners only — duplicate-curl
    # rows within one batch are a replay-safety rarity, not the bulk.
    # Winner selection is unchanged: lcurls sits LAST in the struct,
    # so min() still orders by (tgt, base, html), and lcurls is a
    # pure function of (base, html) — ties tie. base/html are ordering
    # tie-breaks only — no consumer reads them, so the post-agg
    # projection drops them and the checkpoint stores (curl, tgt,
    # lcurls) instead of every winner's html (guide §2.3).
    tagged = (
        ensure_kernel_parallelism(batch_pages)
        .select(
            F.col(id_col).alias("tgt"),
            canonical_url(F.col(base_col)).alias("curl"),
            F.col(base_col).alias("base"),
            F.col(html_col).alias("html"))
        .groupBy("curl")
        .agg(F.min(F.struct(
            "tgt", "base", "html",
            F.transform(
                extract_links(F.col("html"), F.col("base")),
                lambda u: canonical_url(u)).alias("lcurls"))).alias("w"))
        .select("curl", F.col("w.tgt").alias("tgt"),
                F.col("w.lcurls").alias("lcurls"))
        # lazy: the checkpointed RDD is built here (toRdd runs at
        # call time), persists on first compute, and every later
        # consumer (links/vers/pages/ops deltas) reuses it — without
        # a blocking materialization job per batch
        .localCheckpoint(eager=False)
    )

    # the batch versions' link facts
    # the checkpoint makes the (already-extracted) link set land once
    # for its two consumers (out_links + the ops delta)
    new_links_frame = tagged.select(
        F.col("tgt").alias("src"),
        F.explode(F.col("lcurls")).alias("curl"),
    ).distinct()

    # lazy checkpoints on the links/vers store reads: each feeds TWO
    # consumers (prev_links + dir-2, prev_seq + latest) — the
    # checkpoint lands each store's scan once instead of once per
    # consumer (guide §2.4; A/B'd: dropping them costs ~1s/query at
    # bench scale), and pins the scanned file listing ahead of this
    # batch's own appends as a belt-and-braces replay guard
    pages_store = _read(spark, pages_path, ["curl", "tgt"])
    links_store = _read(spark, links_path, ["src", "curl", "seq"])
    vers_store = _read(spark, vers_path, ["tgt", "seq"])
    # these three checkpoint builds are mutually independent, and each
    # toRdd call executes its AQE stages serially at call time —
    # overlap them from a thread pool instead of paying the barriers
    # back to back (guide §2.6; the GC swaps already use this pattern)
    with ThreadPoolExecutor(max_workers=3) as ex:
        itt = inheritable_thread_target(spark)
        f_new = ex.submit(itt(new_links_frame.localCheckpoint), False)
        f_ls = (ex.submit(itt(links_store.localCheckpoint), False)
                if links_store is not None else None)
        f_vs = (ex.submit(itt(vers_store.localCheckpoint), False)
                if vers_store is not None else None)
        new_links = f_new.result()
        links_store = f_ls.result() if f_ls is not None else None
        vers_store = f_vs.result() if f_vs is not None else None

    new_pages = tagged.select("curl", "tgt")
    if pages_store is not None:
        new_pages = new_pages.join(pages_store.select("curl"),
                                   "curl", "left_anti")
    all_pages = (new_pages if pages_store is None
                 else pages_store.unionByName(new_pages))

    batch_srcs = tagged.select(F.col("tgt").alias("src"))
    if vers_store is not None and links_store is not None:
        prev_seq = _latest_per(
            vers_store.withColumnRenamed("tgt", "src"), "src",
            below=seq).join(batch_srcs, "src", "left_semi")
        prev_links = links_store.join(prev_seq, ["src", "seq"]) \
            .select("src", "curl")
    else:
        prev_links = new_links.limit(0)

    def _directed(links: DataFrame, pages: DataFrame) -> DataFrame:
        return (
            links.join(pages.select("curl",
                                    F.col("tgt").alias("dst")), "curl")
            .filter(F.col("src") != F.col("dst"))
            .select("src", "dst").distinct()
        )

    # one tagged union + one flags groupBy replaces the old
    # distinct(d_new) / distinct(d_old) + two anti-joins (4 shuffles
    # of the same (src, dst) keys -> 1 groupBy) and joins all_pages
    # ONCE instead of once per side (guide §2.4). Set semantics are
    # unchanged: plus = d_new \ d_old, minus = d_old \ d_new.
    both = new_links.withColumn("__new", F.lit(True)).unionByName(
        prev_links.withColumn("__new", F.lit(False)))
    flags = (
        both.join(all_pages.select("curl", F.col("tgt").alias("dst")),
                  "curl")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.max(F.col("__new")).alias("__in_new"),
             F.max(~F.col("__new")).alias("__in_old"))
        # plus and minus both read this — run the join+agg once
        # (A/B'd without: both branches recompute the whole upstream
        # inside the ops write, 8.4 -> 14.7 s)
        .localCheckpoint(eager=False)
    )
    plus = flags.filter(F.col("__in_new") & ~F.col("__in_old")) \
        .select("src", "dst")
    minus = flags.filter(F.col("__in_old") & ~F.col("__in_new")) \
        .select("src", "dst")

    # dir 2: anchors of NON-batch srcs (their latest version) whose
    # target is a batch curl. Batch srcs' own links are d_new above;
    # recomputing over ALL batch curls (not just new ones) is what
    # makes crash replay recovery-free — redundant +1 ops are
    # harmless under max-seq-wins.
    if links_store is not None and vers_store is not None:
        hitting = links_store.join(tagged.select("curl"), "curl",
                                   "left_semi") \
            .join(batch_srcs, "src", "left_anti")
        latest = _latest_per(
            vers_store.withColumnRenamed("tgt", "src"), "src")
        hitting = hitting.join(latest, ["src", "seq"]) \
            .select("src", "curl")
        plus = plus.unionByName(
            _directed(hitting, tagged.select("curl", "tgt"))) \
            .distinct()

    ops = plus.select("src", "dst", F.lit(seq).cast("long").alias("seq"),
                      F.lit(1).cast("int").alias("op")) \
        .unionByName(minus.select(
            "src", "dst", F.lit(seq).cast("long").alias("seq"),
            F.lit(-1).cast("int").alias("op")))

    # pin every plan BEFORE any caller mutates the stores it reads.
    # Lazy checkpoints suffice: Dataset.localCheckpoint builds the
    # checkpointed RDD at CALL time (queryExecution.toRdd — file-scan
    # partitions are fixed against the store's current file listing),
    # so later appends to the same paths cannot leak into these
    # frames; each materializes inside its own append-write job
    # instead of a separate blocking job first (guide §2.6). The four
    # builds are independent — overlap their call-time stage execution
    # the same way as the store reads above.
    with ThreadPoolExecutor(max_workers=4) as ex:
        itt = inheritable_thread_target(spark)
        f_l = ex.submit(itt(
            new_links.select(
                "src", "curl",
                F.lit(seq).cast("long").alias("seq")).localCheckpoint),
            False)
        f_v = ex.submit(itt(
            tagged.select(
                "tgt", F.lit(seq).cast("long").alias("seq"))
            .localCheckpoint), False)
        f_p = ex.submit(itt(new_pages.localCheckpoint), False)
        f_o = ex.submit(itt(ops.localCheckpoint), False)
        return f_l.result(), f_v.result(), f_p.result(), f_o.result()


def web_graph_versioned_batch(
    spark: SparkSession,
    batch_pages: DataFrame,
    links_path: str,
    vers_path: str,
    pages_path: str,
    edges_path: str,
    batch_id: int,
    id_col: str = "doc_id",
    base_col: str = "base",
    html_col: str = "html",
    compact_every: int = 32,
    gc_every: int = 8,
) -> None:
    """One maintenance round over (id, base, html) rows — new pages
    AND new versions of known pages. See the module docstring."""
    # a crashed logical-GC publish must recover before anything reads
    # the stores (the window can leave a live dir moved aside)
    for p in (links_path, vers_path, pages_path, edges_path):
        recover(spark, p)
    led = BatchLedger(edges_path)
    if led.seen(batch_id):
        return
    out_links, out_vers, out_pages, out_ops = _versioned_delta(
        spark, batch_pages, links_path, vers_path, pages_path,
        edges_path, int(batch_id or 0), id_col, base_col, html_col)

    # the four appends are order-independent (module docstring: every
    # crash subset replays to the same state — pinned by the all-
    # subsets chaos test), so they run concurrently; only the ledger
    # record is ordered strictly after all four
    def _append(df: DataFrame, path: str) -> None:
        df.write.mode("append").parquet(path)

    with ThreadPoolExecutor(max_workers=4) as ex:
        futs = [ex.submit(inheritable_thread_target(spark)(_append),
                          df, p)
                for df, p in ((out_links, links_path),
                              (out_vers, vers_path),
                              (out_pages, pages_path),
                              (out_ops, edges_path))]
        for f in futs:
            f.result()
    led.record(batch_id)
    # logical GC on cadence: watermark = this (recorded) batch id —
    # recorded batches never replay, any in-flight replay is higher
    if (gc_every and batch_id is not None
            and len(led.applied()) % gc_every == 0):
        gc_web_graph_versioned(spark, links_path, vers_path,
                               pages_path, edges_path,
                               watermark=int(batch_id))
    # physical file compaction (small-file merge) on a slower cadence
    if (compact_every and batch_id is not None
            and len(led.applied()) % compact_every == 0):
        from hummingbird_spark.operators.compact import compact_table

        for p in (links_path, vers_path, pages_path, edges_path):
            compact_table(spark, p)


def _require_success(stage: str) -> None:
    if not os.path.exists(os.path.join(stage, "_SUCCESS")):
        raise RuntimeError(f"gc rewrite {stage} produced no _SUCCESS "
                           "marker; live store untouched")


def gc_web_graph_versioned(
    spark: SparkSession,
    links_path: str,
    vers_path: str,
    pages_path: str,
    edges_path: str,
    watermark: int,
) -> None:
    """Watermark-gated LOGICAL compaction: physical file compaction
    (compact_table) preserves the row set, so superseded ops and old
    versions' link rows accumulate forever and the max-seq-wins read
    scans all history. This tick drops rows that can no longer
    affect any read or any future batch with seq > watermark:

      edges: below-watermark ops reduce to the winning op per
        (src, dst) direction — and a winning -1 is dropped outright
        (absent == invalid under max-seq-wins, and any future op
        carries a higher seq). Above-watermark ops are kept verbatim.
        Ties (a dir-2 redundant +1 at the retraction's seq) keep the
        read's tie rule: max(struct(seq, op)) prefers +1.
      links/vers: per src, only the LATEST version at or below the
        watermark survives (plus everything above). Correct because
        the only historical read is prev_links' "latest version with
        seq < batch" lookup, and every future batch seq exceeds the
        watermark.
      pages: append-once identity — untouched.

    Safe watermark: any batch id at or below the ledger's max
    recorded id (recorded batches never replay; an in-flight crash
    replay has a HIGHER seq). Each store publishes independently — a
    crash between stores leaves each store individually consistent
    (orphaned link rows whose version was GC'd never join: every
    links read goes through a vers-derived seq), and each store's
    publish recovers at the next tick/batch start."""
    for p in (links_path, vers_path, pages_path, edges_path):
        recover(spark, p)
    if not all(os.path.exists(os.path.join(p, "_SUCCESS"))
               for p in (links_path, vers_path, edges_path)):
        return

    ops = spark.read.parquet(edges_path)
    below, above = (ops.filter(F.col("seq") <= watermark),
                    ops.filter(F.col("seq") > watermark))
    win = (
        below.groupBy("src", "dst")
        .agg(F.max(F.struct("seq", "op")).alias("w"))
        .filter(F.col("w.op") == 1)
        .select("src", "dst", F.col("w.seq").alias("seq"),
                F.col("w.op").alias("op"))
    )
    # lazy checkpoints throughout the GC: each frame's RDD is pinned
    # against the pre-swap file listing at call time and materializes
    # inside its own publish's stage write (which always completes
    # before the live dir it read is moved away). new_ops and
    # keep_v are independent — overlap their call-time stage
    # execution (the change-12 pattern); keep_l joins keep_v, so it
    # builds after.
    vers = spark.read.parquet(vers_path)
    keep_v_frame = (
        vers.filter(F.col("seq") <= watermark)
        .groupBy("tgt").agg(F.max("seq").alias("seq"))
        .unionByName(vers.filter(F.col("seq") > watermark))
    )
    with ThreadPoolExecutor(max_workers=2) as ex:
        itt = inheritable_thread_target(spark)
        f_ops = ex.submit(
            itt(win.unionByName(above).localCheckpoint), False)
        f_v = ex.submit(itt(keep_v_frame.localCheckpoint), False)
        new_ops, keep_v = f_ops.result(), f_v.result()
    # links keep the seqs that survived in vers (per src)
    links = spark.read.parquet(links_path)
    keep_l = links.join(
        keep_v.select(F.col("tgt").alias("src"), "seq"),
        ["src", "seq"], "left_semi").localCheckpoint(eager=False)
    # every read is pinned above, and each store's publish is
    # independently crash-safe in EITHER completion order (links
    # GC'd before vers is as safe as the reverse: prev_seq takes a
    # MAX over vers, which is insensitive to the dominated rows GC
    # drops) — so the three rewrites can overlap on the cluster
    # instead of running their write jobs back to back (guide §2.6)
    with ThreadPoolExecutor(max_workers=3) as ex:
        futs = [ex.submit(inheritable_thread_target(spark)(publish),
                          spark, p, df.write.parquet,
                          verify=_require_success)
                for df, p in ((new_ops, edges_path),
                              (keep_v, vers_path),
                              (keep_l, links_path))]
        for f in futs:
            f.result()


def read_web_edges_versioned(spark: SparkSession,
                             edges_path: str) -> DataFrame:
    """The maintained undirected edge list (a < b) over the LATEST
    op per direction: valid directed pairs symmetrized, distinct —
    the exact shape web_link_edges returns for the latest page
    versions."""
    ops = spark.read.parquet(edges_path)
    valid = (
        ops.groupBy("src", "dst")
        .agg(F.max(F.struct("seq", "op")).alias("w"))
        .filter(F.col("w.op") == 1)
    )
    return valid.select(
        F.least("src", "dst").alias("a"),
        F.greatest("src", "dst").alias("b")).distinct()


def start_streaming_web_graph_versioned(
    spark: SparkSession,
    source_dir: str,
    links_path: str,
    vers_path: str,
    pages_path: str,
    edges_path: str,
    schema,
    id_col: str = "doc_id",
    base_col: str = "base",
    html_col: str = "html",
    checkpoint: str | None = None,
) -> StreamingQuery:
    """File-source parquet stream of crawled page VERSIONS -> update-
    aware web graph maintenance. The maintained edge set equals a
    from-scratch web_link_edges over the latest version of every
    page, at every batch boundary (asserted in tests)."""
    stream = spark.readStream.schema(schema).parquet(source_dir)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        web_graph_versioned_batch(
            spark, batch_df, links_path, vers_path, pages_path,
            edges_path, batch_id, id_col, base_col, html_col)

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation",
                checkpoint or edges_path + "._checkpoint")
        .trigger(availableNow=True)
        .start()
    )
