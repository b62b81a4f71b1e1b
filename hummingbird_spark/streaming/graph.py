"""Incremental link-graph maintenance: continuous document ingestion
keeping a persisted rare-trigram edge store consistent with a
from-scratch `operators/graph.py::rare_trigram_edges` build over
everything ingested — the streaming twin of the batch link graph, the
way streaming/media_dedup.py twins the batch pHash dedup.

The hard honest part is DF DRIFT: the rare set is df-gated
(min_df <= df(g) <= max_df), and a new batch can push a shingle's
corpus document-frequency ACROSS either boundary — a shingle crossing
max_df must RETRACT every pair it contributed, and one reaching
min_df must inject its pairs. Neither is expressible as an append.
The design that makes both exact AND cheap:

  * postings store (g, doc_id): APPEND-ONLY. A document's trigrams
    are immutable facts — they never retract — so the corpus-scale
    store needs no rewrite, ever. df(g) is derivable per shingle.
  * edge store (g, a, b): per-SHINGLE pair triples, rare shingles
    only. Bounded at C(max_df, 2) triples per shingle by the df cap,
    so the store scales with the rare-edge count, not the corpus.
    Maintained by swap (hummingbird_spark/commit.py::publish) because
    retraction is a delete.

Per batch, the delta recomputes ONLY the touched shingles' pair sets:
the batch's distinct (g, doc) postings name the touched shingles; an
untouched shingle's df cannot have changed, so its triples carry over
verbatim (an anti-join), and each touched shingle's df and pair set
rebuild from its own postings row-group (a semi-join on g against the
append-only store). Edge-store delta cost is O(touched postings +
rare triples), independent of corpus size.

Crash-window semantics (the shared contract, streaming/ledger.py):
the postings append lands BEFORE the edge swap and the ledger. A
replayed batch re-appends its postings — duplicates — so every df
computation runs over DISTINCT (g, doc) postings, making the replay
converge to the identical edge store (asserted by the double-apply
test). Wiped-checkpoint restarts are no-ops via the batch-id ledger.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from hummingbird_spark.functions.text import doc_trigrams
from hummingbird_spark.commit import publish, recover
from hummingbird_spark.streaming.ledger import BatchLedger


def link_graph_batch_delta(
    spark: SparkSession,
    batch_docs: DataFrame,
    postings_path: str,
    edges_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
    max_df: int = 5,
) -> tuple[DataFrame, DataFrame]:
    """One maintenance round: returns (batch_postings,
    new_edge_triples) as pure plans — no writes.

    new_edge_triples is the FULL next state of the (g, a, b) store:
    carried-over triples of untouched shingles (anti-join) plus the
    recomputed pair sets of touched shingles (df re-gated, so a
    max_df crossing retracts and a min_df arrival injects)."""
    bp = batch_docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(doc_trigrams(F.col(text_col))))
        .alias("g"),
    )
    touched = bp.select("g").distinct()

    if os.path.exists(os.path.join(postings_path, "_SUCCESS")):
        prior = (
            spark.read.parquet(postings_path)
            .join(touched, "g", "left_semi")
        )
        # distinct: a crash-window replay may have double-appended a
        # batch's postings; df counts must not see duplicates
        pt = prior.unionByName(bp).distinct()
    else:
        pt = bp.distinct()

    rare_t = (
        pt.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= min_df) & (F.col("df") <= max_df))
        .select("g")
    )
    ptr = pt.join(rare_t, "g")
    a = ptr.select("g", F.col("doc_id").alias("a"))
    b = ptr.select("g", F.col("doc_id").alias("b"))
    triples = a.join(b, "g").filter(F.col("a") < F.col("b"))

    if os.path.exists(os.path.join(edges_path, "_SUCCESS")):
        carried = (
            spark.read.parquet(edges_path)
            .join(touched, "g", "left_anti")
        )
        new_edges = carried.unionByName(triples)
    else:
        new_edges = triples
    return bp, new_edges


def apply_link_graph_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    postings_path: str,
    edges_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
    max_df: int = 5,
    batch_id: int | None = None,
    compact_every: int = 32,
) -> None:
    """Compute the delta, append the batch postings, swap the edge
    store. Ordering per the shared crash-window contract: both plans
    materialize BEFORE either store mutates (they read the stores
    they update); postings append first (replay-duplicates are
    absorbed by the distinct df discipline), edge swap + ledger
    last.

    compact_every: every N applied batches the postings store is
    rewritten through the verified compaction swap — the append-only
    store otherwise compounds one small file per batch per task, and
    it is semi-join-READ every batch (the classic streaming
    small-file failure: scan cost grows with batch COUNT, not data)."""
    led = BatchLedger(edges_path)
    if led.seen(batch_id):
        return
    recover(spark, edges_path)
    bp, new_edges = link_graph_batch_delta(
        spark, batch_docs, postings_path, edges_path,
        text_col, id_col, min_df, max_df)
    bp = bp.localCheckpoint(eager=True)
    new_edges = new_edges.localCheckpoint(eager=True)
    bp.write.mode("append").parquet(postings_path)
    publish(spark, edges_path, new_edges.write.parquet)
    led.record(batch_id)
    if (compact_every and batch_id is not None
            and len(led.applied()) % compact_every == 0):
        from hummingbird_spark.operators.compact import compact_table

        compact_table(spark, postings_path)


def start_streaming_link_graph(
    spark: SparkSession,
    source_dir: str,
    postings_path: str,
    edges_path: str,
    schema,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
    max_df: int = 5,
    checkpoint: str | None = None,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """File-source JSON stream of documents -> per-batch link-graph
    maintenance. The maintained edge set equals a from-scratch
    rare_trigram_edges over everything ingested, at every batch
    boundary (asserted in tests/test_streaming_link_graph.py)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               max_files_per_trigger)
    stream = reader.json(source_dir)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_link_graph_batch(
            spark, batch_df, postings_path, edges_path,
            text_col, id_col, min_df, max_df, batch_id=batch_id)

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation",
                checkpoint or edges_path + "._checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def read_link_edges(spark: SparkSession, edges_path: str) -> DataFrame:
    """The maintained undirected edge list (a < b), de-duplicated
    across supporting shingles — the exact shape
    rare_trigram_edges(weighted=False) returns."""
    return (spark.read.parquet(edges_path)
            .select("a", "b").distinct())
