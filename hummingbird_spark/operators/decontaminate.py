"""Benchmark decontamination: flag training documents that share long
n-gram shingles with an evaluation/benchmark set.

The standard LM pre-training hygiene pass (GPT-3 appendix C / PaLM /
Llama all describe variants): any training doc containing a long
n-gram (usually 8-13 tokens) that also appears in an eval benchmark is
"contaminated" and gets dropped or flagged, because the model would be
graded on text it memorized.

Spark shape — the same inverted-index discipline as the dedup family:
  - benchmark docs shingle into a (usually small) distinct n-gram set,
  - corpus shingles equi-join against it on the md5'd shingle
    (broadcast when the benchmark side is small — the common case:
    benchmarks are MBs, the corpus is the 100 TB side),
  - per-doc aggregation yields hit counts + an example shingle.
Nothing is all-pairs; the join carries only shingle matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hummingbird_spark.operators.dedup import _shingle_rows


def semantic_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-level decontamination — the semantic complement of
    the n-gram `contamination_report` (paraphrased or lightly-edited
    benchmark text slips past exact shingles; recent curation
    pipelines add an embedding-similarity screen for exactly that
    leak). -> (id, max_sim, contaminated) for EVERY corpus row:
    max_sim is the row's highest cosine against any benchmark vector,
    contaminated = max_sim >= threshold.

    Scale shape: the benchmark matrix BROADCASTS (benchmarks are MBs;
    the corpus is the 100 TB side) into the same blocked-BLAS Arrow
    kernel as `ivf_assign` — one corpus scan, no shuffle, no skewable
    key; the output aggregates nothing, so it pipelines into a filter
    or a join. Determinism: per-pair cosines round to 6 dp BEFORE the
    max (round-then-max is order-free), so the result is engine-exact
    against a SQL cross-join replica at any partitioning.
    """
    import numpy as np
    import pandas as pd

    bench = benchmark.select(vec_col).collect()
    if not bench:
        # an empty benchmark means nothing can be contaminated; without
        # this guard the executor kernel builds a 0-row 1-D array and
        # `xm @ bmat.T` / `max(axis=1)` raise at runtime
        return corpus.select(
            id_col,
            F.lit(0.0).alias("max_sim"),
            F.lit(False).alias("contaminated"),
        )
    bm = np.array([list(r[0]) for r in bench], dtype=np.float64)
    bm /= np.maximum(np.linalg.norm(bm, axis=1, keepdims=True), 1e-12)
    spark = corpus.sparkSession
    b_bench = spark.sparkContext.broadcast(bm)

    def kernel(it):
        bmat = b_bench.value
        for pdf in it:
            if not len(pdf):
                continue
            xm = np.array(list(pdf[vec_col]), dtype=np.float64)
            xm /= np.maximum(
                np.sqrt((xm * xm).sum(axis=1, keepdims=True)), 1e-12)
            sims = np.round(xm @ bmat.T, 6)
            mx = sims.max(axis=1)
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "max_sim": mx,
                "contaminated": mx >= threshold,
            })

    from pyspark.sql import types as T

    # keep the id column's incoming type (string/int32/long all work)
    schema = T.StructType([
        corpus.schema[id_col],
        T.StructField("max_sim", T.DoubleType()),
        T.StructField("contaminated", T.BooleanType()),
    ])
    return corpus.select(id_col, vec_col).mapInPandas(kernel, schema)


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 8,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """-> (doc_id, n_hits, n_grams, hit_ratio, example_gram) for every
    CONTAMINATED corpus doc (>= 1 shared n-gram with the benchmark).
    n_grams is the doc's distinct shingle count, so hit_ratio tells
    partial overlap from wholesale inclusion. example_gram (the min
    shared shingle) makes reports actionable without a second pass."""
    corpus_grams = _shingle_rows(corpus, text_col, id_col, ngram)
    bench_grams = _shingle_rows(
        benchmark, text_col, id_col, ngram
    ).select(F.col("__s").alias("__bs")).distinct()
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)

    sizes = corpus_grams.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"))
    hits = (
        corpus_grams.join(
            bench_grams, corpus_grams["__s"] == bench_grams["__bs"])
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"),
             F.min("__s").alias("example_gram"))
    )
    return (
        hits.join(sizes, id_col)
        .select(
            id_col, "n_hits", "n_grams",
            F.round(F.col("n_hits") / F.col("n_grams"), 6)
            .alias("hit_ratio"),
            "example_gram",
        )
        .orderBy(id_col)
    )
