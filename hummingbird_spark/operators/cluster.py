"""Distributed Lloyd's k-means over an embedding column — the
corpus-scale companion to `train_ivf_centroids` (which Lloyd-refines a
bounded driver-side sample, the FAISS recipe). Here every iteration
touches ALL rows, the shape you want when the clustering itself is the
product: semantic bucketing of a training corpus (cluster-balanced
sampling, per-cluster dedup pressure, topic mixtures) rather than a
coarse ANN quantizer.

Scale shape (per iteration, T iterations total):
  - assignment: centroids are a k x dim broadcast (numpy int64 matmul
    over Arrow batches — the same blocked-BLAS seam as `ivf_assign`);
    no shuffle, no skew (a broadcast lookup has no hot keys).
  - update: select(cluster, posexplode(xq)) -> groupBy(cluster, dim)
    SUM — Catalyst's partial aggregation collapses every partition to
    <= k*dim rows map-side, so the shuffle carries k*dim*partitions
    tiny rows regardless of corpus size (the treeAggregate shape for
    free). The driver holds only the k x dim centroid table.
  - T+1 corpus scans total (T update passes + the final assignment);
    Lloyd's floor.

Cross-engine determinism — EXACT, not rounded: input vectors are
quantized to integers (round(x * 1e6)), centroids live in the same
scaled integer space (the mean is re-rounded to an integer each
iteration), and the assignment metric is integer squared euclidean
distance. Integer sums are associative — any aggregation order, any
partitioning, any engine produces bit-identical centroids, so the
whole T-iteration trajectory replays exactly in SQL (unrolled CTEs in
the DuckDB oracle) with zero float-order risk. Magnitudes: |x| <= ~1
=> xq <= ~2e6, dist2 <= dim * (4e6)^2 ~ 1e15 << 2^63.

Ties: argmin picks the lowest cluster id (numpy argmin first-index ==
SQL ORDER BY d2, cluster LIMIT 1). The centroid mean is rounded
half-away-from-zero in PURE INTEGER arithmetic — (2s + n) // (2n)
with the sign factored out — on both engines, so exactness needs no
"s fits in a double" caveat (a double round(s/n) drifts from the
exact rational once s > 2^53, i.e. ~4e9 rows/cluster at |xq|~2e6;
the integer form is exact until 2s overflows int64 at ~1e12
rows/cluster, and the oracle uses the same integer expression).
Empty clusters keep their previous centroid (documented; the oracle
replicates via left join).

Init is seedless-deterministic: the k rows with the smallest
md5(id) — the same uniform-draw idiom as `train_ivf_centroids`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000  # quantization: 6 decimal places


def _quantize(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    return df.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * SCALE, 0).cast("long"),
        ).alias("__xq"),
    )


def _init_centroids(quant: DataFrame, k: int, id_col: str) -> list[list[int]]:
    rows = (
        quant.withColumn("__h", F.md5(F.col(id_col).cast("string")))
        .orderBy("__h")
        .limit(k)  # TakeOrdered — no global sort
        .select("__xq")
        .collect()
    )
    return [list(r[0]) for r in rows]


def _assign(quant: DataFrame, centroids: list[list[int]],
            id_col: str) -> DataFrame:
    """(id, __xq, cluster, dist2) — nearest centroid by integer squared
    euclidean distance; ties to the lowest cluster id."""
    import numpy as np
    import pandas as pd

    spark = quant.sparkSession
    b_cent = spark.sparkContext.broadcast(
        np.asarray(centroids, dtype=np.int64))

    def block(it):
        cent = b_cent.value                       # k x d int64
        c_sq = (cent * cent).sum(axis=1)          # |c|^2, k
        for pdf in it:
            if not len(pdf):
                continue
            xm = np.array(list(pdf["__xq"]), dtype=np.int64)  # b x d
            # d2 = |x|^2 - 2 x.c + |c|^2, all int64 (exact)
            cross = xm @ cent.T                   # b x k
            d2 = (xm * xm).sum(axis=1, keepdims=True) - 2 * cross + c_sq
            best = d2.argmin(axis=1)              # first min = lowest id
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "__xq": pdf["__xq"],
                "cluster": best.astype(np.int64),
                "dist2": d2[np.arange(len(best)), best],
            })

    from pyspark.sql import types as T

    # the id column keeps its incoming type (string/int32/long ids all
    # work); hardcoding `long` here broke non-long ids at runtime
    schema = T.StructType([
        quant.schema[id_col],
        T.StructField("__xq", T.ArrayType(T.LongType())),
        T.StructField("cluster", T.LongType()),
        T.StructField("dist2", T.LongType()),
    ])
    return quant.mapInPandas(block, schema)


def _update(assigned: DataFrame,
            centroids: list[list[int]]) -> list[list[int]]:
    """One Lloyd update: exact integer sums per (cluster, dim), partial-
    aggregated map-side; the driver holds only k*dim rows. Empty
    clusters keep their previous centroid."""
    upd = (
        assigned.select("cluster", F.posexplode("__xq").alias("dim", "x"))
        .groupBy("cluster", "dim")
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    out = [list(c) for c in centroids]
    for r in upd:
        # half-away-from-zero in exact integer arithmetic: no float
        # anywhere, so the value is engine-identical at any magnitude
        # (a double round(s/n) diverges from the exact rational once
        # s > 2^53; this form is exact until 2s overflows int64)
        s, n = r["s"], r["n"]
        out[r["cluster"]][r["dim"]] = (
            (2 * s + n) // (2 * n) if s >= 0 else -((-2 * s + n) // (2 * n)))
    return out


def kmeans_fit(df: DataFrame, k: int = 8, iterations: int = 3,
               vec_col: str = "embedding",
               id_col: str = "vec_id") -> list[list[int]]:
    """T full-corpus Lloyd iterations; returns the final k x dim
    integer centroids (scaled-by-1e6 space)."""
    quant = _quantize(df, vec_col, id_col)
    centroids = _init_centroids(quant, k, id_col)
    for _ in range(iterations):
        centroids = _update(_assign(quant, centroids, id_col), centroids)
    return centroids


def kmeans_assign(df: DataFrame, k: int = 8, iterations: int = 3,
                  vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """(id, cluster, dist2) for every row: fit T iterations, then one
    final assignment pass under the fitted centroids. dist2 is the
    exact integer squared distance in the 1e6-scaled space."""
    centroids = kmeans_fit(df, k, iterations, vec_col, id_col)
    quant = _quantize(df, vec_col, id_col)
    return _assign(quant, centroids, id_col).select(
        id_col, "cluster", "dist2")


def kmeans_sizes(df: DataFrame, k: int = 8, iterations: int = 3,
                 vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """(cluster, n, mean_dist2) — the cluster-profile rollup."""
    a = kmeans_assign(df, k, iterations, vec_col, id_col)
    return a.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("dist2"), 2).alias("mean_dist2"),
    )


def cluster_balanced_sample(df: DataFrame, k: int = 8,
                            n_per_cluster: int = 100,
                            iterations: int = 3,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id") -> DataFrame:
    """Uniform n-per-cluster draw over the k-means partition — the
    cluster-balanced sampling step of semantic curation (SemDeDup /
    cluster-pruning pipelines rebalance a skewed topic mix by sampling
    evenly across semantic buckets instead of uniformly over docs,
    which over-represents the dominant topic).

    The draw is the seedless md5-order idiom (rank by md5(id) within
    cluster). Scale shape — the naive form is a per-cluster window
    sort, and a 100 TB corpus with k=1000 makes that k sorts of n/k
    rows each, the exact hot-partition shape the r4 skew audit
    removed everywhere else. So: two-phase, the train_ivf_centroids
    trick at cluster grain — per-cluster counts (a k-row collect)
    size an md5-prefix cutoff targeting ~4x n_per survivors, the
    cutoff FILTER rides the assignment scan, and only the ~4x n_per*k
    survivors enter the window sort. The 4x margin makes undershoot
    astronomically unlikely; if a cutoff does undershoot, both this
    and the SQL oracle compute the same (smaller) sample — the
    selection stays engine-exact, deterministic, and documented
    rather than silently re-scanned.

    Clusters with count <= 4x n_per skip the filter (cutoff = full
    range), so small clusters always yield min(n, n_per) rows
    exactly."""
    a = kmeans_assign(df, k, iterations, vec_col, id_col) \
        .localCheckpoint(eager=False)  # counts + sample share the pass
    return balanced_sample_from_assignment(a, k, n_per_cluster, id_col)


def balanced_sample_from_assignment(a: DataFrame, k: int,
                                    n_per_cluster: int,
                                    id_col: str = "vec_id") -> DataFrame:
    """The sampling phase of `cluster_balanced_sample`, split out so it
    composes with any (id, cluster, dist2) assignment frame and so the
    skew probe (scripts/skew_probe_cluster_sample.py) can A/B the
    shipped two-phase cutoff against the naive full window sort on an
    adversarial hot-cluster assignment without re-fitting k-means."""
    counts = {r["cluster"]: r["n"]
              for r in a.groupBy("cluster").count()
              .withColumnRenamed("count", "n").collect()}
    cutoffs = []
    for c in range(k):
        n = counts.get(c, 0)
        frac = 1.0 if n <= 4 * n_per_cluster \
            else (4.0 * n_per_cluster) / n
        cutoffs.append(
            "ffffffff" if frac >= 1.0
            else format(int(frac * 0xFFFFFFFF), "08x"))
    cutoff_col = F.element_at(
        F.array(*[F.lit(x) for x in cutoffs]),
        (F.col("cluster") + 1).cast("int"))

    from pyspark.sql.window import Window

    h = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy("cluster").orderBy(h.asc(), F.col(id_col).asc())
    return (
        a.withColumn("__h", h)
        .filter(F.substring("__h", 1, 8) <= cutoff_col)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_cluster)
        .select(id_col, "cluster", "dist2")
    )
