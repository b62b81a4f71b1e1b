"""Round-6 registry queries — additions to the training-data operator
family, each with a full DuckDB oracle:

  unimax_mixture   — UniMax epoch-capped budget allocation (Chung et
      al., ICLR 2023): the waterfill closed form as two window
      expressions over the per-source token counts;
  cms_heavy_hitters — count-min sketch (Cormode & Muthukrishnan 2005)
      built at token grain, probed with the corpus's true top-k; the
      one-sided error (overshoot >= 0) is visible in the result and
      the oracle replays the hashing bit-for-bit;
  doc_novelty      — per-doc fraction of distinct word trigrams that
      appear in NO other document (the n-gram diversity contribution
      score a curation pass uses to protect rare content from
      aggressive dedup);
  classifier_scores / classifier_eval — the TRAINED hashed-bag
      quality classifier (quantized-GD logistic regression,
      operators/classifier.py): per-doc scores under weights fitted
      on the corpus's own seed labels, and its exact rank-sum
      AUC/accuracy; the oracle replays all T training iterations as
      unrolled CTEs (the k-means discipline applied to gradient
      descent);
  unimax_curated_sample — the UniMax allocation MATERIALIZED: keep
      rate min(1, allocation/n_tokens) per source, md5-mod doc
      membership, realized per-source doc/token counts — mixture
      design driving an actual shuffle-free downsample;
  mg_heavy_hitters — Misra-Gries two-pass exact heavy hitters: the
      bounded-state candidate pass is partition-dependent, but its
      superset guarantee makes the exact-recount output deterministic,
      so a sketch-pruned plan carries a full SQL oracle;
  unimax_packed_pipeline — the full curation chain as ONE plan:
      UniMax mixture -> md5-mod downsample -> 256-token sequence
      packing, with per-chunk source-mixing stats;
  hdr_quantiles — quantile bounds from a bounded log-linear histogram
      (HdrHistogram-style): integer-exact bucketing makes an
      approximate-quantile sketch deterministic enough for a full
      SQL oracle;
  curation_pipeline_verify — the EFFECTFUL end-to-end: gate -> dedup
      -> UniMax sample -> pack -> WRITE the manifest -> read back,
      the written artifact proven against a SQL replay of the chain
      (migration_copy_verify's discipline on the training-data path);
  reservoir_sample — per-source weighted reservoir (Efraimidis-
      Spirakis) with derived retry-idempotent priorities: the sample
      is partition-invariant, equal to its streaming twin by
      construction, and SQL-replicable;
  packed_interleaved — round-robin source-interleaved packing, the
      mixture-balance twin of unimax_packed_pipeline (avg distinct
      sources per chunk 4.65 vs 4.35 at sf0.01 — ~99% vs ~93% of the
      per-chunk maximum);
  hll_distinct — deterministic HyperLogLog: md5-derived registers and
      an integer harmonic sum make the estimate a pure function of
      the value set, so the approximate-distinct sketch carries a
      full SQL oracle (the twin of rows-only approx_distinct);
  source_length_profile — per-source doc-length quantile bounds from
      one grouped HDR build (the pre-gate length profile of the
      mixture);
  source_vocab_overlap — pairwise source vocabulary overlap from HLL
      register set algebra: union = per-bucket max, intersection by
      inclusion-exclusion; one corpus scan, all pair estimates are
      register-table arithmetic;
  source_heavy_hitters — per-source exact heavy hitters via grouped
      Misra-Gries pruning (k bounded counters per source per
      partition; the per-group superset guarantee keeps the recounted
      output deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hummingbird_spark.sources.tables import load_table

# tokens(text) in DuckDB, the idiom every text oracle here pins
_TOKS = (r"CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[] "
         r"ELSE string_split_regex(trim(text), '\s+') END")

# --------------------------------------------------------------------------
# UniMax mixture allocation
_UM_EPOCHS = 2.0
_UM_BUDGET = 52_000.0    # just under the sf0.01 corpus capacity
                         # (54,330): the fixture lands 9 sources on the
                         # capped side of the crossover and 11 on the
                         # equal-share side


def q_unimax_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hummingbird_spark.functions.text import token_count
    from hummingbird_spark.operators.mixture import unimax_allocation

    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(
        F.sum(token_count(F.col("text"))).alias("n_tokens"))
    return unimax_allocation(
        counts, budget=_UM_BUDGET, epoch_cap=_UM_EPOCHS
    ).orderBy("source")


def _unimax_cte(budget: float, epochs: float,
                src: str = "documents",
                counts_sql: str | None = None) -> str:
    """c -> alloc CTE chain replicating operators/mixture.py; shared
    by the unimax_mixture / curated-sample / packed-pipeline /
    curation_pipeline_verify / curation_composite_weights oracles.
    `src` is the relation the per-source token counts aggregate over
    (the raw table, or a curated CTE defined upstream in the caller's
    WITH chain); `counts_sql` overrides the c body entirely for
    callers whose (source, n_tokens) counts are not raw token counts
    (the r8 composite feeds quality-weighted masses)."""
    counts = counts_sql or rf"""
  SELECT source,
         CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens
  FROM {src} GROUP BY source"""
    return rf"""c AS ({counts}
),
m AS (
  -- CAST: a bare float literal parses as DECIMAL and would type the
  -- capacity column (and every window sum over it) as DECIMAL, not
  -- the DOUBLE the Spark side carries
  SELECT source, n_tokens,
         CAST({epochs} AS DOUBLE) * n_tokens AS capacity,
         row_number() OVER w AS k,
         COUNT(*) OVER () AS n,
         COALESCE(SUM(CAST({epochs} AS DOUBLE) * n_tokens) OVER (
           ORDER BY CAST({epochs} AS DOUBLE) * n_tokens, source
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
           AS prev
  FROM c
  WINDOW w AS (ORDER BY CAST({epochs} AS DOUBLE) * n_tokens, source)
),
f AS (
  SELECT *, capacity * (n - k + 1) <= {budget} - prev AS capped
  FROM m
),
g AS (
  SELECT *,
         SUM(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS n_capped,
         COALESCE(SUM(CASE WHEN capped THEN capacity END) OVER (), 0.0)
           AS s_capped
  FROM f
),
alloc AS (
  SELECT source, n_tokens, capacity,
         round(CASE WHEN capped THEN capacity
                    WHEN n > n_capped
                      THEN ({budget} - s_capped)
                           / CAST(n - n_capped AS DOUBLE)
                    ELSE 0.0 END, 4) AS allocation
  FROM g
)"""


ORACLE_UNIMAX = rf"""
WITH {_unimax_cte(_UM_BUDGET, _UM_EPOCHS)}
SELECT source, n_tokens, capacity, allocation,
       CASE WHEN n_tokens > 0 THEN round(allocation / n_tokens, 6)
            ELSE 0.0 END AS epochs,
       round(allocation / {_UM_BUDGET}, 6) AS weight
FROM alloc ORDER BY source
"""

# --------------------------------------------------------------------------
# UniMax-driven curation: the allocation actually materializing a
# deterministic per-source downsample (allocation -> md5-mod keep rate
# -> realized mixture). Constants tuned so the sf0.01 fixture exercises
# BOTH regimes with VARIED rates: epoch_cap=0.5, budget=12,800 lands 6
# sources capped (keep rate 0.5) and 14 equal-share (rates 0.42-0.48).
_UMC_EPOCHS = 0.5
_UMC_BUDGET = 12_800.0


def _unimax_rates(d: DataFrame, budget: float = _UMC_BUDGET,
                  epochs: float = _UMC_EPOCHS) -> DataFrame:
    """documents -> (source, n_tokens, allocation, thr): per-source
    UniMax keep thresholds in basis points, staged via localCheckpoint
    because every caller consumes it at least twice — without staging,
    each consumer replays the full corpus token-count aggregation (one
    extra 100 TB scan for a 20-row frame)."""
    from hummingbird_spark.functions.text import token_count
    from hummingbird_spark.operators.mixture import unimax_allocation

    counts = d.groupBy("source").agg(
        F.sum(token_count(F.col("text"))).alias("n_tokens"))
    alloc = unimax_allocation(counts, budget=budget, epoch_cap=epochs)
    return alloc.select(
        "source", "n_tokens", "allocation",
        F.floor(
            F.least(F.lit(1.0),
                    F.when(F.col("n_tokens") > 0,
                           F.col("allocation") / F.col("n_tokens"))
                    .otherwise(F.lit(0.0)))
            * 10000).cast("long").alias("thr"),
    ).localCheckpoint(eager=False)


def _umc_keep():
    """md5-mod doc membership (the mixture_rebalance idiom:
    reproducible, no rand()) against the broadcast per-source
    threshold. A function, not a module-level Column — Column
    construction needs an active SparkContext."""
    return (
        F.conv(F.substring(
            F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 10000 < F.col("thr")
    )


def q_unimax_curated_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One pass: per-source counts -> UniMax allocation -> keep rate
    r_s = min(1, allocation/n_tokens) -> md5-mod doc membership ->
    realized per-source doc/token counts. The tiny allocation frame
    broadcasts into the corpus scan, so the sample is one shuffle-free
    filter."""
    from hummingbird_spark.functions.text import token_count

    d = load_table(spark, sf_dir, "documents")
    rates = _unimax_rates(d)
    kept = (
        d.join(F.broadcast(rates.select("source", "thr")), "source")
        .filter(_umc_keep())
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("kept_docs"),
             F.sum(token_count(F.col("text"))).alias("kept_tokens"))
    )
    return (
        # kept is <= one row per source by construction; hint it (the
        # checkpointed rates frame has no size stats, so Catalyst
        # would otherwise pick a sort-merge join here)
        rates.join(F.broadcast(kept), "source", "left")
        .select(
            "source", "n_tokens", "allocation",
            F.coalesce("kept_docs", F.lit(0)).alias("kept_docs"),
            F.coalesce("kept_tokens", F.lit(0)).alias("kept_tokens"),
        )
        .orderBy("source")
    )


# rates CTE (alloc -> per-source md5-mod keep threshold in basis
# points), shared by the curated-sample and packed-pipeline oracles
_RATES_CTE = r"""rates AS (
  SELECT source, n_tokens, allocation,
         CAST(FLOOR(LEAST(CAST(1.0 AS DOUBLE),
                          CASE WHEN n_tokens > 0
                               THEN allocation / n_tokens
                               ELSE 0.0 END) * 10000) AS BIGINT) AS thr
  FROM alloc
)"""

ORACLE_UNIMAX_CURATED = rf"""
WITH {_unimax_cte(_UMC_BUDGET, _UMC_EPOCHS)},
{_RATES_CTE},
kept AS (
  SELECT d.source, len({_TOKS}) AS toks
  FROM documents d JOIN rates r USING (source)
  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
          % 10000 < r.thr
),
ka AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS kept_docs,
         CAST(SUM(toks) AS BIGINT) AS kept_tokens
  FROM kept GROUP BY source
)
SELECT r.source, r.n_tokens, r.allocation,
       COALESCE(k.kept_docs, 0) AS kept_docs,
       COALESCE(k.kept_tokens, 0) AS kept_tokens
FROM rates r LEFT JOIN ka k USING (source)
ORDER BY r.source
"""


# --------------------------------------------------------------------------
# The full curation pipeline in one query: UniMax mixture design ->
# deterministic per-source downsample -> sequence packing of the kept
# docs into fixed token budgets (the pack_sequences discipline from
# queries_analytics.py applied to the SAMPLED sub-corpus). Per-chunk
# n_sources exposes how well packing interleaves the mixture.
_UPP_BUDGET = 256


def q_unimax_packed_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mixture -> sampling -> packing chained as one plan: the UniMax
    rates broadcast into the corpus scan (shuffle-free keep filter),
    then the kept docs concat-then-chunk into 256-token sequences in
    deterministic md5 order. One corpus scan for rates, one for the
    kept stream; the only shuffle after the filter is the global
    ordering window that packing is BY DEFINITION (documented in
    q_pack_sequences: a 100 TB deployment packs per-shard by hashing
    ord_key ranges; the global order here is the oracle-checkable
    spec)."""
    from pyspark.sql import Window

    from hummingbird_spark.functions.text import bpe_ish_token_count

    d = load_table(spark, sf_dir, "documents")
    rates = _unimax_rates(d)
    kept = (
        d.join(F.broadcast(rates.select("source", "thr")), "source")
        .filter(_umc_keep())
        .select(
            "doc_id", "source",
            F.md5(F.col("doc_id").cast("string")).alias("ord_key"),
            bpe_ish_token_count(F.col("text")).alias("n_tok"),
        )
    )
    w = Window.orderBy("ord_key", "doc_id") \
        .rowsBetween(Window.unboundedPreceding, 0)
    chunk = F.floor((F.sum("n_tok").over(w) - F.col("n_tok"))
                    / F.lit(_UPP_BUDGET))
    return (
        kept.withColumn("chunk_id", chunk)
        .groupBy("chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_tok").alias("n_tokens"),
        )
        .orderBy("chunk_id")
    )


ORACLE_UNIMAX_PACKED = rf"""
WITH {_unimax_cte(_UMC_BUDGET, _UMC_EPOCHS)},
{_RATES_CTE},
kept AS (
  SELECT d.doc_id, d.source,
         md5(CAST(d.doc_id AS VARCHAR)) AS ord_key,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+'))
           AS n_tok
  FROM documents d JOIN rates r USING (source)
  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
          % 10000 < r.thr
),
packed AS (
  SELECT doc_id, source, n_tok,
         CAST(FLOOR((SUM(n_tok) OVER (ORDER BY ord_key, doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tok)
                    / {_UPP_BUDGET}) AS BIGINT) AS chunk_id
  FROM kept
)
SELECT chunk_id, COUNT(*) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM packed GROUP BY chunk_id ORDER BY chunk_id
"""


# --------------------------------------------------------------------------
# The effectful curation pipeline verify: the migration_copy_verify
# discipline (queries_r4.py) applied to the training-data path. RUN
# quality filter -> prefix-fingerprint dedup -> UniMax sample ->
# sequence packing, WRITE the packed manifest to a temp target, read
# it back, and prove the written artifact content-matches a pure-SQL
# replay of the whole chain over the source table. Constants tuned so
# every stage cuts at sf0.01: filter 500 -> 394 docs, dedup -> 297,
# UniMax budget 9,000 of ~18.9k curated tokens (cap 0.6 splits the
# sources across both waterfill regimes).
_CPV_MIN_TOK = 30
_CPV_EPOCHS = 0.6
_CPV_BUDGET = 9_000.0
_CPV_PACK = 256
_CPV_MOD = 1_000_000_007


def q_curation_pipeline_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end effectful proof of the curation chain: every stage
    a real deployment runs (gate, dedup, mixture-weighted downsample,
    packing) executes, the packed manifest is WRITTEN to parquet and
    READ BACK, and the returned 1-row frame fingerprints the artifact
    (chunk count, doc/token totals, md5-mod membership checksum,
    max chunk fill). The oracle replays the chain in SQL over the
    source — a faithfully written, complete, correctly-ordered
    manifest is the only way the hashes match. Dedup here is
    first-2-token prefix fingerprinting (keep the lowest doc_id per
    fingerprint) — the fixture has no exact-text dups, so exact dedup
    would be a dead stage; prefix collisions are real (97 docs cut)."""
    import shutil
    import tempfile

    from pyspark.sql import Window
    from pyspark.sql import types as T

    from hummingbird_spark.functions.text import (
        bpe_ish_token_count,
        token_count,
        tokens,
    )

    d = load_table(spark, sf_dir, "documents")
    gated = d.filter(token_count(F.col("text")) >= _CPV_MIN_TOK)
    fpr = F.md5(F.concat_ws(
        " ",
        F.lower(F.element_at(tokens(F.col("text")), 1)),
        F.lower(F.element_at(tokens(F.col("text")), 2)),
    ))
    dedup_w = Window.partitionBy(fpr).orderBy("doc_id")
    curated = (
        gated.withColumn("__rn", F.row_number().over(dedup_w))
        .filter(F.col("__rn") == 1).drop("__rn")
    )
    rates = _unimax_rates(curated, _CPV_BUDGET, _CPV_EPOCHS)
    kept = (
        curated.join(F.broadcast(rates.select("source", "thr")), "source")
        .filter(_umc_keep())
        .select(
            "doc_id", "source",
            F.md5(F.col("doc_id").cast("string")).alias("ord_key"),
            bpe_ish_token_count(F.col("text")).alias("n_tok"),
        )
    )
    w = Window.orderBy("ord_key", "doc_id") \
        .rowsBetween(Window.unboundedPreceding, 0)
    doc_ck = (
        F.conv(F.substring(
            F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % _CPV_MOD
    )
    manifest = (
        kept.withColumn(
            "chunk_id",
            F.floor((F.sum("n_tok").over(w) - F.col("n_tok"))
                    / F.lit(_CPV_PACK)))
        .groupBy("chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum(doc_ck).alias("doc_ck"),
        )
    )
    tmp = tempfile.mkdtemp(prefix="hb_curation_verify_")
    try:
        # THE effectful step: persist the packed manifest, then verify
        # the artifact that was actually written, not the plan
        manifest.write.mode("overwrite").parquet(f"{tmp}/packed.parquet")
        back = spark.read.parquet(f"{tmp}/packed.parquet")
        row = back.agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            (F.sum("doc_ck") % _CPV_MOD).alias("docs_ck"),
            F.max("n_docs").alias("max_chunk_docs"),
        ).collect()[0]  # bounded: exactly one row
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    schema = T.StructType([
        T.StructField("n_chunks", T.LongType()),
        T.StructField("n_docs", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("docs_ck", T.LongType()),
        T.StructField("max_chunk_docs", T.LongType()),
    ])
    return spark.createDataFrame([row], schema)


ORACLE_CURATION_VERIFY = rf"""
WITH gated AS (
  SELECT doc_id, source, text,
         list_transform({_TOKS}, w -> lower(w)) AS ws
  FROM documents
  WHERE len({_TOKS}) >= {_CPV_MIN_TOK}
),
curated AS (
  SELECT doc_id, source, text FROM (
    SELECT doc_id, source, text,
           row_number() OVER (PARTITION BY md5(ws[1] || ' ' || ws[2])
                              ORDER BY doc_id) AS rn
    FROM gated
  ) WHERE rn = 1
),
{_unimax_cte(_CPV_BUDGET, _CPV_EPOCHS, src="curated")},
{_RATES_CTE},
kept AS (
  SELECT d.doc_id,
         md5(CAST(d.doc_id AS VARCHAR)) AS ord_key,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+'))
           AS n_tok,
         ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
           % {_CPV_MOD} AS doc_ck
  FROM curated d JOIN rates r USING (source)
  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
          % 10000 < r.thr
),
packed AS (
  SELECT doc_id, n_tok, doc_ck,
         CAST(FLOOR((SUM(n_tok) OVER (ORDER BY ord_key, doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tok)
                    / {_CPV_PACK}) AS BIGINT) AS chunk_id
  FROM kept
),
chunks AS (
  SELECT chunk_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         CAST(SUM(doc_ck) AS BIGINT) AS doc_ck
  FROM packed GROUP BY chunk_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(doc_ck) % {_CPV_MOD} AS BIGINT) AS docs_ck,
       CAST(MAX(n_docs) AS BIGINT) AS max_chunk_docs
FROM chunks
"""


# --------------------------------------------------------------------------
# HDR log-linear quantile histogram
_HDR_S = 5


def q_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles of doc length from a bounded mergeable histogram
    (HdrHistogram-style log-linear buckets; see operators/sketch.py::
    hdr_bucket): one corpus scan builds <= 64*2^s counter rows, then a
    tiny rank window selects the first bucket covering ceil(q*n).
    Every step is integer shift arithmetic — no libm in the mapping —
    so unlike a t-digest/KLL the structure is deterministic and
    bit-identical across engines AND merges, which is why an
    approximate-quantile sketch can carry a full SQL oracle. True
    quantile lies in [lo, hi] with relative error <= 2^-s."""
    from hummingbird_spark.operators.sketch import hdr_quantiles

    d = load_table(spark, sf_dir, "documents")
    return hdr_quantiles(d, "n_chars", (0.5, 0.9, 0.99), _HDR_S)


ORACLE_HDR = rf"""
WITH b AS (
  SELECT CASE WHEN n_chars < 32 THEN CAST(n_chars AS BIGINT)
         ELSE (CAST(length(bin(n_chars)) AS BIGINT) - {_HDR_S}) * 32
              + (CAST(n_chars AS BIGINT)
                 >> (length(bin(n_chars)) - 1 - {_HDR_S})) - 32
         END AS bucket
  FROM documents
),
h AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY bucket),
c AS (
  SELECT bucket,
         CAST(SUM(cnt) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum,
         CAST(SUM(cnt) OVER () AS BIGINT) AS n
  FROM h
),
qs AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q),
sel AS (
  SELECT qs.q, MIN(c.bucket) AS bucket
  FROM qs JOIN c ON c.cum >= CAST(CEIL(qs.q * c.n) AS BIGINT)
  GROUP BY qs.q
)
SELECT q, bucket,
       CASE WHEN bucket < 32 THEN bucket
            ELSE (32 + (bucket % 32)) << ((bucket >> 5) - 1) END AS lo,
       CASE WHEN bucket < 32 THEN bucket
            ELSE ((32 + (bucket % 32)) << ((bucket >> 5) - 1))
                 + (1 << ((bucket >> 5) - 1)) - 1 END AS hi
FROM sel ORDER BY q
"""


# --------------------------------------------------------------------------
# Mixture-balanced packing: round-robin source interleave. The packing
# twin of unimax_packed_pipeline — same kept sub-corpus, but the
# concat order is (within-source md5 rank, source) instead of plain
# md5, so consecutive docs cycle through the sources and every chunk
# sees close to the full mixture (avg n_sources per chunk measurably
# higher than md5 order; both queries expose the metric so the lever
# is visible in the result, not just claimed).


def q_packed_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same UniMax-kept docs as unimax_packed_pipeline, packed in
    round-robin source order: rank docs within each source by md5
    (one per-source window), then order globally by (rank, source) —
    doc 1 of every source, then doc 2 of every source, ... Chunks
    then interleave the mixture instead of sampling it. Two windows
    total; the per-source rank window partitions by source (parallel),
    only the final packing cumsum is the single global ordering that
    packing is by definition."""
    from pyspark.sql import Window

    from hummingbird_spark.functions.text import bpe_ish_token_count

    d = load_table(spark, sf_dir, "documents")
    rates = _unimax_rates(d)
    kept = (
        d.join(F.broadcast(rates.select("source", "thr")), "source")
        .filter(_umc_keep())
        .select(
            "doc_id", "source",
            F.md5(F.col("doc_id").cast("string")).alias("ord_key"),
            bpe_ish_token_count(F.col("text")).alias("n_tok"),
        )
    )
    rr = Window.partitionBy("source").orderBy("ord_key", "doc_id")
    kept = kept.withColumn("rr_rank", F.row_number().over(rr))
    w = Window.orderBy("rr_rank", "source", "doc_id") \
        .rowsBetween(Window.unboundedPreceding, 0)
    chunk = F.floor((F.sum("n_tok").over(w) - F.col("n_tok"))
                    / F.lit(_UPP_BUDGET))
    return (
        kept.withColumn("chunk_id", chunk)
        .groupBy("chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_tok").alias("n_tokens"),
        )
        .orderBy("chunk_id")
    )


ORACLE_PACKED_INTERLEAVED = rf"""
WITH {_unimax_cte(_UMC_BUDGET, _UMC_EPOCHS)},
{_RATES_CTE},
kept AS (
  SELECT d.doc_id, d.source,
         md5(CAST(d.doc_id AS VARCHAR)) AS ord_key,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+'))
           AS n_tok
  FROM documents d JOIN rates r USING (source)
  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
          % 10000 < r.thr
),
rr AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY ord_key, doc_id) AS rr_rank
  FROM kept
),
packed AS (
  SELECT doc_id, source, n_tok,
         CAST(FLOOR((SUM(n_tok) OVER (ORDER BY rr_rank, source, doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tok)
                    / {_UPP_BUDGET}) AS BIGINT) AS chunk_id
  FROM rr
)
SELECT chunk_id, COUNT(*) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM packed GROUP BY chunk_id ORDER BY chunk_id
"""


def q_source_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source doc-length quantile bounds (p50/p90) from ONE
    grouped HDR build — the length-distribution profile a curation
    pass reads before setting per-source gates. Same integer-exact
    bucket arithmetic as hdr_quantiles, windows partitioned by source
    (parallel); the corpus contributes exactly one scan."""
    from hummingbird_spark.operators.sketch import hdr_quantiles_grouped

    d = load_table(spark, sf_dir, "documents")
    return hdr_quantiles_grouped(d, "n_chars", ["source"],
                                 (0.5, 0.9), _HDR_S)


ORACLE_SOURCE_PROFILE = rf"""
WITH b AS (
  SELECT source,
         CASE WHEN n_chars < 32 THEN CAST(n_chars AS BIGINT)
         ELSE (CAST(length(bin(n_chars)) AS BIGINT) - {_HDR_S}) * 32
              + (CAST(n_chars AS BIGINT)
                 >> (length(bin(n_chars)) - 1 - {_HDR_S})) - 32
         END AS bucket
  FROM documents
),
h AS (SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM b GROUP BY 1, 2),
c AS (
  SELECT source, bucket,
         CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY bucket
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(SUM(cnt) OVER (PARTITION BY source) AS BIGINT) AS n
  FROM h
),
qs AS (SELECT CAST(unnest([0.5, 0.9]) AS DOUBLE) AS q),
sel AS (
  SELECT c.source, qs.q, MIN(c.bucket) AS bucket
  FROM qs JOIN c ON c.cum >= CAST(CEIL(qs.q * c.n) AS BIGINT)
  GROUP BY 1, 2
)
SELECT source, q,
       CASE WHEN bucket < 32 THEN bucket
            ELSE (32 + (bucket % 32)) << ((bucket >> 5) - 1) END AS lo,
       CASE WHEN bucket < 32 THEN bucket
            ELSE ((32 + (bucket % 32)) << ((bucket >> 5) - 1))
                 + (1 << ((bucket >> 5) - 1)) - 1 END AS hi
FROM sel ORDER BY source, q
"""


# --------------------------------------------------------------------------
# Deterministic HyperLogLog (shrinks the rows-only floor: the existing
# approx_distinct uses Spark's internal HLL++ hash, so it can only be
# rows-checked; this twin derives its registers from md5, making the
# whole estimate a pure function of the value set)
_HLL_M = 256


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag distinct-part estimate from a deterministic HLL
    (Flajolet et al. 2007) next to the exact count — the same shape as
    the rows-only `approx_distinct`, but with md5-derived registers,
    an integer harmonic sum (sum(2^50 >> rho): no float accumulation
    order), and a single-division estimate, the whole sketch replays
    in SQL bit-for-bit. rel_err makes the ~1.04/sqrt(m)=6.5% guarantee
    visible in the result."""
    from hummingbird_spark.operators.sketch import hll_distinct

    li = load_table(spark, sf_dir, "lineitem")
    est = hll_distinct(li, "l_partkey", ["l_returnflag"], _HLL_M)
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"))
    return (
        exact.join(est, "l_returnflag")
        .select(
            "l_returnflag", "exact_parts", "hll_est",
            F.round((F.col("hll_est") - F.col("exact_parts"))
                    / F.col("exact_parts"), 4).alias("rel_err"),
        )
        .orderBy("l_returnflag")
    )


_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)
_HLL_C2 = _HLL_ALPHA * _HLL_M * _HLL_M * float(1 << 50)

ORACLE_HLL = rf"""
WITH h AS (
  SELECT l_returnflag,
         ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT
           AS h
  FROM lineitem
),
r AS (
  SELECT l_returnflag, h % {_HLL_M} AS bucket,
         CASE WHEN (h >> 8) = 0 THEN 53
              ELSE 53 - length(bin(h >> 8)) END AS rho
  FROM h
),
regs AS (
  SELECT l_returnflag, bucket, MAX(rho) AS rho
  FROM r GROUP BY 1, 2
),
per AS (
  SELECT l_returnflag,
         CAST(SUM((1::BIGINT << 50) >> rho)
              + ({_HLL_M} - COUNT(*)) * (1::BIGINT << 50) AS BIGINT)
           AS s,
         CAST({_HLL_M} - COUNT(*) AS BIGINT) AS zeros
  FROM regs GROUP BY 1
),
est AS (
  SELECT l_returnflag,
         CASE WHEN {_HLL_C2!r} / s <= {2.5 * _HLL_M} AND zeros > 0
              THEN round({float(_HLL_M)!r}
                         * ln({float(_HLL_M)!r} / zeros), 4)
              ELSE round({_HLL_C2!r} / s, 4) END AS hll_est
  FROM per
),
exact AS (
  SELECT l_returnflag,
         CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts
  FROM lineitem GROUP BY 1
)
SELECT e.l_returnflag, e.exact_parts, est.hll_est,
       round((est.hll_est - e.exact_parts) / e.exact_parts, 4)
         AS rel_err
FROM exact e JOIN est USING (l_returnflag)
ORDER BY e.l_returnflag
"""


def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise trigram-vocabulary overlap between sources from ONE
    register table (theta-sketch-style set algebra on the
    deterministic HLL): union registers are per-bucket maxes, the
    intersection falls out of inclusion-exclusion, jaccard_est screens
    source redundancy before a mixture designer weights them. The
    corpus is scanned once (register build); every pair estimate is
    register-table algebra, |pairs|*m rows regardless of corpus
    size."""
    from hummingbird_spark.functions.text import doc_trigrams
    from hummingbird_spark.operators.dedup import (
        ensure_kernel_parallelism,
    )
    from hummingbird_spark.operators.sketch import (
        hll_pairwise_overlap,
        hll_registers,
    )

    # the trigram explode + per-trigram md5 ride the scan stage — one
    # parquet file at bench scale would serialize them on one core
    # (guide §2.5); no-op at real scale. Measured 2.5 -> 1.5 s.
    d = ensure_kernel_parallelism(
        load_table(spark, sf_dir, "documents"))
    tg = d.select("source",
                  F.explode(doc_trigrams(F.col("text"))).alias("tok"))
    regs = hll_registers(tg, "tok", ["source"], _HLL_M) \
        .localCheckpoint(eager=False)  # singles + pairs + union share
    return (
        hll_pairwise_overlap(regs, "source", _HLL_M)
        .orderBy("ga", "gb")
    )


# the estimator CASE, shared by the singles and union CTEs below
def _hll_est_sql(src: str, groups: str) -> str:
    return rf"""(
  SELECT {groups},
         CASE WHEN {_HLL_C2!r} / s <= {2.5 * _HLL_M} AND zeros > 0
              THEN round({float(_HLL_M)!r}
                         * ln({float(_HLL_M)!r} / zeros), 4)
              ELSE round({_HLL_C2!r} / s, 4) END AS hll_est
  FROM (
    SELECT {groups},
           CAST(SUM((1::BIGINT << 50) >> rho)
                + ({_HLL_M} - COUNT(*)) * (1::BIGINT << 50) AS BIGINT)
             AS s,
           CAST({_HLL_M} - COUNT(*) AS BIGINT) AS zeros
    FROM {src} GROUP BY {groups}
  )
)"""


ORACLE_VOCAB_OVERLAP = rf"""
WITH ws AS (
  SELECT source, list_transform({_TOKS}, w -> lower(w)) AS ws
  FROM documents
),
tg AS (
  SELECT source,
         unnest(list_transform(range(1, len(ws) - 1),
                i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]))
           AS tok
  FROM ws WHERE len(ws) >= 3
),
h AS (
  SELECT source,
         ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
  FROM tg
),
regs AS (
  SELECT source, h % {_HLL_M} AS bucket,
         MAX(CASE WHEN (h >> 8) = 0 THEN 53
                  ELSE 53 - length(bin(h >> 8)) END) AS rho
  FROM h GROUP BY 1, 2
),
singles AS {_hll_est_sql("regs", "source")},
pairs AS (
  SELECT a.source AS ga, b.source AS gb
  FROM (SELECT DISTINCT source FROM regs) a
  JOIN (SELECT DISTINCT source FROM regs) b ON a.source < b.source
),
union_regs AS (
  SELECT ga, gb, bucket, MAX(rho) AS rho FROM (
    SELECT p.ga, p.gb, r.bucket, r.rho
    FROM regs r JOIN pairs p ON r.source = p.ga
    UNION ALL
    SELECT p.ga, p.gb, r.bucket, r.rho
    FROM regs r JOIN pairs p ON r.source = p.gb
  ) GROUP BY 1, 2, 3
),
u AS {_hll_est_sql("union_regs", "ga, gb")}
SELECT u.ga, u.gb, ea.hll_est AS est_a, eb.hll_est AS est_b,
       u.hll_est AS est_union,
       round((ea.hll_est + eb.hll_est - u.hll_est) / u.hll_est, 4)
         AS jaccard_est
FROM u
JOIN singles ea ON ea.source = u.ga
JOIN singles eb ON eb.source = u.gb
ORDER BY u.ga, u.gb
"""


# --------------------------------------------------------------------------
# Stratified weighted reservoir (Efraimidis-Spirakis, derived keys)
_RSV_K = 5
_RSV_SEED = "rsv"


def q_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=5 docs per source, sampled without replacement with
    probability ~ doc length (Efraimidis-Spirakis keys over the DSIR
    derived-uniform idiom — no rand(), so the sample is
    retry-idempotent, partition-invariant, equal to its streaming twin
    by construction, and SQL-replicable). The oracle replays
    u = (md5_60(seed:id)+1)/(2^60+2), key = round(ln(u)/w, 6), and
    the per-source rank window bit-for-bit."""
    from hummingbird_spark.operators.dsir import stratified_reservoir

    d = load_table(spark, sf_dir, "documents")
    return (
        stratified_reservoir(d, "source", _RSV_K,
                             weight_col="n_chars", seed=_RSV_SEED)
        .orderBy("source", "rk")
    )


ORACLE_RESERVOIR = rf"""
WITH keyed AS (
  SELECT source, doc_id, n_chars,
         round(ln((('0x' || substr(md5('{_RSV_SEED}:'
                       || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   + 1.0) / {float((1 << 60) + 2)!r})
               / GREATEST(CAST(n_chars AS DOUBLE), 1.0), 6) AS key
  FROM documents
),
r AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY key DESC, doc_id) AS rk
  FROM keyed
)
SELECT source, doc_id, n_chars, CAST(rk AS INT) AS rk
FROM r WHERE rk <= {_RSV_K}
ORDER BY source, rk
"""


# --------------------------------------------------------------------------
# Misra-Gries two-pass exact heavy hitters
_MG_K = 40


def q_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass exact heavy hitters (every token with cnt*(k+1) > n):
    Misra-Gries candidate pruning in k=40 bounded counters per
    partition, then an exact recount of candidates only. The candidate
    SET is partition-dependent, but the MG superset guarantee makes
    the filtered OUTPUT deterministic under any partitioning — which
    is what lets a sketch-pruned query carry a full SQL oracle (the
    oracle computes the same answer the slow way: vocabulary-grain
    counts + HAVING). At sf0.01 the flat 31-type unigram fixture keeps
    all types under k (pruning never fires here; the overflow path is
    exercised by tests/test_mg_topk.py's skewed corpora), so this
    entry proves the cross-engine parity of the full two-pass
    plumbing: Arrow fold -> sentinel weights -> broadcast recount."""
    from hummingbird_spark.operators.sketch import mg_heavy_hitters

    d = load_table(spark, sf_dir, "documents")
    return mg_heavy_hitters(d, k=_MG_K, gram="token")


ORACLE_MG = rf"""
WITH toks AS (
  SELECT lower(unnest({_TOKS})) AS tok FROM documents
),
tc AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY tok
),
n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM tc)
SELECT tok, cnt FROM tc, n
WHERE cnt * {_MG_K + 1} > n
ORDER BY cnt DESC, tok
"""


def q_source_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact heavy hitters (every (source, tok) with
    cnt*(k+1) > n_source): the grouped form of mg_heavy_hitters —
    each partition folds k bounded counters PER SOURCE it sees, and
    the per-group superset guarantee makes the exact-recount output
    deterministic under any partitioning, so the grouped sketch also
    carries a full SQL oracle. The per-source top content a mixture
    designer reads next to source_vocab_overlap."""
    from hummingbird_spark.operators.sketch import mg_heavy_hitters_grouped

    d = load_table(spark, sf_dir, "documents")
    return mg_heavy_hitters_grouped(d, "source", k=_MG_K, gram="token")


ORACLE_SOURCE_HH = rf"""
WITH toks AS (
  SELECT source, lower(unnest({_TOKS})) AS tok FROM documents
),
tc AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM toks GROUP BY 1, 2
),
n AS (
  SELECT source, CAST(SUM(cnt) AS BIGINT) AS n FROM tc GROUP BY source
)
SELECT tc.source, tc.tok, tc.cnt
FROM tc JOIN n USING (source)
WHERE tc.cnt * {_MG_K + 1} > n.n
ORDER BY tc.source, tc.cnt DESC, tc.tok
"""


# --------------------------------------------------------------------------
# Count-min sketch heavy hitters
_CMS_D = 4
_CMS_W = 1024
_CMS_K = 20


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # trigram grain: ~16k types at sf0.01 against 4x1024 counters, so
    # bucket collisions are real and the one-sided error is visibly
    # nonzero in the result (a unigram sketch over this fixture's
    # 31-token vocabulary would be trivially collision-free)
    from hummingbird_spark.operators.sketch import cms_heavy_hitters

    d = load_table(spark, sf_dir, "documents")
    return cms_heavy_hitters(d, top_k=_CMS_K, depth=_CMS_D,
                             width=_CMS_W, gram="trigram")


ORACLE_CMS = rf"""
WITH ws AS (
  SELECT list_transform({_TOKS}, w -> lower(w)) AS ws FROM documents
),
toks AS (
  SELECT unnest(list_transform(range(1, len(ws) - 1),
                i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]))
           AS tok
  FROM ws WHERE len(ws) >= 3
),
tc AS (
  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
),
top AS (
  SELECT tok, cnt FROM tc ORDER BY cnt DESC, tok LIMIT {_CMS_K}
),
hashed AS (
  SELECT r.i AS row,
         ('0x' || substr(md5(r.i::VARCHAR || ':' || tok), 1, 15))::BIGINT
           % {_CMS_W} AS bucket,
         cnt
  FROM tc, (SELECT unnest(range(0, {_CMS_D})) AS i) r
),
sk AS (
  -- CAST: SUM(BIGINT) is HUGEINT in DuckDB, which pandas fetches as
  -- float64 and would type-mismatch Spark's long
  SELECT row, bucket, CAST(SUM(cnt) AS BIGINT) AS scnt
  FROM hashed GROUP BY 1, 2
),
est AS (
  SELECT t.tok, CAST(MIN(COALESCE(s.scnt, 0)) AS BIGINT) AS cms_est
  FROM top t
  CROSS JOIN (SELECT unnest(range(0, {_CMS_D})) AS i) r
  LEFT JOIN sk s
    ON s.row = r.i
   AND s.bucket = ('0x' || substr(md5(r.i::VARCHAR || ':' || t.tok),
                                  1, 15))::BIGINT % {_CMS_W}
  GROUP BY t.tok
)
SELECT top.tok, CAST(top.cnt AS BIGINT) AS cnt, est.cms_est,
       CAST(est.cms_est - top.cnt AS BIGINT) AS overshoot
FROM top JOIN est USING (tok)
ORDER BY cnt DESC, top.tok
"""

# --------------------------------------------------------------------------
# Per-doc n-gram novelty


def q_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every doc's distinct word-trigram set, scored by how much of it
    is corpus-unique. One explode at DISTINCT-per-doc grain, one
    trigram-grain aggregate (doc-frequency), one join back — all
    equi-keyed on the trigram, partial-aggregated map-side. Docs with
    <3 tokens score 0 novelty over 0 trigrams (kept in the output so
    the score is total over the corpus)."""
    from hummingbird_spark.functions.text import doc_trigrams

    d = load_table(spark, sf_dir, "documents")
    # NO input spread here (r12 re-adjudication of the r11 claim): the
    # interleaved A/B with the guard toggled in-process shows the
    # spread neutral-to-negative (nospread wins 2/3 rounds on min and
    # median; the spread's physical plan shows the extra exchange it
    # would add), and the r11 before/after dumps were
    # identical because the checkpoint hid the subtree — the claimed
    # win was never visible in the executed path.
    tg = (
        d
        .select("doc_id",
                F.explode(F.array_distinct(doc_trigrams(F.col("text"))))
                .alias("tg"))
        .localCheckpoint(eager=False)  # df-count + per-doc join share it
    )
    df_counts = tg.groupBy("tg").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        tg.join(df_counts, "tg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.round(F.avg((F.col("df") == 1).cast("double")), 6)
            .alias("novelty"),
        )
    )
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_trigrams", F.lit(0)).alias("n_trigrams"),
            F.coalesce("novelty", F.lit(0.0)).alias("novelty"),
        )
        .orderBy("doc_id")
    )


ORACLE_DOC_NOVELTY = rf"""
WITH ws AS (
  SELECT doc_id,
         list_transform({_TOKS}, w -> lower(w)) AS ws
  FROM documents
),
tg AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(ws) - 1),
                  i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]))
             AS g
    FROM ws WHERE len(ws) >= 3)
),
dfreq AS (
  SELECT g, COUNT(*) AS df FROM tg GROUP BY g
),
per_doc AS (
  SELECT tg.doc_id, COUNT(*) AS n_trigrams,
         round(AVG(CASE WHEN df = 1 THEN 1.0 ELSE 0.0 END), 6)
           AS novelty
  FROM tg JOIN dfreq USING (g) GROUP BY tg.doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_trigrams, 0) AS n_trigrams,
       COALESCE(p.novelty, 0.0) AS novelty
FROM documents d LEFT JOIN per_doc p USING (doc_id)
ORDER BY d.doc_id
"""


# --------------------------------------------------------------------------
# Trained hashed-bag quality classifier (quantized-GD logistic regression)
_QC_B = 64
_QC_T = 3
_QC_LR = 0.5
_QC_SALT = "qcls-v1"


def q_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hummingbird_spark.operators.classifier import train_and_score

    d = load_table(spark, sf_dir, "documents")
    return train_and_score(
        d, F.col("lang") == "en", buckets=_QC_B, iterations=_QC_T,
        lr=_QC_LR, salt=_QC_SALT,
    ).orderBy("doc_id")


def _logreg_cte(buckets: int, iters: int, lr: float, salt: str) -> str:
    """Unrolled-iteration replica of operators/classifier.py: hashed
    counts -> T x (integer dot-product z, 6-dp sigmoid, integer
    residual, per-cell-rounded integer gradient, half-away weight
    update) -> final scores. All cross-row sums are integer sums, so
    the replay is exact. AS MATERIALIZED: DuckDB's default CTE
    inlining would re-derive the token pipeline inside every
    iteration's joins (the kn_perplexity lesson)."""
    parts = [f"""
ctoks AS MATERIALIZED (
  SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS y,
         lower(unnest({_TOKS})) AS w
  FROM documents
),
ccnts AS MATERIALIZED (
  SELECT doc_id,
         ('0x' || substr(md5('{salt}' || w), 1, 15))::BIGINT
           % {buckets} AS bucket,
         COUNT(*) AS cnt
  FROM ctoks GROUP BY 1, 2
),
cdocs AS MATERIALIZED (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len, MIN(y) AS y
  FROM ctoks GROUP BY 1
),
cn AS (SELECT COUNT(*) AS n FROM cdocs),
w0 AS (SELECT unnest(range(0, {buckets + 1})) AS b, 0::BIGINT AS w)"""]
    for i in range(1, iters + 1):
        parts.append(f""",
z{i} AS (
  SELECT d.doc_id, d.len, d.y,
         CAST(SUM(c.cnt * w.w)
              + d.len * (SELECT w FROM w{i - 1} WHERE b = {buckets})
              AS DOUBLE) / (d.len * {SCALE_QC}.0) AS z
  FROM cdocs d JOIN ccnts c USING (doc_id)
  JOIN w{i - 1} w ON w.b = c.bucket
  GROUP BY d.doc_id, d.len, d.y
),
r{i} AS (
  SELECT doc_id, len,
         CAST(round((y - round(1.0 / (1.0 + exp(-z)), 6))
                    * {SCALE_QC}) AS BIGINT) AS R
  FROM z{i}
),
g{i} AS (
  SELECT c.bucket AS b,
         CAST(SUM(CAST(round(c.cnt * r.R / r.len) AS BIGINT))
              AS BIGINT) AS g
  FROM ccnts c JOIN r{i} r USING (doc_id) GROUP BY 1
  UNION ALL
  SELECT {buckets} AS b, CAST(SUM(R) AS BIGINT) AS g FROM r{i}
),
w{i} AS (
  SELECT w.b,
         w.w + CAST(round({lr} * COALESCE(g.g, 0) / cn.n) AS BIGINT)
           AS w
  FROM w{i - 1} w LEFT JOIN g{i} g USING (b) CROSS JOIN cn
)""")
    return "".join(parts)


SCALE_QC = 1_000_000

ORACLE_CLASSIFIER = rf"""
WITH {_logreg_cte(_QC_B, _QC_T, _QC_LR, _QC_SALT)},
sc AS (
  SELECT d.doc_id,
         round(1.0 / (1.0 + exp(-(
           CAST(SUM(c.cnt * w.w)
                + d.len * (SELECT w FROM w{_QC_T} WHERE b = {_QC_B})
                AS DOUBLE) / (d.len * {SCALE_QC}.0)))), 6) AS score
  FROM cdocs d JOIN ccnts c USING (doc_id)
  JOIN w{_QC_T} w ON w.b = c.bucket
  GROUP BY d.doc_id, d.len
)
SELECT d.doc_id, COALESCE(s.score, 0.5) AS score,
       CAST(d.lang = 'en' AS BIGINT) AS label
FROM documents d LEFT JOIN sc s USING (doc_id)
ORDER BY d.doc_id
"""


def q_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact evaluation of the trained classifier against its own seed
    labels: AUC by tie-averaged rank-sum (Mann-Whitney), accuracy at
    the 0.5 cut, and the base rate — one row. Every term is exact
    integer/rational arithmetic over the 6-dp scores, so the oracle
    hash-matches; the ranking runs over the distinct-score aggregate
    (bounded by score cardinality), not the corpus."""
    from pyspark.sql.window import Window

    from hummingbird_spark.operators.classifier import train_and_score

    d = load_table(spark, sf_dir, "documents")
    scored = train_and_score(
        d, F.col("lang") == "en", buckets=_QC_B, iterations=_QC_T,
        lr=_QC_LR, salt=_QC_SALT)
    by_score = scored.groupBy("score").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("label").alias("pos"),
    )
    w = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, -1)
    ranked = by_score.withColumn(
        "below", F.coalesce(F.sum("c").over(w), F.lit(0)))
    # avg rank of a tie group = below + (c+1)/2; rank-sum of positives
    # = sum over groups of pos * avg_rank
    agg = ranked.agg(
        F.sum(F.col("pos")
              * (F.col("below") + (F.col("c") + 1) / 2.0)).alias("rs"),
        F.sum("pos").alias("npos"),
        F.sum(F.col("c") - F.col("pos")).alias("nneg"),
        F.sum(F.when(F.col("score") > 0.5, F.col("pos"))
              .otherwise(F.col("c") - F.col("pos"))).alias("correct"),
        F.sum("c").alias("n"),
    )
    return agg.select(
        F.round((F.col("rs") - F.col("npos") * (F.col("npos") + 1) / 2.0)
                / (F.col("npos") * F.col("nneg")), 6).alias("auc"),
        F.round(F.col("correct") / F.col("n"), 6).alias("accuracy"),
        F.round(F.col("npos") / F.col("n"), 6).alias("base_rate"),
        F.col("n").alias("n_docs"),
    )


ORACLE_CLASSIFIER_EVAL = rf"""
WITH {_logreg_cte(_QC_B, _QC_T, _QC_LR, _QC_SALT)},
sc AS (
  SELECT d.doc_id,
         round(1.0 / (1.0 + exp(-(
           CAST(SUM(c.cnt * w.w)
                + d.len * (SELECT w FROM w{_QC_T} WHERE b = {_QC_B})
                AS DOUBLE) / (d.len * {SCALE_QC}.0)))), 6) AS score
  FROM cdocs d JOIN ccnts c USING (doc_id)
  JOIN w{_QC_T} w ON w.b = c.bucket
  GROUP BY d.doc_id, d.len
),
scored AS (
  SELECT COALESCE(s.score, 0.5) AS score,
         CAST(d.lang = 'en' AS BIGINT) AS label
  FROM documents d LEFT JOIN sc s USING (doc_id)
),
by_score AS (
  SELECT score, COUNT(*) AS c, SUM(label) AS pos
  FROM scored GROUP BY score
),
ranked AS (
  SELECT *, COALESCE(SUM(c) OVER (ORDER BY score
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS below
  FROM by_score
),
agg AS (
  SELECT SUM(pos * (below + (c + 1) / 2.0)) AS rs,
         SUM(pos) AS npos, SUM(c - pos) AS nneg,
         SUM(CASE WHEN score > 0.5 THEN pos ELSE c - pos END)
           AS correct,
         SUM(c) AS n
  FROM ranked
)
SELECT round((rs - npos * (npos + 1) / 2.0) / (npos * nneg), 6) AS auc,
       round(CAST(correct AS DOUBLE) / n, 6) AS accuracy,
       round(CAST(npos AS DOUBLE) / n, 6) AS base_rate,
       CAST(n AS BIGINT) AS n_docs
FROM agg
"""


R6_QUERIES: dict = {
    "classifier_scores": (
        q_classifier_scores, ORACLE_CLASSIFIER,
        "trained hashed-bag quality classifier (quantized-GD logreg)"),
    "classifier_eval": (
        q_classifier_eval, ORACLE_CLASSIFIER_EVAL,
        "exact AUC / accuracy of the trained classifier (rank-sum)"),
    "unimax_curated_sample": (
        q_unimax_curated_sample, ORACLE_UNIMAX_CURATED,
        "UniMax allocation materialized as an md5-mod downsample"),
    "mg_heavy_hitters": (
        q_mg_heavy_hitters, ORACLE_MG,
        "Misra-Gries two-pass exact heavy hitters (bounded-state "
        "candidate pruning, deterministic output)"),
    "unimax_packed_pipeline": (
        q_unimax_packed_pipeline, ORACLE_UNIMAX_PACKED,
        "UniMax mixture -> md5-mod downsample -> 256-token sequence "
        "packing, chained as one plan"),
    "hdr_quantiles": (
        q_hdr_quantiles, ORACLE_HDR,
        "doc-length quantile bounds from a bounded log-linear "
        "histogram (integer-exact, mergeable)"),
    "curation_pipeline_verify": (
        q_curation_pipeline_verify, ORACLE_CURATION_VERIFY,
        "effectful gate -> dedup -> UniMax sample -> pack -> WRITE, "
        "written manifest proven vs a SQL replay"),
    "reservoir_sample": (
        q_reservoir_sample, ORACLE_RESERVOIR,
        "per-source weighted reservoir (Efraimidis-Spirakis, derived "
        "retry-idempotent keys)"),
    "packed_interleaved": (
        q_packed_interleaved, ORACLE_PACKED_INTERLEAVED,
        "round-robin source-interleaved packing (the mixture-balance "
        "twin of unimax_packed_pipeline)"),
    "hll_distinct": (
        q_hll_distinct, ORACLE_HLL,
        "deterministic md5-register HyperLogLog vs exact distinct "
        "(the oracle-backed twin of rows-only approx_distinct)"),
    "source_length_profile": (
        q_source_length_profile, ORACLE_SOURCE_PROFILE,
        "per-source doc-length quantile bounds from one grouped HDR "
        "build"),
    "source_vocab_overlap": (
        q_source_vocab_overlap, ORACLE_VOCAB_OVERLAP,
        "pairwise source vocabulary overlap from HLL register set "
        "algebra (union = max, intersection by inclusion-exclusion)"),
    "source_heavy_hitters": (
        q_source_heavy_hitters, ORACLE_SOURCE_HH,
        "per-source exact heavy hitters via grouped Misra-Gries "
        "candidate pruning (deterministic two-pass)"),
    "unimax_mixture": (
        q_unimax_mixture, ORACLE_UNIMAX,
        "UniMax epoch-capped budget waterfill (Chung et al. 2023)"),
    "cms_heavy_hitters": (
        q_cms_heavy_hitters, ORACLE_CMS,
        "count-min sketch top-k probe, one-sided error visible"),
    "doc_novelty": (
        q_doc_novelty, ORACLE_DOC_NOVELTY,
        "per-doc corpus-unique trigram fraction (diversity score)"),
}
