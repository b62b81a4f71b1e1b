"""End-to-end corpus curation run: score -> filter -> dedup -> WRITE.

The registry's `corpus_curation` query is the read-side probe of this
pipeline; this operator is the materializing form a training-data run
executes — it lands the curated corpus to parquet and returns the
per-reason drop accounting (the number every curation report leads
with).

Drop-reason semantics follow the usual pipeline convention: each doc
gets the FIRST reason that disqualifies it, checked in fixed order
(empty -> quality -> language -> classifier -> dup_segments ->
perplexity -> dup),
so the report's reasons partition the corpus and sum to its size.

Plan shape at 100 TB (same discipline as corpus_curation):
  - the scored frame is one projection pass over the scan, staged once
    (localCheckpoint) because three consumers read it (dedup agg,
    survivor join, report rollup);
  - exact dedup adds one agg shuffle + a broadcast of the keep set;
  - segment-fraction screening (optional) adds the two segment
    shuffles of segment_duplicate_stats;
  - the write is a straight partitioned append of survivors — no
    orderBy, no coalesce(1).

Reference tie-in: run_migration (task.go:54-105) is the copy shell;
curation is the transform stack a reference user would bolt on via
masks/filters, generalized to the LLM-data surface.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hummingbird_spark.commit import publish
from hummingbird_spark.functions.text import (
    fingerprint,
    hashed_classifier_score,
    lang_id,
    quality_score,
    strip_repeated_lines,
    token_count,
)
from hummingbird_spark.operators.dedup import (
    ensure_kernel_parallelism,
    segment_duplicate_stats,
)


def _gopher_keep(text: Column) -> Column:
    from hummingbird_spark.functions.text import gopher_quality_flags

    return gopher_quality_flags(text)["keep"]


@dataclass
class CurationReport:
    """Outcome of a curate_corpus run."""
    n_input: int
    n_kept: int
    dropped: dict[str, int]          # reason -> count
    out_path: str

    @property
    def keep_rate(self) -> float:
        return self.n_kept / self.n_input if self.n_input else 0.0


def curate_corpus(
    spark: SparkSession,
    df: DataFrame,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.5,
    gopher_rules: bool = False,
    langs: tuple[str, ...] | None = ("en",),
    classifier_threshold: float | None = None,
    max_dup_segment_fraction: float | None = None,
    max_perplexity: float | None = None,
    strip_boilerplate: bool = False,
    strip_cross_doc_boilerplate: int | None = None,
    remove_dup_substrings: int | None = None,
    dedup: bool = True,
    partition_cols: list[str] | None = None,
    fmt: str = "parquet",
) -> CurationReport:
    """Run the curation stack over `df` and land survivors at
    `out_path` (temp-dir + rename swap; safe to re-point at a previous
    output). Returns the per-reason accounting.

    Filters are opt-out: langs=None skips language screening,
    classifier_threshold/max_dup_segment_fraction=None skip those
    stages (and their plan cost) entirely. gopher_rules=True adds the
    published Gopher A1 screen (functions/text.py::
    gopher_quality_flags) — pure Column expressions riding the same
    scan, reason "gopher".
    """
    src = ensure_kernel_parallelism(df)
    text = F.col(text_col)
    if strip_boilerplate:
        src = src.withColumn(text_col, strip_repeated_lines(text))
    if strip_cross_doc_boilerplate is not None:
        # corpus-level pre-pass: drop lines repeating across >= N docs
        # (cookie banners / nav menus); within-doc repeats are the
        # strip_boilerplate flag's job. Docs without boilerplate pass
        # through byte-identical (same guarantee as
        # remove_duplicate_substrings)
        from hummingbird_spark.operators.dedup import (
            strip_boilerplate_lines,
        )

        src = strip_boilerplate_lines(
            src, text_col, id_col,
            min_docs=strip_cross_doc_boilerplate)
    if remove_dup_substrings is not None:
        # corpus-level pre-pass: cut all-but-first occurrences of
        # duplicated >= N-token substrings (Lee et al. 2021) BEFORE
        # scoring, so quality/length screens judge the trimmed text
        from hummingbird_spark.operators.dedup import (
            remove_duplicate_substrings,
        )

        src = remove_duplicate_substrings(
            src, text_col, id_col, min_len=remove_dup_substrings)

    scored = src.withColumns({
        "__n_tokens": token_count(text),
        "__fp": fingerprint(text),
        "__quality": quality_score(text),
        "__lang": lang_id(text),
        **({"__cls": hashed_classifier_score(text)}
           if classifier_threshold is not None else {}),
        **({"__gopher_keep": _gopher_keep(text)} if gopher_rules
           else {}),
    })
    if max_dup_segment_fraction is not None:
        seg = segment_duplicate_stats(src, text_col, id_col) \
            .select(id_col, "dup_fraction")
        scored = scored.join(seg, id_col, "left") \
            .withColumn("__segdup", F.coalesce("dup_fraction", F.lit(0.0))) \
            .drop("dup_fraction")
    if max_perplexity is not None:
        from hummingbird_spark.operators.search import bigram_perplexity

        ppl = bigram_perplexity(src, text_col, id_col) \
            .select(id_col, "perplexity")
        # docs with <2 tokens have no ppl row; they are already the
        # "empty"/"quality" cut's problem, so null passes here
        scored = scored.join(ppl, id_col, "left") \
            .withColumnRenamed("perplexity", "__ppl")
    scored = scored.localCheckpoint(eager=False)

    # first-failing-reason, in fixed order. Null text must be caught
    # here explicitly: it nulls every downstream score, so without
    # this branch the doc would fall through all when()s with a null
    # reason and get silently dropped by the dedup join (null fp
    # matches nothing) — misattributed as "duplicate"
    reason = F.when(
        F.col(text_col).isNull()
        | (F.coalesce(F.col("__n_tokens"), F.lit(0)) == 0), "empty") \
        .when(F.col("__quality") < min_quality, "quality")
    if gopher_rules:
        reason = reason.when(~F.col("__gopher_keep"), "gopher")
    if langs is not None:
        reason = reason.when(~F.col("__lang").isin(*langs), "language")
    if classifier_threshold is not None:
        reason = reason.when(F.col("__cls") < classifier_threshold,
                             "classifier")
    if max_dup_segment_fraction is not None:
        reason = reason.when(
            F.col("__segdup") > max_dup_segment_fraction, "dup_segments")
    if max_perplexity is not None:
        reason = reason.when(
            F.col("__ppl") > max_perplexity, "perplexity")
    scored = scored.withColumn("__reason", reason)

    passing = scored.filter(F.col("__reason").isNull())
    if dedup:
        keep = passing.groupBy("__fp").agg(F.min(id_col).alias(id_col))
        # the checkpointed frame carries no stats; hint the broadcast
        # (same measured fallback as corpus_curation)
        survivors = passing.join(F.broadcast(keep), ["__fp", id_col])
    else:
        survivors = passing

    aux = ["__n_tokens", "__fp", "__quality", "__lang", "__cls",
           "__gopher_keep", "__segdup", "__ppl", "__reason"]
    out = survivors.drop(*[c for c in aux if c in survivors.columns])

    from hummingbird_spark.sources.tables import read_source, write_sink

    # hive-partitioned layout (e.g. lang/source) so downstream scans
    # of one slice prune directories, not row groups; fmt=jsonl emits
    # the sharded-JSONL layout LLM training loaders consume
    publish(spark, out_path, lambda stage: write_sink(
        out, stage, fmt=fmt, partition_cols=partition_cols))

    # accounting: filter reasons from the scored frame; the dedup drop
    # is the passing/kept difference (exact, no extra join)
    rows = scored.filter(F.col("__reason").isNotNull()) \
        .groupBy("__reason").count().collect()
    dropped = {r["__reason"]: r["count"] for r in rows}
    n_input = scored.count()
    kept_schema = out.schema if fmt in ("json", "jsonl", "ndjson") \
        else None
    n_kept = read_source(
        spark, out_path, fmt=fmt,
        **({"schema": kept_schema} if kept_schema else {})).count()
    n_passing = n_input - sum(dropped.values())
    if dedup and n_passing > n_kept:
        dropped["duplicate"] = n_passing - n_kept
    return CurationReport(n_input=n_input, n_kept=n_kept,
                          dropped=dropped, out_path=out_path)
