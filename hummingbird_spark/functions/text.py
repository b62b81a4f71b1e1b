"""Text-analysis function surface for training-data pipelines.

All pure Column expressions (JVM-side, codegen-friendly): tokenization,
token counting, quality scoring, language-ID heuristic, fingerprinting,
shingling, MinHash seeds, SimHash. No Python UDFs — at 100 TB these run
inside whole-stage codegen over the parquet scan.

Hash choice: md5 (not Spark's murmur3 `hash()`) so every hash-derived
result is reproducible in any engine (DuckDB oracle parity) and stable
across Spark versions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Marker stopwords for the language-ID heuristic. The fixture corpus is
# synthetic English-ish tokens with a `lang` label column; real corpora
# would use per-language stopword/char-ngram tables — same expression
# shape, bigger CASE.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "zh": ["的", "是", "了", "在", "我"],
}

STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is", "it", "that")


def tokens(col: Column) -> Column:
    """Whitespace tokenization; empty string -> empty array."""
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")) \
        .otherwise(F.split(trimmed, r"\s+"))


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def ngrams_from_tokens(ws: Column, n: int = 3, sep: str = " ") -> Column:
    """Word n-gram shingles from an ALREADY-MATERIALIZED token array
    column (deduplicated set).

    Performance contract: pass a bound column reference (select the
    token array first), not a `tokens(text)` expression — Catalyst
    inlines expression subtrees into HOF lambdas, so an inline split
    would re-tokenize the text once per shingle (O(words²) per doc;
    measured 10x slowdown on the dedup pipeline)."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(ws) - n, F.lit(0)))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            sep, *[F.element_at(ws, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    return F.when(F.size(ws) < n, F.array().cast("array<string>")) \
        .otherwise(F.array_distinct(grams))


# GPT-2-ish pre-tokenizer shape, restricted to constructs with identical
# semantics in Java regex (Spark) and RE2 (DuckDB): letter runs, single
# digits, punctuation runs.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+"


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish token count: counts letter runs + single digits +
    punctuation runs (a whitespace split undercounts text with
    punctuation; real BPE needs a vocab — this is the standard cheap
    pipeline estimate)."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), 0))


def stopword_ratio(col: Column) -> Column:
    ws = tokens(col)
    n_stop = F.size(
        F.filter(ws, lambda w: F.lower(w).isin(*STOPWORDS))
    )
    return F.when(F.size(ws) == 0, F.lit(0.0)).otherwise(
        n_stop.cast("double") / F.size(ws).cast("double")
    )


def alpha_ratio(col: Column) -> Column:
    """Fraction of characters that are alphanumeric or space — the
    'looks like prose' signal."""
    total = F.length(col)
    clean = F.length(F.regexp_replace(col, r"[^A-Za-z0-9 ]", ""))
    return F.when(total == 0, F.lit(0.0)).otherwise(
        clean.cast("double") / total.cast("double")
    )


def mean_word_length(col: Column) -> Column:
    ws = tokens(col)
    return F.when(F.size(ws) == 0, F.lit(0.0)).otherwise(
        F.aggregate(ws, F.lit(0).cast("long"),
                    lambda acc, w: acc + F.length(w)).cast("double")
        / F.size(ws).cast("double")
    )


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: prose-likeness, stopword
    presence, sane word length, non-trivial length. Weights are the
    usual hand-tuned pipeline constants; the value is deterministic
    and oracle-reproducible."""
    n_tok = token_count(col).cast("double")
    len_component = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    wl = mean_word_length(col)
    wl_component = F.when((wl >= 3.0) & (wl <= 10.0), F.lit(1.0)) \
        .otherwise(F.lit(0.0))
    return F.round(
        F.lit(0.4) * alpha_ratio(col)
        + F.lit(0.2) * F.least(stopword_ratio(col) * 5.0, F.lit(1.0))
        + F.lit(0.2) * wl_component
        + F.lit(0.2) * len_component,
        6,
    )


def lang_id(col: Column) -> Column:
    """Marker-token language scorer: count marker hits per language,
    pick the argmax (ties -> lexicographically first language),
    'und' when nothing matches."""
    ws = F.transform(tokens(col), lambda w: F.lower(w))
    scores = F.array(*[
        F.struct(
            F.size(F.filter(ws, lambda w: w.isin(*marks))).alias("score"),
            F.lit(lang).alias("lang"),
        )
        for lang, marks in sorted(LANG_MARKERS.items())
    ])
    best = F.array_max(F.filter(scores, lambda s: s["score"] > 0))
    return F.coalesce(best["lang"], F.lit("und"))


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 over whitespace-normalized lowercase
    text — the exact-dup key that survives formatting noise."""
    normalized = F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")
    return F.md5(normalized)


# PII patterns for redaction (training-data hygiene). Deliberately
# conservative/simple — the point is the Spark shape (pure regexp
# projection, codegen'd, zero shuffle), swap patterns per deployment.
# Order is load-bearing: the card shape and IPv4 run BEFORE the
# phone rule (which has no word anchors and would otherwise consume
# fragments of longer digit runs).
PII_PATTERNS = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\b\d{4}[ -]?\d{4}[ -]?\d{4}[ -]?\d{4}\b", "<CC>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\+?\d{1,2}[\s.-]?\(?\d{3}\)?[\s.-]\d{3}[\s.-]\d{4}", "<PHONE>"),
    (r"https?://[^\s]+", "<URL>"),
)


def redact_pii(col: Column) -> Column:
    """Replace emails / SSN-shaped ids / card-shaped numbers / IPv4
    addresses / phone numbers / URLs with typed placeholders. Shape
    rules only (a regex cannot Luhn-check a card — scrub-on-shape is
    the conservative choice). Chained regexp_replace — stays JVM-side
    whole-stage codegen, so redaction rides the scan projection for
    free."""
    out = col
    for pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


def token_diversity(col: Column) -> Column:
    """distinct-token / total-token ratio — the repetition quality
    signal (Gopher-style): boilerplate and degenerate generations score
    low. 0.0 for empty docs."""
    ws = tokens(col)
    return F.when(
        F.size(ws) == 0, F.lit(0.0)
    ).otherwise(
        F.size(F.array_distinct(ws)).cast("double")
        / F.size(ws).cast("double")
    )


def chunk_spans(ws: Column, max_tokens: int, stride: int) -> Column:
    """Array of [start, end) token spans covering the token array `ws`
    in windows of `max_tokens` advancing by `stride` (stride <
    max_tokens gives overlap). Pure Column expression: the chunking
    rides the scan, and posexplode turns spans into chunk rows.

    Span count is ceil(max(n - max_tokens, 0) / stride) + 1 for
    non-empty docs (the last window is allowed to be short), 0 spans
    for empty docs."""
    if stride <= 0 or max_tokens <= 0:
        raise ValueError("max_tokens and stride must be positive")
    n = F.size(ws)
    n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
        F.ceil((F.greatest(n - max_tokens, F.lit(0)))
               / F.lit(stride)).cast("int") + 1
    )
    idx = F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0)))
    spans = F.transform(
        idx,
        lambda i: F.struct(
            (i * stride).alias("start"),
            F.least(i * stride + max_tokens, n).alias("end"),
        ),
    )
    return F.when(n_chunks <= 0, F.array().cast(
        "array<struct<start:int,end:int>>"
    )).otherwise(spans.cast("array<struct<start:int,end:int>>"))


def chunk_documents(df, text_col: str = "text", id_col: str = "doc_id",
                    max_tokens: int = 50, stride: int = 40):
    """documents -> one row per training chunk: (id, chunk_id,
    chunk_text, n_tokens). Tokenize once into a bound column (see
    ngrams_from_tokens' performance contract), compute spans, then
    posexplode + slice + concat_ws — all JVM-side, no Python.

    stride < max_tokens yields overlapping context windows (the
    standard LM data prep); stride == max_tokens gives disjoint
    chunks (then sequence packing — queries_analytics.pack_sequences —
    reassembles them into fixed-length training rows)."""
    toked = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__ws")
    ).select(
        F.col(id_col), "__ws",
        F.posexplode(chunk_spans(F.col("__ws"), max_tokens, stride))
        .alias("chunk_id", "__span"),
    )
    piece = F.slice(
        F.col("__ws"), F.col("__span.start") + 1,
        F.col("__span.end") - F.col("__span.start"),
    )
    return toked.select(
        F.col(id_col), F.col("chunk_id"),
        F.concat_ws(" ", piece).alias("chunk_text"),
        (F.col("__span.end") - F.col("__span.start")).alias("n_tokens"),
    )


def c4_quality_flags(col: Column) -> Column:
    """Web-corpus curation rules in the C4 style (Raffel et al., 2020
    §2.2 describes the public heuristics), as one struct of boolean
    flags plus line statistics — all pure Column expressions over a
    line split, so the filter rides the scan:

      too_few_lines        < 3 lines
      short_lines          mean line length < 20 chars
      low_terminal_punct   < 50% of lines end in .!?" 
      has_lorem_ipsum      placeholder text present
      has_curly_brace      '{' present (code/markup tell)
      keep                 none of the above tripped

    Deviations from C4 proper are deliberate and documented: C4 also
    drops lines by a badwords list (deployment-specific) and
    deduplicates three-sentence spans (that's the dedup family's job
    here, not a row-wise flag)."""
    lines = F.filter(
        F.split(col, r"\n"),
        lambda ln: F.length(F.trim(ln)) > 0,
    )
    n_lines = F.size(lines)
    mean_len = F.when(n_lines == 0, F.lit(0.0)).otherwise(
        F.aggregate(lines, F.lit(0).cast("long"),
                    lambda acc, ln: acc + F.length(ln)).cast("double")
        / n_lines.cast("double")
    )
    n_terminal = F.size(F.filter(
        lines, lambda ln: F.trim(ln).rlike(r'[.!?"]$')
    ))
    terminal_ratio = F.when(n_lines == 0, F.lit(0.0)).otherwise(
        n_terminal.cast("double") / n_lines.cast("double"))
    too_few_lines = n_lines < 3
    short_lines = mean_len < 20.0
    low_terminal = terminal_ratio < 0.5
    lorem = F.lower(col).contains("lorem ipsum")
    curly = col.contains("{")
    return F.struct(
        n_lines.alias("n_lines"),
        F.round(mean_len, 4).alias("mean_line_len"),
        F.round(terminal_ratio, 6).alias("terminal_punct_ratio"),
        too_few_lines.alias("too_few_lines"),
        short_lines.alias("short_lines"),
        low_terminal.alias("low_terminal_punct"),
        lorem.alias("has_lorem_ipsum"),
        curly.alias("has_curly_brace"),
        (~too_few_lines & ~short_lines & ~low_terminal
         & ~lorem & ~curly).alias("keep"),
    )


GOPHER_REQUIRED_STOPWORDS = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_quality_flags(col: Column) -> Column:
    """Gopher quality-filter rules (Rae et al., 2021, Appendix A1 —
    the published MassiveWeb heuristics), as one struct of statistics
    and boolean flags, all pure Column expressions riding the scan
    (same contract as c4_quality_flags):

      too_few_words      word count < 50
      too_many_words     word count > 100,000
      bad_mean_word_len  mean word length outside [3, 10]
      high_symbol_ratio  EITHER #/words > 0.1 OR ellipses/words > 0.1
                         (the paper applies the 0.1 threshold to each
                         symbol class separately, "for either the hash
                         symbol or the ellipsis" — not to their sum)
      bullet_heavy       > 90% of lines start with a bullet
      ellipsis_heavy     > 30% of lines end with an ellipsis
      low_alpha_words    < 80% of words contain an alphabetic char
      missing_stopwords  < 2 of the 8 required stop words present
      keep               none of the above tripped

    Tokenization is the module's whitespace split; every rule is
    constructed to evaluate identically in DuckDB SQL (regexes are
    Java/RE2-common), so the per-source rule counts are oracle-provable
    as pure integers — no float comparisons cross-engine."""
    ws = tokens(col)
    n_words = F.size(ws)
    mwl = mean_word_length(col)
    n_hash_sym = (
        F.length(col) - F.length(F.regexp_replace(col, r"#", "")))
    n_ellipsis_sym = F.size(
        F.regexp_extract_all(col, F.lit(r"\.{3}|…"), 0))
    hash_ratio = F.when(n_words == 0, F.lit(0.0)).otherwise(
        n_hash_sym.cast("double") / n_words.cast("double"))
    ellipsis_sym_ratio = F.when(n_words == 0, F.lit(0.0)).otherwise(
        n_ellipsis_sym.cast("double") / n_words.cast("double"))
    lines = F.filter(
        F.split(col, r"\n"), lambda ln: F.length(F.trim(ln)) > 0)
    n_lines = F.size(lines)
    bullet_ratio = F.when(n_lines == 0, F.lit(0.0)).otherwise(
        F.size(F.filter(
            lines, lambda ln: F.trim(ln).rlike(r"^[-*•]")
        )).cast("double") / n_lines.cast("double"))
    ellipsis_ratio = F.when(n_lines == 0, F.lit(0.0)).otherwise(
        F.size(F.filter(
            lines, lambda ln: F.trim(ln).rlike(r"(\.{3}|…)$")
        )).cast("double") / n_lines.cast("double"))
    alpha_words = F.size(F.filter(ws, lambda w: w.rlike(r"[A-Za-z]")))
    alpha_word_ratio = F.when(n_words == 0, F.lit(0.0)).otherwise(
        alpha_words.cast("double") / n_words.cast("double"))
    n_stop = F.size(F.array_intersect(
        F.transform(ws, F.lower),
        F.array(*[F.lit(s) for s in GOPHER_REQUIRED_STOPWORDS]),
    ))
    too_few = n_words < 50
    too_many = n_words > 100_000
    bad_mwl = (mwl < 3.0) | (mwl > 10.0)
    high_symbol = (hash_ratio > 0.1) | (ellipsis_sym_ratio > 0.1)
    bullet_heavy = bullet_ratio > 0.9
    ellipsis_heavy = ellipsis_ratio > 0.3
    low_alpha = alpha_word_ratio < 0.8
    missing_stop = n_stop < 2
    return F.struct(
        n_words.alias("n_words"),
        F.round(mwl, 4).alias("mean_word_len"),
        F.round(hash_ratio, 6).alias("hash_word_ratio"),
        F.round(ellipsis_sym_ratio, 6).alias("ellipsis_word_ratio"),
        F.round(bullet_ratio, 6).alias("bullet_line_ratio"),
        F.round(ellipsis_ratio, 6).alias("ellipsis_line_ratio"),
        F.round(alpha_word_ratio, 6).alias("alpha_word_ratio"),
        n_stop.alias("n_required_stopwords"),
        too_few.alias("too_few_words"),
        too_many.alias("too_many_words"),
        bad_mwl.alias("bad_mean_word_len"),
        high_symbol.alias("high_symbol_ratio"),
        bullet_heavy.alias("bullet_heavy"),
        ellipsis_heavy.alias("ellipsis_heavy"),
        low_alpha.alias("low_alpha_words"),
        missing_stop.alias("missing_stopwords"),
        (~too_few & ~too_many & ~bad_mwl & ~high_symbol & ~bullet_heavy
         & ~ellipsis_heavy & ~low_alpha & ~missing_stop).alias("keep"),
    )


def strip_repeated_lines(col: Column) -> Column:
    """Remove duplicate lines WITHIN a document, keeping each line's
    first occurrence (nav menus / cookie banners / footer boilerplate
    repeat verbatim inside crawled pages). Pure expressions:
    array_distinct preserves first-occurrence order in Spark, so the
    pipeline is split -> distinct -> join — no Python, no shuffle.
    Blank-only lines collapse too (first kept). Returns the cleaned
    text; compare length to the input for a boilerplate-fraction
    signal."""
    lines = F.split(col, r"\n")
    kept = F.array_distinct(F.transform(lines, lambda ln: F.trim(ln)))
    return F.array_join(
        F.filter(kept, lambda ln: F.length(ln) > 0), "\n")


def hashed_classifier_score(col: Column, n_buckets: int = 1024,
                            salt: str = "qcls-v1") -> Column:
    """FastText-style hashed linear classifier as pure Column math —
    the model-based quality-filter PLUMBING (token -> hash bucket ->
    weight -> mean -> sigmoid), with deterministic surrogate weights
    so both engines and every re-run agree bit-for-bit.

    Each token hashes to one of n_buckets via a 60-bit md5 prefix
    (the engine-portable hash used across the sampling operators);
    its surrogate weight is bucket/(n_buckets-1) - 0.5 ∈ [-0.5, 0.5].
    Swapping in trained weights = replacing that arithmetic with a
    broadcast weight-table lookup; every other part of the pipeline
    (scan-side scoring, no shuffle, threshold cut) is the real thing.
    Empty docs score exactly 0.5 (zero logit). Rounded to 6 dp so the
    1-ulp libm exp() divergence between engines cannot leak out.
    """
    ws = tokens(col)
    weight_sum = F.aggregate(
        ws, F.lit(0.0),
        lambda acc, w: acc + (
            F.conv(F.substring(
                F.md5(F.concat(F.lit(salt), F.lower(w))), 1, 15),
                16, 10).cast("long") % n_buckets
        ).cast("double") / (n_buckets - 1) - 0.5,
    )
    logit = F.when(F.size(ws) == 0, F.lit(0.0)) \
        .otherwise(weight_sum / F.size(ws) * 4.0)
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)


def doc_bigrams(col: Column) -> Column:
    """Adjacent lowercase token pairs as 'w1 w2' strings; docs with
    fewer than 2 tokens yield an empty array.

    Built as zip_with over two slices of the token array, NOT as
    element_at(ws, i) inside a transform lambda: Catalyst inlines the
    `ws` expression subtree at every reference, and a reference
    INSIDE the lambda re-tokenizes the text once per bigram position
    (O(words²) per doc — exactly the trap ngrams_from_tokens'
    performance contract documents). zip_with takes the arrays by
    value, so the inline tokenize runs a constant number of times per
    doc and the function is safe to call directly on a text column."""
    ws = F.transform(tokens(col), lambda w: F.lower(w))
    n1 = F.greatest(F.size(ws) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(ws, 1, n1), F.slice(ws, 2, n1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return F.when(F.size(ws) < 2, F.array().cast("array<string>")) \
        .otherwise(pairs)


def doc_trigrams(col: Column) -> Column:
    """Adjacent lowercase token triples as 'w1 w2 w3' strings; docs
    with fewer than 3 tokens yield an empty array. Same zip_with-over-
    slices shape as doc_bigrams (arrays pass by value, so the inline
    tokenize runs a constant number of times per doc — NOT once per
    position, the element_at-in-lambda trap)."""
    ws = F.transform(tokens(col), lambda w: F.lower(w))
    n2 = F.greatest(F.size(ws) - 2, F.lit(0))
    pairs = F.zip_with(
        F.slice(ws, 1, n2), F.slice(ws, 2, n2),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    triples = F.zip_with(
        pairs, F.slice(ws, 3, n2),
        lambda p, c: F.concat_ws(" ", p, c),
    )
    return F.when(F.size(ws) < 3, F.array().cast("array<string>")) \
        .otherwise(triples)
