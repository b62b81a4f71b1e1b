"""Deduplication operators for training-data pipelines.

Six strategies, each a declarative Spark plan over the `documents`
fixture (doc_id, text, lang, source, n_chars):

  exact            — hash-groupBy on a normalized fingerprint
  minhash_lsh      — shingle -> k MinHashes -> band buckets -> bucket
                     self-join -> Jaccard verify (the scale path: only
                     bucket collisions are joined, never all pairs)
  simhash          — 64-bit SimHash, banded by 16-bit chunks (pigeonhole:
                     hamming<=3 pairs share at least one of 4 chunks)
  ngram_jaccard    — exact Jaccard over shingle sets for candidate pairs
  tfidf_cosine     — bag-of-words TF-IDF sparse cosine (order-insensitive)
  embedding cosine — see operators/similarity.py (near_duplicate_pairs)

Scale notes: every self-join here is bucketed (band key / chunk key),
so the shuffle is ~O(n·k) rows and collisions, not O(n²). Skewed buckets
(e.g. boilerplate docs) are the classic hazard: `max_bucket_size` drops
pathological buckets the way production dedup pipelines do, and AQE skew
handling covers the rest.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hummingbird_spark.functions.text import (
    fingerprint,
    ngrams_from_tokens,
    tokens,
)


def ensure_kernel_parallelism(df: DataFrame) -> DataFrame:
    """Guard for CPU-bound mapInPandas kernels: a small input often
    arrives as 1-2 scan partitions (a single parquet file under
    maxPartitionBytes), which would serialize the whole kernel on one
    core. Repartition up to the session's parallelism ONLY in that case
    — at real scale a 100 TB scan already yields far more partitions
    than cores and this is a no-op (adds no shuffle). Measured: winnow
    fingerprinting at sf0.1 went 4.3 s (1 task) -> sub-second (32).

    CONTRACT: call this on SCAN HEADS only (a frame whose plan is
    scan + narrow projections/filters, no exchange upstream).
    `df.rdd` converts the plan to an RDD, and under AQE that executes
    every upstream query stage eagerly AT GUARD TIME — on a scan head
    there are no stages so the call is free, but on a post-shuffle
    frame it would silently run the subtree once just to count
    partitions. Every current call site is a scan head; keep it that
    way (r11 verdict item 5)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _shingle_rows(df, text_col, id_col, ngram):
    """(id, __s) exploded shingles with tokens materialized FIRST —
    see ngrams_from_tokens' performance contract (inline tokenization
    inside the ngram lambda re-splits the text per shingle).

    The tokenize+explode+hash work runs in the SCAN stage, so a small
    corpus arriving as one parquet file would serialize it on one core
    (measured: every downstream stage waited on a single (0+1)/1 task)
    — spread it across the session's cores first; no-op at scale."""
    toks = ensure_kernel_parallelism(df).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__ws")
    )
    return toks.select(
        F.col(id_col),
        F.explode(ngrams_from_tokens(F.col("__ws"), ngram)).alias("__s"),
    )


def dedup_exact(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per normalized-text group.
    One shuffle (the groupBy); fingerprint is computed in the scan
    projection, so only (fingerprint, id) shuffles — not the text."""
    fp = fingerprint(F.col(text_col)).alias("__fp")
    keep = (
        df.select(fp, F.col(id_col))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep, id_col, "left_semi")


def exact_duplicate_groups(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Groups with >1 member: (fingerprint, n_docs, keep_id)."""
    return (
        df.select(fingerprint(F.col(text_col)).alias("fingerprint"),
                  F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


# Universal-hash family for MinHash: h_i(x) = (a_i * x + b_i) mod p over
# a 60-bit md5 prefix. ONE md5 per shingle (k md5s would dominate the
# scan); the k transforms are integer codegen. Constants are fixed and
# inlined into the DuckDB oracle too (queries_text.ORACLE_MINHASH).
MINHASH_P = 2_147_483_647  # 2^31 - 1

def minhash_coefficients(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    import random as _random

    rng = _random.Random(seed)
    return [(rng.randrange(1, MINHASH_P), rng.randrange(0, MINHASH_P))
            for _ in range(num_hashes)]


def minhash_signature_df(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", num_hashes: int = 16,
                         ngram: int = 3) -> DataFrame:
    """(id, sig: array<bigint>[num_hashes]) MinHash signature.

    Shape matters at scale: shingles are exploded once, hashed with ONE
    md5, and the k minima computed as k codegen'd MIN aggregates over
    linear transforms, with map-side partial aggregation — not as nested
    array lambdas (interpreted, ~10x slower). The shuffle carries only
    (id, k longs)."""
    ex = _shingle_rows(df, text_col, id_col, ngram)
    v = (
        F.conv(F.substring(F.md5("__s"), 1, 15), 16, 10).cast("long")
        % MINHASH_P
    )
    hashed = ex.select(F.col(id_col), v.alias("__v"))
    aggs = [
        F.min((F.col("__v") * F.lit(a) + F.lit(b)) % MINHASH_P)
        .alias(f"__m{i}")
        for i, (a, b) in enumerate(minhash_coefficients(num_hashes))
    ]
    sigs = hashed.groupBy(id_col).agg(*aggs)
    return sigs.select(
        F.col(id_col),
        F.array(*[F.col(f"__m{s}") for s in range(num_hashes)]).alias("__sig"),
    )


def band_keys(sig_df: DataFrame, id_col: str = "doc_id",
              bands: int = 4, rows_per_band: int = 4) -> DataFrame:
    """(id, band, bkey) rows: the LSH band keys of each signature —
    the join/lookup unit of batch candidate pairing."""
    return sig_df.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws(
                        "|",
                        *[F.element_at("__sig", b * rows_per_band + r + 1)
                          for r in range(rows_per_band)],
                    ).alias("bkey"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bkey")


def lsh_candidate_pairs(sig_df: DataFrame, id_col: str = "doc_id",
                        bands: int = 4, rows_per_band: int = 4,
                        max_bucket_size: int = 1000) -> DataFrame:
    """Band the signature, bucket the collisions: docs sharing any
    full band are candidates. Returns distinct (a, b) with a < b.

    Pair generation is grouped-and-exploded, not self-joined (the
    winnow_shared_pairs discipline): one groupBy((band, bkey))
    collects each bucket's sorted id list, the boilerplate-explosion
    guard becomes a free `size <= max_bucket_size` filter on the
    grouped array (the r8 form self-joined the banded frame on the
    bucket key — two extra shuffles of every signature row — plus a
    groupBy-count + join just to apply the cap), and the a < b pairs
    explode from the array in place. A doc carries ONE bucket key per
    band, so ids within a bucket are already distinct; the final
    distinct dedups cross-band collisions only. The cap bounds every
    collected array at max_bucket_size ids (~8 KB at the default)."""
    banded = band_keys(sig_df, id_col, bands, rows_per_band)
    buckets = (
        banded.groupBy("band", "bkey")
        .agg(F.sort_array(F.collect_list(id_col)).alias("__ids"))
        .filter((F.size("__ids") >= 2)
                & (F.size("__ids") <= max_bucket_size))
    )
    # posexplode + slice stays whole-stage-codegen (an ArrayTransform
    # HOF would run interpreted per element)
    lhs = buckets.select(
        "__ids", F.posexplode("__ids").alias("__i", "a"))
    return (
        lhs.select(
            "a",
            F.explode(
                F.slice("__ids", F.col("__i") + F.lit(2),
                        F.size("__ids"))
            ).alias("b"))
        .distinct()
    )


def jaccard_pairs(df: DataFrame, pairs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", ngram: int = 3) -> DataFrame:
    """Exact shingle-set Jaccard for candidate (a, b) pairs:
    |A ∩ B| / |A ∪ B| via two broadcast-friendly joins on the pair ids."""
    sets = ensure_kernel_parallelism(df).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__ws")
    ).select(
        F.col(id_col),
        ngrams_from_tokens(F.col("__ws"), ngram).alias("sh"),
    )
    pa = sets.select(F.col(id_col).alias("a"), F.col("sh").alias("sh_a"))
    pb = sets.select(F.col(id_col).alias("b"), F.col("sh").alias("sh_b"))
    return (
        pairs.join(pa, "a").join(pb, "b")
        .withColumn(
            "intersection",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double"),
        )
        .withColumn(
            "union_", F.size(F.array_union("sh_a", "sh_b")).cast("double")
        )
        .select(
            "a", "b",
            F.round(F.col("intersection") / F.col("union_"), 6)
            .alias("jaccard"),
        )
    )


def minhash_near_duplicates(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", threshold: float = 0.7,
                            num_hashes: int = 16, bands: int = 4,
                            ngram: int = 3) -> DataFrame:
    """End-to-end MinHash+LSH near-dup detection: candidates from band
    collisions, verified with exact Jaccard. Returns (a, b, jaccard)."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signature_df(df, text_col, id_col, num_hashes, ngram)
    cands = lsh_candidate_pairs(sigs, id_col, bands, rows_per_band)
    verified = jaccard_pairs(df, cands, text_col, id_col, ngram)
    return verified.filter(F.col("jaccard") >= threshold).orderBy("a", "b")


# Polynomial rolling-hash base for winnowing k-grams. The hash of a
# k-gram is sum(ord(c_j) * B^(k-1-j)) % MINHASH_P — pure integer
# arithmetic reproduced verbatim in the DuckDB oracle
# (queries_text.ORACLE_WINNOW) and in the numpy kernel below.
WINNOW_B = 257


def winnow_fingerprint_df(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", k: int = 7,
                          window: int = 8) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003 —
    the MOSS algorithm): hash every k-char-gram of the normalized text,
    slide a window of `window` hashes, keep each window's minimum. The
    selected minima are a ~2/(window+1)-density sample of the k-gram
    hashes that any sufficiently long shared substring must hit, which
    is what makes them a plagiarism/copy detector.

    Returns exploded (id, fp) distinct fingerprints. Docs whose
    normalized text is shorter than one full window (k + window - 1
    chars) produce no fingerprints.

    Why a Pandas kernel, not Column HOFs: this op does O(chars) work per
    doc, and Spark evaluates higher-order-function lambdas interpreted
    per element (ArrayTransform is CodegenFallback) — the expression
    form measured ~2.5 µs/position (3.6 s for 1.45M positions at sf0.1).
    The numpy kernel (sliding_window_view matmul + sliding min, one
    Arrow batch at a time) does the same positions vectorized. It stays
    shuffle-free: fingerprinting happens in the scan's mapInPandas;
    only (id, fp) rows leave it."""
    import numpy as np
    import re

    weights = np.array([WINNOW_B ** (k - 1 - j) for j in range(k)],
                       dtype=np.int64)
    strip = re.compile(r"[^a-z0-9]")
    min_len = k + window - 1

    def kernel(batches):
        for pdf in batches:
            out_ids: list = []
            out_fps: list = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                s = strip.sub("", str(text).lower())
                if len(s) < min_len:
                    continue
                codes = np.frombuffer(
                    s.encode("ascii", "ignore"), dtype=np.uint8
                ).astype(np.int64)
                kgrams = (
                    np.lib.stride_tricks.sliding_window_view(codes, k)
                    @ weights
                ) % MINHASH_P
                mins = np.lib.stride_tricks.sliding_window_view(
                    kgrams, window
                ).min(axis=1)
                fps = np.unique(mins)
                out_ids.extend([doc_id] * len(fps))
                out_fps.append(fps)
            yield pd.DataFrame({
                id_col: np.array(out_ids, dtype=np.int64),
                "fp": (np.concatenate(out_fps) if out_fps
                       else np.array([], dtype=np.int64)),
            })

    return ensure_kernel_parallelism(df.select(id_col, text_col)).mapInPandas(
        kernel, f"{id_col} long, fp long"
    )


def winnow_shared_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 7,
                        window: int = 8, min_shared: int = 2,
                        max_bucket_size: int = 200) -> DataFrame:
    """Doc pairs sharing >= min_shared winnowing fingerprints, scored by
    containment = shared / min(|fps_a|, |fps_b|) — near 1.0 when one doc
    substantially contains the other.

    Scale shape: pair generation is bucketed per fingerprint (never
    all pairs); fingerprints shared by > max_bucket_size docs
    (boilerplate) are dropped before any pair is emitted, the same
    guard as LSH banding. One groupBy(fp) collects each bucket's
    (sorted, per-doc-distinct) id list and pairs are exploded from the
    array in place — the r8 form self-joined the capped frame on fp,
    which cost two extra shuffles of the (id, fp) rows plus a
    groupBy-count + join just to apply the cap; collect_list applies
    the cap on the already-grouped bucket for free and the join
    disappears (measured 2x at sf0.1, plan: 5 exchanges -> 3, identical
    654,685 output rows). The bucket cap bounds every collected array
    at max_bucket_size, so no group exceeds ~200 ids (~1.6 KB).
    The fingerprint frame feeds two consumers (sizes, buckets) — it is
    materialized once (localCheckpoint) instead of re-running the
    kgram hashing per consumer; on a cluster job this would be
    persist() or a staged table."""
    fps = winnow_fingerprint_df(df, text_col, id_col, k, window) \
        .localCheckpoint(eager=False)
    sizes = fps.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    buckets = (
        fps.groupBy("fp")
        .agg(F.sort_array(F.collect_list(id_col)).alias("__ids"))
        .filter((F.size("__ids") >= 2)
                & (F.size("__ids") <= max_bucket_size))
    )
    # ids are sorted and distinct within a bucket, so pairing each id
    # with the ids after it yields exactly the a < b pairs; posexplode
    # + slice stays whole-stage-codegen (an ArrayTransform HOF would
    # run interpreted per element)
    lhs = buckets.select(
        "__ids", F.posexplode("__ids").alias("__i", "a"))
    pairs = lhs.select(
        "a",
        F.explode(
            F.slice("__ids", F.col("__i") + F.lit(2), F.size("__ids"))
        ).alias("b"))
    shared = (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    na = sizes.select(F.col(id_col).alias("a"), F.col("__n").alias("__na"))
    nb = sizes.select(F.col(id_col).alias("b"), F.col("__n").alias("__nb"))
    return (
        shared.join(na, "a").join(nb, "b")
        .select(
            "a", "b", "shared",
            F.round(
                F.col("shared").cast("double")
                / F.least("__na", "__nb").cast("double"), 6
            ).alias("containment"),
        )
        .orderBy("a", "b")
    )


# SimHash shingle hashing (shared constants with the DuckDB oracle,
# queries_text.py::_simhash_oracle_sql): per-word polynomial hash over
# Unicode CODEPOINTS with the FNV64 prime as base (products stay under
# 2^104, so the SQL replica needs no wrap-mul decomposition), word
# hashes poly-combined per n-gram in the same base, distinct combined
# values, then a splitmix64 finalizer (Steele et al., OOPSLA 2014) for
# the avalanche the linear poly hash lacks. splitmix64's two 64x64-bit
# wrap multiplies DO exceed HUGEINT in SQL — the oracle splits the
# operand into 32-bit halves (see _wrapmul_sql).
SIMHASH_B = 1_099_511_628_211            # FNV-1a 64 prime (2^40ish)
SIMHASH_BINV = pow(SIMHASH_B, -1, 1 << 64)
_SM_GAMMA = 0x9E3779B97F4A7C15
_SM_M1 = 0xBF58476D1CE4E5B9
_SM_M2 = 0x94D049BB133111EB


def _splitmix64_np(z):
    """Vectorized splitmix64 over a uint64 ndarray (wraps mod 2^64)."""
    import numpy as np

    z = z + np.uint64(_SM_GAMMA)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(_SM_M1)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(_SM_M2)
    return z ^ (z >> np.uint64(31))


# every codepoint str.split() treats as whitespace; the byte-mask word
# scan below reproduces str.split() exactly (the oracle's RE2 '\s+' is
# ASCII-only — same documented fixture caveat as before)
_UNICODE_WS = (
    list(range(0x09, 0x0E)) + list(range(0x1C, 0x20)) + [0x20, 0x85, 0xA0,
    0x1680] + list(range(0x2000, 0x200B)) + [0x2028, 0x2029, 0x202F,
    0x205F, 0x3000]
)


def simhash_df(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", ngram: int = 3) -> DataFrame:
    """(id, sh: bit-packed int64) — SimHash per document, computed
    shuffle-FREE in a vectorized Arrow kernel.

    Shingle hashing is fully vectorized — no per-shingle Python or
    hashlib calls. Per doc: codepoints (utf-32 view) -> whitespace
    mask -> word spans -> every word's poly hash at once via the
    prefix-hash trick (mod-2^64 arithmetic is a ring, and the odd base
    has a modular inverse, so hash[a,b) = B^(b-1) * (S[b]-S[a]) where
    S is one wrapping cumsum over codepoint*B^-i — two O(len) numpy
    passes replace O(words*len) folding) -> n-gram poly combine ->
    np.unique -> splitmix64 finalize. History: v1 exploded shingles
    into 64 SUM aggregates (shuffled ~220 rows/doc); v2 voted in-scan
    but paid an interpreted md5 per shingle for oracle provability
    (~1.3x vs the crc32 it replaced); v3 keeps the oracle (poly hash
    and splitmix64 replay exactly in DuckDB HUGEINT ops, the same
    strategy as the winnowing rolling hash) and removes the per-shingle
    Python loop. np.unpackbits tallies the per-bit votes for a whole
    doc at once.

    Collision surface (v3 vs v2, documented): v2 deduped shingle
    STRINGS before voting; v3 dedups their 64-bit poly hashes, and the
    poly hash is linear, so adversarially crafted (or 2^-64-unlucky)
    distinct shingles can collide PRE-vote and merge their votes,
    perturbing a doc's signature — a robustness step down from the md5
    variant against crafted corpora, accepted for the vectorization
    win. (Moving the dedup after the splitmix64 finalizer would NOT
    help: splitmix64 is a bijection on uint64, so unique-before and
    unique-after produce the same set — the only true fix is deduping
    the strings, which reintroduces the per-shingle Python cost v3
    exists to remove.) The oracle replays the identical hashing, so
    parity is unaffected either way."""
    import numpy as np

    B, BINV = np.uint64(SIMHASH_B), np.uint64(SIMHASH_BINV)
    ws_set = np.array(_UNICODE_WS, dtype=np.uint32)

    def kernel(batches):
        powB = np.ones(1, dtype=np.uint64)
        powBINV = np.ones(1, dtype=np.uint64)
        for pdf in batches:
            ids, hashes = [], []
            texts = [str(t) for t in pdf[text_col]]
            maxlen = max((len(t) for t in texts), default=0)
            if maxlen + 1 > len(powB):
                powB = np.ones(maxlen + 1, dtype=np.uint64)
                np.multiply.accumulate(
                    np.full(maxlen, B, dtype=np.uint64), out=powB[1:])
                powBINV = np.ones(maxlen + 1, dtype=np.uint64)
                np.multiply.accumulate(
                    np.full(maxlen, BINV, dtype=np.uint64), out=powBINV[1:])
            for doc_id, text in zip(pdf[id_col], texts):
                cp = np.frombuffer(
                    text.encode("utf-32-le"), dtype=np.uint32)
                m = ~np.isin(cp, ws_set)
                d = np.diff(m.astype(np.int8))
                starts = np.flatnonzero(d == 1) + 1
                ends = np.flatnonzero(d == -1) + 1
                if len(m) and m[0]:
                    starts = np.concatenate(([0], starts))
                if len(m) and m[-1]:
                    ends = np.concatenate((ends, [len(m)]))
                if len(starts) < ngram:
                    continue
                codes = cp.astype(np.uint64)
                s0 = np.concatenate(
                    ([np.uint64(0)],
                     np.cumsum(codes * powBINV[:len(codes)],
                               dtype=np.uint64)))
                hw = powB[ends - 1] * (s0[ends] - s0[starts])
                g = hw[:len(hw) - ngram + 1].copy()
                for j in range(1, ngram):
                    g = g * B + hw[j:len(hw) - ngram + 1 + j]
                u = np.unique(g)
                h = _splitmix64_np(u)
                bits = np.unpackbits(h.view(np.uint8).reshape(-1, 8),
                                     axis=1, bitorder="little")
                # signed! uint8 sums promote to uint64 and *2-n underflows
                votes = bits.sum(axis=0).astype(np.int64) * 2 - len(u)
                packed = np.packbits(
                    (votes > 0).astype(np.uint8), bitorder="little"
                ).view(np.int64)[0]  # int64 view keeps the bit pattern
                ids.append(doc_id)
                hashes.append(packed)
            yield pd.DataFrame({
                id_col: np.array(ids, dtype=np.int64),
                "sh": np.array(hashes, dtype=np.int64),
            })

    return ensure_kernel_parallelism(df.select(id_col, text_col)).mapInPandas(
        kernel, f"{id_col} long, sh long"
    )


def simhash_near_duplicates(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            max_hamming: int = 3,
                            ngram: int = 3) -> DataFrame:
    """SimHash near-dup: band the 64-bit hash into 4 x 16-bit chunks;
    pairs within hamming<=3 must collide on >=1 chunk (pigeonhole), so
    the self-join is per-chunk-bucket; exact hamming then verifies as
    bit_count(sh_a XOR sh_b) — one codegen'd instruction, vs the
    interpreted 64-substring compare the bit-string encoding needed."""
    hashed = simhash_df(df, text_col, id_col, ngram)
    chunked = hashed.select(
        id_col, "sh",
        F.explode(F.array(*[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftrightunsigned("sh", c * 16)
                .bitwiseAND(F.lit(0xFFFF)).alias("ckey"),
            )
            for c in range(4)
        ])).alias("cc"),
    ).select(id_col, "sh", "cc.chunk", "cc.ckey")

    a = chunked.select(F.col(id_col).alias("a"), F.col("sh").alias("sh_a"),
                       "chunk", "ckey")
    b = chunked.select(F.col(id_col).alias("b"), F.col("sh").alias("sh_b"),
                       "chunk", "ckey")
    return (
        a.join(b, ["chunk", "ckey"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b",
                F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
                .alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("a", "b")
    )


def _cc_local(rows) -> list:
    """Path-compressed min-root union-find over a collected edge list —
    the driver-local twin of the min-label propagation loop (and the
    same algorithm the property test uses as its oracle). Returns
    [(node, label)] with label = min node id per component."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        ra, rb = find(r[0]), find(r[1])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(n, find(n)) for n in parent]


def connected_components(edges: DataFrame, src: str = "a", dst: str = "b",
                         max_iter: int = 25,
                         local_edge_threshold: int = 262_144) -> DataFrame:
    """Connected components over an undirected pair list by iterative
    min-label propagation: every node repeatedly adopts the smallest
    label among itself and its neighbors, converging to the component's
    minimum node id. Returns (node, label).

    This is the missing last step of a dedup pipeline: near-dup PAIRS
    (from MinHash/SimHash/winnowing) -> CLUSTERS -> one canonical doc
    (the min-id label) per cluster.

    Scale notes: converges in O(graph diameter) rounds; near-dup graphs
    are band-collision cliques with diameter ~2, so 3-5 rounds in
    practice (far under max_iter). Each round is one shuffle on node id.
    `localCheckpoint` truncates lineage per round — without it the plan
    doubles every iteration and the driver, not the data, becomes the
    bottleneck. For adversarial long-chain graphs, the alternating
    large-star/small-star algorithm (Kiveris et al., "Connected
    Components in MapReduce and Beyond") halves the diameter per round;
    not needed for dedup-shaped graphs.

    Adaptive execution (same shape as a broadcast-join threshold): the
    gate input is the EDGE-LIST size — near-dup pair lists are a tiny
    fraction of corpus rows — never the corpus. The edge list is
    checkpointed EAGERLY first (one fully-parallel job; every upstream
    pair-pipeline partition runs exactly once), then a bounded probe
    reads up to threshold+1 edges from the checkpoint; at or under the
    threshold a driver-local union-find (the property test's own oracle
    algorithm) labels them with zero per-round jobs, otherwise the
    distributed loop re-joins the same checkpoint every round. History:
    the probe used to run limit().collect() directly on the LAZY pair
    pipeline — executeTake's serial partition ramp-up (1, 4, 16, ...
    waves) ran the expensive matmul/minhash partitions one wave at a
    time with run-dependent wave counts, measured 1.3-5.5s run-to-run
    on embedding_dup_clusters; the eager checkpoint pinned it (and the
    distributed path no longer evaluates the upstream twice for the
    swapped union — it reuses the checkpoint). Total work is never
    worse: the over-threshold regime recomputed the full edge list for
    the loop anyway. 0 forces the distributed loop (property test).
    Both paths yield label = min node id per component.
    """
    edge_list = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .localCheckpoint(eager=True)
    )
    if local_edge_threshold:
        probe = edge_list.limit(local_edge_threshold + 1).collect()
        if len(probe) <= local_edge_threshold:
            from pyspark.sql import types as T
            dt = edge_list.schema["a"].dataType
            return edges.sparkSession.createDataFrame(
                _cc_local(probe),
                T.StructType([T.StructField("node", dt),
                              T.StructField("label", dt)]),
            )
    sym = (
        edge_list
        .union(edge_list.select(F.col("b").alias("a"),
                                F.col("a").alias("b")))
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )
    # Convergence check: per-node labels are monotonically non-increasing
    # (new = min(old, neighbors)), so an unchanged sum(label) proves a
    # fixpoint — one tiny aggregate per round instead of a self-join.
    prev_sig = None
    for _ in range(max_iter):
        neighbor = sym.join(labels, sym["b"] == labels["node"]).select(
            sym["a"].alias("node"), F.col("label")
        )
        labels = (
            neighbor.unionByName(labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        sig = labels.agg(
            F.sum("label").alias("s"), F.count(F.lit(1)).alias("n")
        ).first()
        if prev_sig == sig:
            break
        prev_sig = sig
    return labels


def tfidf_cosine_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", threshold: float = 0.6,
                       max_doc_freq: int = 1000) -> DataFrame:
    """Doc pairs with TF-IDF cosine similarity >= threshold — the
    bag-of-words near-dup detector (catches reworded/reordered copies
    that shingle-based methods miss, since word ORDER doesn't matter).

    Pipeline (all relational, no UDFs): tokenize -> per-(doc, term)
    TF -> per-term DF -> vocabulary cut (df <= max_doc_freq, the
    stopword/boilerplate guard that also bounds the self-join bucket
    size) -> w = tf * idf -> sparse dot product via a term-bucketed
    self-join -> normalize by per-doc norms.

    Shuffle budget: tf agg (one), df agg + vocab semi (tiny), the
    term self-join (bucketed: each term contributes df² <=
    max_doc_freq² pairs, never O(n²)), pair agg (one). Identical
    shape to an inverted-index sparse matmul.

    Oracle determinism: idf is quantized to an integer,
    floor(ln(N/df)·1e6 + 0.5), NOT round(double, 6) — Spark rounds the
    shortest decimal repr (BigDecimal.valueOf) while DuckDB rounds the
    binary value, so round() diverges systematically on half-boundary
    doubles (observed at sf0.01). floor on identical doubles is exact.
    Weights (tf · idf_scaled) and the dot product are then EXACT
    integer-valued decimals — order-independent, hash-identical across
    engines; the 1e6 scale cancels in the cosine ratio. The final
    divide-by-norms uses the same floor-based quantization."""
    toks = ensure_kernel_parallelism(df).select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    n_docs = df.select(id_col).agg(F.count(F.lit(1)).alias("__n"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t")) \
        .filter(F.col("df_t") <= max_doc_freq)
    idf_scaled = F.floor(
        F.log(F.col("__n") / F.col("df_t")) * 1e6 + F.lit(0.5)
    ).cast("decimal(18,0)")
    w = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col), "term",
            (F.col("tf").cast("decimal(18,0)") * idf_scaled).alias("w"),
        )
        .localCheckpoint(eager=False)  # feeds norms + both join sides
    )
    norms = w.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("norm")
    )
    a = w.select(F.col(id_col).alias("a"), "term", F.col("w").alias("wa"))
    b = w.select(F.col(id_col).alias("b"), "term", F.col("w").alias("wb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col(id_col).alias("a"), F.col("norm").alias("na"))
    nb = norms.select(F.col(id_col).alias("b"), F.col("norm").alias("nb"))
    raw = F.col("dot").cast("double") / (F.col("na") * F.col("nb"))
    quantized = F.floor(raw * 1e6 + F.lit(0.5)) / 1e6
    return (
        dots.join(na, "a").join(nb, "b")
        .select("a", "b", quantized.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .orderBy("a", "b")
    )


def segment_fingerprints(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         window: int = 10) -> DataFrame:
    """(id, segment-hash) rows: the doc's DISJOINT `window`-word blocks,
    each md5-fingerprinted. The segment (≈paragraph) unit for cross-doc
    exact dedup when the corpus has no structural paragraph breaks —
    the Dolma/RefinedWeb paragraph-dedup analogue on flat text.

    All expression-level (split -> slice -> md5 -> explode), so the
    fingerprinting rides the scan; only (id, 32-byte hash) shuffles.
    Docs shorter than one window emit no rows.
    """
    from hummingbird_spark.functions.text import tokens

    toks = ensure_kernel_parallelism(df).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__ws")
    )
    nblk = F.floor(F.size("__ws") / window).cast("int")
    idx = F.when(nblk > 0, F.sequence(F.lit(0), nblk - 1)) \
        .otherwise(F.array().cast("array<int>"))
    segs = F.transform(
        idx,
        lambda i: F.md5(F.concat_ws(
            " ", F.slice(F.col("__ws"), i * window + 1, window))),
    )
    return toks.select(
        F.col(id_col), F.explode(segs).alias("segment"),
    )


def segment_duplicate_stats(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            window: int = 10) -> DataFrame:
    """Per-doc duplicate-segment profile: of the doc's disjoint
    `window`-word blocks, how many also occur in ANOTHER document
    (exact match). Returns (id, n_segments, n_dup_segments,
    dup_fraction) — the per-doc signal paragraph-level dedup cuts on
    (e.g. drop docs with dup_fraction > 0.3, or strip the segments).

    Two shuffles at any scale: segment-hash groupBy (count distinct
    docs per segment) and the per-doc rollup; the join back to segments
    is on the same segment key the groupBy just produced, so AQE plans
    it shuffle-local. Nothing driver-side.
    """
    segs = segment_fingerprints(df, text_col, id_col, window)
    seg_docs = segs.groupBy("segment").agg(
        F.count_distinct(F.col(id_col)).alias("__nd"))
    return (
        segs.join(seg_docs, "segment")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.when(F.col("__nd") >= 2, 1).otherwise(0))
            .alias("n_dup_segments"),
        )
        .withColumn(
            "dup_fraction",
            F.round(F.col("n_dup_segments")
                    / F.col("n_segments").cast("double"), 6),
        )
    )


def boilerplate_line_stats(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           min_docs: int = 5) -> DataFrame:
    """Cross-document boilerplate LINE profile (the RefinedWeb/CCNet
    line-dedup step; strip_repeated_lines handles the WITHIN-doc case):
    a line is boilerplate when its trimmed text occurs in >= min_docs
    DISTINCT documents (cookie banners, nav menus, footers repeat
    verbatim across a crawl). Returns per-doc
    (id, n_lines, n_boilerplate_lines, boilerplate_fraction).

    Scale shape: lines shuffle as md5 hashes (16 hex chars, never the
    line text); the doc-frequency table is line-hash keyed and joins
    back on the key the groupBy just produced (AQE plans it
    shuffle-local). Same two-shuffle discipline as
    segment_duplicate_stats."""
    lines = df.select(
        F.col(id_col),
        F.explode(F.filter(
            F.split(F.col(text_col), r"\n"),
            lambda ln: F.length(F.trim(ln)) > 0,
        )).alias("__ln"),
    ).select(
        id_col, F.substring(F.md5(F.trim(F.col("__ln"))), 1, 16)
        .alias("__lh"),
    )
    line_docs = lines.groupBy("__lh").agg(
        F.count_distinct(F.col(id_col)).alias("__nd"))
    return (
        lines.join(line_docs, "__lh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(F.col("__nd") >= min_docs, 1).otherwise(0))
            .alias("n_boilerplate_lines"),
        )
        .withColumn(
            "boilerplate_fraction",
            F.round(F.col("n_boilerplate_lines")
                    / F.col("n_lines").cast("double"), 6),
        )
    )


def strip_boilerplate_lines(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            min_docs: int = 5) -> DataFrame:
    """Remove cross-document boilerplate lines (non-blank trimmed text
    with doc frequency >= min_docs, see boilerplate_line_stats),
    keeping the surviving lines in their original order. Documents
    that contain NO boilerplate line pass through BYTE-IDENTICAL
    (blank lines, trailing newlines, and NULL text untouched) — the
    same guarantee remove_duplicate_substrings gives. Documents that
    DO contain boilerplate are rebuilt with only those lines removed:
    their blank lines survive at their original positions. Documents
    whose every line was boilerplate come back with empty text —
    dropping them is the quality screen's decision, not this
    operator's.

    The rebuild is semi-join (which docs are touched at all) ->
    posexplode ALL lines of touched docs -> hash anti-join -> re-group
    ordered by position: only affected docs' line text shuffles; the
    boilerplate set itself is a hash-only frame, broadcast by AQE when
    small (the usual case — boilerplate is a tiny distinct set by
    definition). Blank lines cannot be boilerplate (the frequency
    profile is built from non-blank lines only), so md5('') never
    lands in the common set and blank lines survive the anti-join."""
    others = [c for c in df.columns if c != text_col]
    # frequency profile over NON-BLANK trimmed lines only. Full
    # 128-bit md5 (vs the 16-hex stats key): this key decides line
    # REMOVAL — a 64-bit collision merges two different lines' doc
    # frequencies and can strip a legitimate line at 100 TB line
    # counts; stats tolerate that, destruction doesn't
    nonblank = df.select(
        F.col(id_col),
        F.explode(F.filter(
            F.split(F.col(text_col), r"\n"),
            lambda ln: F.length(F.trim(ln)) > 0,
        )).alias("__ln"),
    ).select(id_col, F.md5(F.trim(F.col("__ln"))).alias("__lh"))
    common = (
        nonblank.groupBy("__lh")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__lh")
    )
    affected_ids = (
        nonblank.join(common, "__lh", "left_semi")
        .select(id_col).distinct()
    )
    untouched = df.join(affected_ids, id_col, "left_anti")
    affected = df.join(affected_ids, id_col, "left_semi")
    # rebuild ONLY affected docs, exploding ALL their lines (blanks
    # included) so removal is surgical: boilerplate lines out,
    # everything else — blank lines included — at original positions
    lines = affected.select(
        *others,
        F.posexplode(F.split(F.col(text_col), r"\n"))
        .alias("__pos", "__ln"),
    ).withColumn("__lh", F.md5(F.trim(F.col("__ln"))))
    kept = lines.join(common, "__lh", "left_anti")
    rebuilt = (
        kept.groupBy(*others)
        .agg(F.array_sort(F.collect_list(
            F.struct(F.col("__pos"), F.col("__ln")))).alias("__arr"))
        .select(
            *others,
            F.array_join(F.transform(F.col("__arr"), lambda s: s["__ln"]),
                         "\n").alias(text_col),
        )
    )
    # affected docs whose every line was boilerplate vanish from the
    # anti-join — restore them with empty text
    missing = affected.select(*others).join(
        rebuilt.select(*others), others, "left_anti"
    ).withColumn(text_col, F.lit(""))
    return (rebuilt.unionByName(missing)
            .unionByName(untouched.select(*rebuilt.columns))
            .select(*df.columns))


def duplicate_substring_spans(df: DataFrame, text_col: str = "text",
                              id_col: str = "doc_id",
                              min_len: int = 50,
                              first_keeper: str = "join") -> DataFrame:
    """Exact-substring duplicate spans (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"), token-level variant:
    every duplicated `min_len`-token window keeps its globally-first
    occurrence (min (id, start)) and marks every other occurrence for
    removal; overlapping/adjacent marks are merged per document.

    Returns (id, start, end): merged removal spans as 1-based INCLUSIVE
    token positions. A doc absent from the result has nothing to
    remove. The reference corpus-dedup analogue is `keyhole`-style
    whole-doc comparison (compare.go); this is the finer-grained
    published method LLM pipelines actually run.

    Scale shape: the window hashing rides the scan JVM-side (md5 over
    each length-L slice — L x corpus bytes hashed in-scan, zero extra
    shuffle; at 100 TB swap in a Karp-Rabin rolling kernel via
    mapInPandas, same plumbing). Only (id, start, 32-hex) rows shuffle
    — about one row per token, the same order as any inverted-index
    op. The island merge is a per-doc window (bounded partitions).

    first_keeper picks the skew/cost trade, value-identical results
    (A/B in scripts/skew_probe_substring.py, numbers in SCALE.md):
      "join"   (default) — min(struct) groupBy + equi-join back.
                Two shuffles of the windows frame, but a universal-
                boilerplate window CANNOT straggle: partial agg
                absorbs the hot key map-side and AQE skew-splits the
                join. At 1e11 occurrences of one banner hash the
                window variant is a single multi-TB sort task (OOM);
                this one degrades linearly. The 100 TB default.
      "window" — row_number over the hash partition. One shuffle,
                cheaper when the corpus is known skew-free; the
                largest single hash's occurrence count lands in ONE
                task's sort.
    """
    toks = ensure_kernel_parallelism(df).select(
        F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__ws")
    )
    n = F.size("__ws")
    starts = F.when(
        n >= min_len, F.sequence(F.lit(1), n - min_len + 1)
    ).otherwise(F.array().cast("array<int>"))
    # full 128-bit md5, NOT truncated: unlike the stats queries (where
    # a rare collision shifts a fraction in the 7th decimal), this key
    # authorizes destructive text removal — at ~1e13 windows (100 TB)
    # a 64-bit key expects millions of birthday collisions, i.e. false
    # removals. 32-hex doubles the shuffle key; correctness is worth it.
    wins = toks.select(
        "__id",
        F.explode(F.transform(starts, lambda s: F.struct(
            s.cast("int").alias("s"),
            F.md5(F.concat_ws(
                " ", F.slice("__ws", s, F.lit(min_len)))).alias("h"),
        ))).alias("w"),
    ).select("__id", F.col("w.s").alias("s"), F.col("w.h").alias("h"))

    if first_keeper == "join":
        # two consumers (firsts, probe side) — stage the windows once
        # instead of re-running the scan + hashing per join side
        wins = wins.localCheckpoint(eager=False)
        firsts = wins.groupBy("h").agg(
            F.min(F.struct("__id", "s")).alias("__f"))
        removal = (
            wins.join(firsts, "h")
            .filter((F.col("__id") != F.col("__f.__id"))
                    | (F.col("s") != F.col("__f.s")))
            .select("__id", F.col("s").alias("start"),
                    (F.col("s") + min_len - 1).alias("end"))
        )
    elif first_keeper == "window":
        wseq = Window.partitionBy("h").orderBy("__id", "s")
        removal = (
            wins.withColumn("__rn", F.row_number().over(wseq))
            .filter(F.col("__rn") > 1)
            .select("__id", F.col("s").alias("start"),
                    (F.col("s") + min_len - 1).alias("end"))
        )
    else:
        raise ValueError(
            f"first_keeper must be 'join' or 'window', got "
            f"{first_keeper!r}")

    # gaps-and-islands merge: a span opens a new island only when it
    # starts past every earlier span's running-max end (+1: adjacent
    # spans fuse too)
    wprev = (Window.partitionBy("__id").orderBy("start")
             .rowsBetween(Window.unboundedPreceding, -1))
    wrun = (Window.partitionBy("__id").orderBy("start")
            .rowsBetween(Window.unboundedPreceding, 0))
    merged = (
        removal
        .withColumn("__pe", F.max("end").over(wprev))
        .withColumn("__new", F.when(
            F.col("__pe").isNull()
            | (F.col("start") > F.col("__pe") + 1), 1).otherwise(0))
        .withColumn("__isl", F.sum("__new").over(wrun))
        .groupBy("__id", "__isl")
        .agg(F.min("start").alias("start"), F.max("end").alias("end"))
    )
    return merged.select(F.col("__id").alias(id_col), "start", "end")


def remove_duplicate_substrings(df: DataFrame, text_col: str = "text",
                                id_col: str = "doc_id",
                                min_len: int = 50) -> DataFrame:
    """Rebuild documents with their duplicate-substring spans removed
    (all-but-first occurrence, see duplicate_substring_spans). Docs
    with no spans keep their text byte-identical; trimmed docs are
    rebuilt from surviving tokens joined by single spaces (token-level
    variant — original inter-token whitespace is not preserved there).

    The span list per doc is tiny (merged islands), so it travels as
    one array column into an expression-level F.filter over token
    positions — no second shuffle beyond the span build itself.
    """
    spans = duplicate_substring_spans(df, text_col, id_col, min_len)
    sp = spans.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.struct("start", "end")))
        .alias("__spans"))
    out = df.join(sp, id_col, "left")
    ws = tokens(F.col(text_col))
    kept = F.filter(
        ws,
        lambda t, i: ~F.exists(
            F.col("__spans"),
            lambda p: (i + 1 >= p["start"]) & (i + 1 <= p["end"])),
    )
    rebuilt = F.when(F.col("__spans").isNull(), F.col(text_col)) \
        .otherwise(F.concat_ws(" ", kept))
    return out.withColumn(text_col, rebuilt).drop("__spans")
