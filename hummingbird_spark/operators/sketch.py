"""Count-min sketch over a token stream (Cormode & Muthukrishnan,
J. Algorithms 2005) — the mergeable frequency sketch a 100 TB pipeline
uses where an exact token-count table would itself be a Heaps-sized
shuffle: approximate counts with a ONE-SIDED error (est >= true;
overshoot <= e/width * total_tokens with prob 1 - (1/2)^depth when
width/depth follow the paper), in depth x width counters regardless of
vocabulary size.

Scale shape: tokens aggregate to TOKEN grain first (map-side partial
aggregation — the explode never crosses the wire), then each distinct
token emits `depth` (row, bucket, cnt) triples and a second groupBy
collapses them to <= depth*width counter rows per partition before the
(tiny) shuffle — the treeAggregate shape expressed declaratively, so
Catalyst fuses it into the scan. The finished sketch is depth*width
rows (a few MB at any corpus size) and BROADCASTS to probes; estimate
lookups are map-side hash joins with no skewable key (every probe hits
exactly depth counter rows).

Determinism / oracle parity: bucket = 60-bit md5 prefix of
"<row>:<token>" mod width — the conv(substring(md5,1,15)) idiom every
hash in this repo pins for exact DuckDB replicability; counters are
integer sums, so sketch AND estimates are bit-identical across
engines, partitionings, and batch sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _bucket(col, row: int, width: int):
    """60-bit md5 prefix of '<row>:<token>' mod width (DuckDB:
    ('0x' || substr(md5(...), 1, 15))::BIGINT % width)."""
    return (
        F.conv(F.substring(
            F.md5(F.concat(F.lit(f"{row}:"), col)), 1, 15), 16, 10)
        .cast("long") % width
    )


def token_counts(df: DataFrame, text_col: str = "text",
                 gram: str = "token") -> DataFrame:
    """(tok, cnt) at vocabulary grain — the shared input of the sketch
    build and the exact-count probe. gram='trigram' counts adjacent
    word triples instead of unigrams (the n-gram frequency grain where
    the type table is the Heaps term a sketch exists to avoid)."""
    from hummingbird_spark.functions.text import doc_trigrams, tokens

    if gram == "trigram":
        exploded = df.select(
            F.explode(doc_trigrams(F.col(text_col))).alias("tok"))
    else:
        exploded = (
            df.select(F.explode(tokens(F.col(text_col))).alias("w"))
            .select(F.lower(F.col("w")).alias("tok"))
        )
    return exploded.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))


def cms_build(tok_counts: DataFrame, depth: int = 4,
              width: int = 1024) -> DataFrame:
    """(row, bucket, cnt): the depth x width counter table. Missing
    (row, bucket) pairs are implicit zeros — estimates must coalesce,
    which only matters for tokens absent from the corpus."""
    rows = tok_counts.select(
        "cnt",
        F.posexplode(F.array(*[
            _bucket(F.col("tok"), i, width) for i in range(depth)
        ])).alias("row", "bucket"),
    )
    return rows.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(sketch: DataFrame, probes: DataFrame, depth: int,
                 width: int, tok_col: str = "tok") -> DataFrame:
    """probes(tok, ...) -> + cms_est: min over the depth counter rows
    each probe hashes to. The sketch side broadcasts (depth*width rows
    by construction)."""
    hashed = probes.select(
        tok_col,
        F.posexplode(F.array(*[
            _bucket(F.col(tok_col), i, width) for i in range(depth)
        ])).alias("row", "bucket"),
    )
    return (
        hashed.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy(tok_col)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("cms_est"))
    )


def hdr_bucket(col, s: int = 5):
    """HDR-style log-linear bucket index for a NON-NEGATIVE integer
    column (HdrHistogram, Tene; the integer-exact cousin of DDSketch's
    log buckets, Masson et al. VLDB 2019): values below 2^s map to
    themselves (exact); above, the exponent e = floor(log2 v) selects
    a 2^s-wide sub-bucket row, so the relative error of any bucket's
    bounds is <= 2^-s. Every step is integer string-length/shift
    arithmetic — floor(log2 v) comes from the length of the base-2
    string (conv here, bin() in DuckDB), NOT floating log2 — so the
    bucket of a value is BIT-IDENTICAL across engines, partitionings,
    and merges; there is no libm in the mapping at all."""
    e = F.length(F.conv(col.cast("string"), 10, 2)) - 1
    lin = col.cast("long")
    # call_function: the Python shiftright wrapper rejects Column
    # shift amounts; the SQL function takes them fine
    log = ((e.cast("long") - s + 1) * (1 << s)
           + F.call_function("shiftright", col.cast("long"),
                             (e - s).cast("int")) - (1 << s))
    return F.when(col < (1 << s), lin).otherwise(log).alias("bucket")


def hdr_bounds(bucket, s: int = 5):
    """Inverse mapping: bucket index -> inclusive [lo, hi] value
    bounds. Linear buckets are exact (lo == hi)."""
    b = bucket.cast("long")
    j = F.shiftright(b, s)
    sub = b % (1 << s)
    e = j + s - 1
    lo = F.call_function("shiftleft", (F.lit(1 << s) + sub).cast("long"),
                         (e - s).cast("int"))
    hi = lo + F.call_function("shiftleft", F.lit(1).cast("long"),
                              (e - s).cast("int")) - 1
    return (F.when(b < (1 << s), b).otherwise(lo).alias("lo"),
            F.when(b < (1 << s), b).otherwise(hi).alias("hi"))


def hdr_build(df: DataFrame, value_col: str, s: int = 5) -> DataFrame:
    """(bucket, cnt): the bounded histogram — at most 2^s * 64 rows
    regardless of data size, purely additive under merge (like the
    CMS, unlike Misra-Gries), so partial aggregation, cross-shard
    union, and continuous maintenance are all exact by algebra."""
    return (
        df.select(hdr_bucket(F.col(value_col), s))
        .groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    )


def hdr_quantiles_from_hist(hist: DataFrame,
                            qs: tuple = (0.5, 0.9, 0.99),
                            s: int = 5) -> DataFrame:
    """Quantile extraction over an EXISTING (bucket, cnt) histogram —
    a fresh build, a merged cross-shard union, or the continuously
    maintained one (streaming/sketch.py::read_hist): the additive
    algebra makes them interchangeable here."""
    from pyspark.sql import Window

    c = hist.select(
        "bucket", "cnt",
        F.sum("cnt").over(
            Window.orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("cnt").over(
            Window.partitionBy()).alias("n"),
    )
    qf = hist.sparkSession.createDataFrame(
        [(float(q),) for q in qs], "q double")
    lo, hi = hdr_bounds(F.col("bucket"), s)
    return (
        qf.join(c, F.col("cum") >= F.ceil(F.col("q") * F.col("n")))
        .groupBy("q")
        .agg(F.min("bucket").alias("bucket"))
        .select("q", "bucket", lo, hi)
        .orderBy("q")
    )


def hdr_quantiles(df: DataFrame, value_col: str,
                  qs: tuple = (0.5, 0.9, 0.99),
                  s: int = 5) -> DataFrame:
    """(q, bucket, lo, hi): for each requested quantile, the first
    bucket whose cumulative count reaches ceil(q*n), with its value
    bounds — true quantile in [lo, hi], relative error <= 2^-s. The
    histogram is tiny, so the rank scan is one single-partition
    window; the corpus contributes exactly one scan (the build)."""
    return hdr_quantiles_from_hist(hdr_build(df, value_col, s), qs, s)


def hdr_quantiles_grouped(df: DataFrame, value_col: str,
                          group_cols: list,
                          qs: tuple = (0.5, 0.9, 0.99),
                          s: int = 5) -> DataFrame:
    """(groups..., q, lo, hi): per-group quantile bounds from one
    grouped histogram build — the per-source length profile a curation
    pass inspects before setting gates. One corpus scan into a
    (groups, bucket) aggregate bounded at |groups| * 64 * 2^s rows;
    the rank windows partition by group (parallel, tiny)."""
    from pyspark.sql import Window

    hist = (
        df.select(*group_cols, hdr_bucket(F.col(value_col), s))
        .groupBy(*group_cols, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    c = hist.select(
        *group_cols, "bucket",
        F.sum("cnt").over(
            Window.partitionBy(*group_cols).orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("cnt").over(
            Window.partitionBy(*group_cols)).alias("n"),
    )
    qf = df.sparkSession.createDataFrame(
        [(float(q),) for q in qs], "q double")
    lo, hi = hdr_bounds(F.col("bucket"), s)
    return (
        c.join(F.broadcast(qf),
               F.col("cum") >= F.ceil(F.col("q") * F.col("n")))
        .groupBy(*group_cols, "q")
        .agg(F.min("bucket").alias("bucket"))
        .select(*group_cols, "q", lo, hi)
        .orderBy(*group_cols, "q")
    )


def hll_registers(df: DataFrame, value_col: str, group_cols: list,
                  m: int = 256) -> DataFrame:
    """(groups..., bucket, rho): HyperLogLog registers (Flajolet,
    Fusy, Gandouet & Meunier 2007) over md5-derived hashes. HLL is
    deterministic GIVEN its hash; Spark's approx_count_distinct uses
    an internal hash (rows-only territory), so this twin derives
    h = md5_60(value), bucket = h & (m-1), rho = leading zeros of the
    52-bit w field + 1 — with rho computed from the base-2 STRING
    LENGTH of w (the hdr_bucket idiom), every register is an integer
    function of the value, identical across engines, partitionings,
    and merges (register merge = max, so the sketch is mergeable and
    a continuous twin would be exact by algebra like the CMS)."""
    assert m & (m - 1) == 0, "m must be a power of two"
    bucket_bits = m.bit_length() - 1
    h = F.conv(F.substring(
        F.md5(F.col(value_col).cast("string")), 1, 15), 16, 10) \
        .cast("long")
    bucket = h % m
    w = F.shiftright(h, bucket_bits)
    w_bits = 60 - bucket_bits
    rho = F.when(w == 0, F.lit(w_bits + 1)).otherwise(
        F.lit(w_bits + 1)
        - F.length(F.conv(w.cast("string"), 10, 2)))
    return (
        df.select(*group_cols, bucket.alias("bucket"),
                  rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate_from_registers(regs: DataFrame, group_cols: list,
                                m: int = 256) -> DataFrame:
    """Estimate extraction over an EXISTING (groups..., bucket, rho)
    register frame — a fresh build or a cross-shard max-merge: the
    max-semilattice algebra makes them interchangeable here."""
    alpha = 0.7213 / (1.0 + 1.079 / m)
    c2 = alpha * m * m * float(1 << 50)  # one Python-folded constant
    per = regs.groupBy(*group_cols).agg(
        (F.sum(F.call_function("shiftright",
                               F.lit(1 << 50).cast("long"),
                               F.col("rho").cast("int")))
         + (F.lit(m) - F.count(F.lit(1))) * F.lit(1 << 50)).alias("s"),
        (F.lit(m) - F.count(F.lit(1))).alias("zeros"),
    )
    e_raw = F.lit(c2) / F.col("s")
    est = F.when(
        (e_raw <= 2.5 * m) & (F.col("zeros") > 0),
        F.round(F.lit(float(m)) * F.log(F.lit(float(m))
                                        / F.col("zeros")), 4),
    ).otherwise(F.round(e_raw, 4))
    return per.select(*group_cols, est.alias("hll_est"))


def hll_distinct(df: DataFrame, value_col: str, group_cols: list,
                 m: int = 256) -> DataFrame:
    """(groups..., hll_est): the HLL cardinality estimate, built so
    every arithmetic step is cross-engine exact: the harmonic sum is
    the INTEGER  S = sum(2^50 >> rho) + zeros * 2^50  (no float
    accumulation order to diverge), the raw estimate is ONE division
    of a precomputed double constant by S, and the small-range
    linear-counting branch (E <= 2.5m, zeros > 0) is the single libm
    call, 4-dp rounded per the engine-stability discipline. Standard
    error ~ 1.04/sqrt(m)."""
    return hll_estimate_from_registers(
        hll_registers(df, value_col, group_cols, m), group_cols, m)


def hll_pairwise_overlap(regs: DataFrame, group_col: str,
                         m: int = 256) -> DataFrame:
    """(ga, gb, est_a, est_b, est_union, jaccard_est): distinct-set
    overlap between every group pair from ONE register table — the
    theta-sketch-style set algebra HLL registers support for free:
    union registers are the per-bucket MAX of the two groups' register
    tables (exact by the max-semilattice), the union cardinality comes
    from the same estimator, and the intersection falls out of
    inclusion-exclusion (est_a + est_b - est_union; noisy for small
    overlaps — it can even go negative — which is the documented
    limitation of inclusion-exclusion on HLL, and why jaccard_est is a
    screening diagnostic, not a measurement).

    Scale: the register table is |groups|*m rows no matter the corpus,
    so pair expansion costs |pairs|*m register rows — all map-side
    aggregated. For thousands of groups, screen with a blocking key
    first (or cap to top-overlap candidates); the corpus itself is
    never rescanned."""
    pairs = (
        regs.select(F.col(group_col).alias("ga")).distinct()
        .join(regs.select(F.col(group_col).alias("gb")).distinct(),
              F.col("ga") < F.col("gb"))
    )
    tagged_a = regs.select(F.col(group_col).alias("ga"),
                           "bucket", "rho") \
        .join(F.broadcast(pairs), "ga")
    tagged_b = regs.select(F.col(group_col).alias("gb"),
                           "bucket", "rho") \
        .join(F.broadcast(pairs), "gb")
    union_regs = (
        tagged_a.select("ga", "gb", "bucket", "rho")
        .unionByName(tagged_b.select("ga", "gb", "bucket", "rho"))
        .groupBy("ga", "gb", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    u = hll_estimate_from_registers(union_regs, ["ga", "gb"], m) \
        .withColumnRenamed("hll_est", "est_union")
    singles = hll_estimate_from_registers(regs, [group_col], m)
    ea = singles.select(F.col(group_col).alias("ga"),
                        F.col("hll_est").alias("est_a"))
    eb = singles.select(F.col(group_col).alias("gb"),
                        F.col("hll_est").alias("est_b"))
    return (
        u.join(F.broadcast(ea), "ga").join(F.broadcast(eb), "gb")
        .select(
            "ga", "gb", "est_a", "est_b", "est_union",
            F.round((F.col("est_a") + F.col("est_b")
                     - F.col("est_union")) / F.col("est_union"), 4)
            .alias("jaccard_est"),
        )
    )


def mg_candidates(df: DataFrame, text_col: str = "text", k: int = 40,
                  gram: str = "token") -> DataFrame:
    """Misra-Gries candidate pruning (Misra & Gries, Sci. Comput.
    Program. 1982; mergeable form per Agarwal et al., PODS 2012): each
    partition folds its token stream through k counters — on overflow,
    subtract the (k+1)-th largest counter value from all and drop the
    non-positive — and emits its <= k surviving tokens. State is k
    counters per partition FOREVER, independent of vocabulary size:
    this is the candidate generator a 100 TB corpus uses where the
    exact token-count table is itself a Heaps-sized shuffle.

    Guarantee (the reason the two-pass composition below is exact):
    a partition's total subtracted offset D_p <= n_p/(k+1), so a token
    absent from the partition summary has local count <= n_p/(k+1);
    absent from EVERY summary implies global count <= n/(k+1). Hence
    the union of summaries is a superset of all tokens with count >
    n/(k+1), under ANY partitioning. The summaries themselves are
    partition-dependent (rows-only territory); only the downstream
    exact recount is deterministic.

    Returns (tok, wt): candidate rows carry wt=0 and one tok=NULL
    sentinel per partition carries the partition's stream weight, so
    the caller gets the exact global n from the same single scan.
    Tokenization stays JVM-side (functions/text.py) so token semantics
    are shared with every other text operator; the exploded stream
    crosses the Arrow seam scan-parallel with no shuffle, and the fold
    is vectorized per batch (value_counts + groupby-sum merge)."""
    import pandas as pd

    from hummingbird_spark.functions.text import doc_trigrams, tokens

    if gram == "trigram":
        toks = df.select(
            F.explode(doc_trigrams(F.col(text_col))).alias("tok"))
    else:
        toks = (
            df.select(F.explode(tokens(F.col(text_col))).alias("w"))
            .select(F.lower(F.col("w")).alias("tok"))
        )

    def fold(batches):
        state = pd.Series(dtype="int64")
        n_part = 0
        for pdf in batches:
            n_part += len(pdf)
            vc = pdf["tok"].value_counts()
            state = pd.concat([state, vc]).groupby(level=0).sum()
            if len(state) > k:
                d = state.nlargest(k + 1).iloc[-1]
                state = state[state > d] - d
        # one sentinel row carries the partition's stream weight (the
        # fold already saw every token, so the global n costs no extra
        # scan downstream); candidate rows carry wt=0
        yield pd.DataFrame({
            "tok": [None, *state.index.astype(str)],
            "wt": [n_part] + [0] * len(state),
        })

    return toks.mapInPandas(fold, "tok string, wt long")


def mg_candidates_grouped(df: DataFrame, group_col: str,
                          text_col: str = "text", k: int = 40,
                          gram: str = "token") -> DataFrame:
    """Per-GROUP Misra-Gries candidate pruning: each partition keeps k
    counters PER GROUP it sees (state k*|groups-in-partition| — fine
    for source-scale groups; for million-group keys pre-partition by
    group first). The per-(partition, group) fold gives the grouped
    guarantee: a token absent from every summary for group g has
    count_g <= n_g/(k+1), so the union is a per-group superset of the
    per-group heavy hitters under any partitioning.

    Returns (group, tok, wt): candidate rows carry wt=0, one tok=NULL
    sentinel per (partition, group) carries that slice's stream
    weight, so exact per-group totals cost no extra scan."""
    import pandas as pd

    from hummingbird_spark.functions.text import doc_trigrams, tokens

    if gram == "trigram":
        toks = df.select(
            group_col,
            F.explode(doc_trigrams(F.col(text_col))).alias("tok"))
    else:
        toks = (
            df.select(group_col,
                      F.explode(tokens(F.col(text_col))).alias("w"))
            .select(group_col, F.lower(F.col("w")).alias("tok"))
        )

    def fold(batches):
        states: dict = {}
        weights: dict = {}
        for pdf in batches:
            vc = pdf.groupby([group_col, "tok"]).size()
            sizes = pdf.groupby(group_col).size()
            for g, n in sizes.items():
                weights[g] = weights.get(g, 0) + int(n)
            for g in vc.index.get_level_values(0).unique():
                s = states.get(g, pd.Series(dtype="int64"))
                s = pd.concat([s, vc.loc[g]]).groupby(level=0).sum()
                if len(s) > k:
                    d = s.nlargest(k + 1).iloc[-1]
                    s = s[s > d] - d
                states[g] = s
        groups, toks_out, wts = [], [], []
        for g, n in weights.items():
            groups.append(g)
            toks_out.append(None)
            wts.append(n)
            s = states.get(g)
            if s is not None:
                for tok in s.index.astype(str):
                    groups.append(g)
                    toks_out.append(tok)
                    wts.append(0)
        yield pd.DataFrame({group_col: groups, "tok": toks_out,
                            "wt": wts})

    return toks.mapInPandas(fold, f"{group_col} string, tok string, "
                                  f"wt long")


def mg_heavy_hitters_grouped(df: DataFrame, group_col: str,
                             text_col: str = "text", k: int = 40,
                             gram: str = "token") -> DataFrame:
    """Two-pass EXACT per-group heavy hitters (every (group, tok) with
    cnt*(k+1) > n_group): the grouped form of mg_heavy_hitters — same
    determinism argument, per group: the candidate sets are
    partition-dependent but their per-group superset guarantee makes
    the exact-recount output invariant. Two corpus scans; candidates
    and per-group totals broadcast."""
    from hummingbird_spark.functions.text import doc_trigrams, tokens

    if gram == "trigram":
        toks = df.select(
            group_col,
            F.explode(doc_trigrams(F.col(text_col))).alias("tok"))
    else:
        toks = (
            df.select(group_col,
                      F.explode(tokens(F.col(text_col))).alias("w"))
            .select(group_col, F.lower(F.col("w")).alias("tok"))
        )
    summary = mg_candidates_grouped(df, group_col, text_col, k, gram) \
        .localCheckpoint(eager=False)
    cand = summary.filter(F.col("tok").isNotNull()) \
        .select(group_col, "tok").distinct()
    totals = summary.groupBy(group_col).agg(F.sum("wt").alias("n"))
    return (
        toks.join(F.broadcast(cand), [group_col, "tok"])
        .groupBy(group_col, "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .join(F.broadcast(totals), group_col)
        .filter(F.col("cnt") * (k + 1) > F.col("n"))
        .select(group_col, "tok", "cnt")
        .orderBy(group_col, F.desc("cnt"), "tok")
    )


def mg_heavy_hitters(df: DataFrame, text_col: str = "text", k: int = 40,
                     gram: str = "token") -> DataFrame:
    """Two-pass EXACT heavy hitters: (1) Misra-Gries candidate pruning
    — bounded state, no vocabulary-grain shuffle, with the global
    stream weight n folded out of the same scan; (2) exact recount of
    the candidate set only (the groupBy shuffles <= partitions*k keys,
    not the Heaps-term vocabulary), filtered to cnt*(k+1) > n in
    integer arithmetic. The MG superset guarantee makes the OUTPUT
    deterministic and partition-invariant even though the candidate
    set is not: any spurious candidate is removed by its exact count,
    and no qualifying token can be missing. Two corpus scans total;
    the P*k-row summary stages via localCheckpoint for its two tiny
    consumers, and n rides into the filter as a 1-row broadcast cross
    join (nlj=1 by design), keeping everything off the driver."""
    from hummingbird_spark.functions.text import doc_trigrams, tokens

    if gram == "trigram":
        toks = df.select(
            F.explode(doc_trigrams(F.col(text_col))).alias("tok"))
    else:
        toks = (
            df.select(F.explode(tokens(F.col(text_col))).alias("w"))
            .select(F.lower(F.col("w")).alias("tok"))
        )
    summary = mg_candidates(df, text_col, k, gram) \
        .localCheckpoint(eager=False)
    cand = summary.filter(F.col("tok").isNotNull()) \
        .select("tok").distinct()
    total = summary.agg(F.sum("wt").alias("n"))
    return (
        toks.join(F.broadcast(cand), "tok")
        .groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * (k + 1) > F.col("n"))
        .select("tok", "cnt")
        .orderBy(F.desc("cnt"), "tok")
    )


def cms_heavy_hitters(df: DataFrame, text_col: str = "text",
                      top_k: int = 20, depth: int = 4,
                      width: int = 1024,
                      gram: str = "token") -> DataFrame:
    """The classic sketch demo, self-verifying: build the sketch, probe
    it with the corpus's true top-k grams, and return (tok, cnt,
    cms_est, overshoot) — overshoot = est - true is the sketch's
    collision error, >= 0 for every row BY CONSTRUCTION (the one-sided
    guarantee; a negative value would be a bug, and the oracle's exact
    replica would catch it). Ties in the true top-k break by token."""
    tc = token_counts(df, text_col, gram).localCheckpoint(eager=False)
    top = tc.orderBy(F.desc("cnt"), "tok").limit(top_k)
    sketch = cms_build(tc, depth, width)
    est = cms_estimate(sketch, top.select("tok"), depth, width)
    return (
        top.join(est, "tok")
        .select("tok", "cnt", "cms_est",
                (F.col("cms_est") - F.col("cnt")).alias("overshoot"))
        .orderBy(F.desc("cnt"), "tok")
    )
