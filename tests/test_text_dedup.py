"""Semantic tests for text analysis, dedup, and similarity operators —
synthetic corpora with known duplicates/neighbors."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from hummingbird_spark.functions.text import (
    fingerprint,
    lang_id,
    ngrams_from_tokens,
    quality_score,
    token_count,
    tokens,
)
from hummingbird_spark.operators.dedup import (
    dedup_exact,
    exact_duplicate_groups,
    minhash_near_duplicates,
    simhash_near_duplicates,
)
from tests.conftest import SF_SMOKE
from hummingbird_spark.operators.similarity import (
    cosine_topk,
    lsh_topk,
    near_duplicate_pairs,
)

BASE = ("the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep green forest to find some food for the night")
NEAR = BASE.replace("lazy", "sleepy")  # one-word change: high jaccard
FAR = ("completely different text about spark engines and distributed "
       "query processing with columnar storage formats and fast shuffles")


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        Row(doc_id=1, text=BASE),
        Row(doc_id=2, text=BASE),                  # exact dup of 1
        Row(doc_id=3, text="  " + BASE + "  "),    # whitespace-noise dup
        Row(doc_id=4, text=NEAR),                  # near dup
        Row(doc_id=5, text=FAR),
        Row(doc_id=6, text=BASE.upper()),          # case-noise dup
    ]
    return spark.createDataFrame(rows)


def test_token_count_and_ngrams(spark):
    df = spark.createDataFrame([Row(t="a b  c"), Row(t=""), Row(t="  x ")])
    got = df.select(token_count(F.col("t")).alias("n")).collect()
    assert [r.n for r in got] == [3, 0, 1]
    grams = df.select(
        ngrams_from_tokens(tokens(F.col("t")), 2).alias("g")).collect()
    assert grams[0].g == ["a b", "b c"]
    assert grams[1].g == []
    assert grams[2].g == []  # fewer words than n


def test_fingerprint_normalizes(spark):
    df = spark.createDataFrame(
        [Row(a=BASE, b="  " + BASE.upper() + " ", c=FAR)]
    )
    r = df.select(
        fingerprint(F.col("a")).alias("fa"),
        fingerprint(F.col("b")).alias("fb"),
        fingerprint(F.col("c")).alias("fc"),
    ).first()
    assert r.fa == r.fb != r.fc


def test_quality_score_ordering(spark):
    df = spark.createDataFrame([
        Row(t=BASE),                       # prose: high
        Row(t="@@ ## $$ %% ^^ && **"),     # symbols: low
        Row(t=""),                         # empty: low
    ])
    scores = [r.q for r in df.select(quality_score(F.col("t")).alias("q")).collect()]
    assert scores[0] > scores[1] >= scores[2]
    assert all(0.0 <= s <= 1.0 for s in scores)


def test_lang_id_markers(spark):
    df = spark.createDataFrame([
        Row(t="the cat and the dog of a house"),
        Row(t="el gato y la casa de que"),
        Row(t="der hund und die katze ist"),
        Row(t="xyzzy qwerty plugh"),
    ])
    got = [r.l for r in df.select(lang_id(F.col("t")).alias("l")).collect()]
    assert got == ["en", "es", "de", "und"]


def test_dedup_exact(spark, corpus):
    kept = dedup_exact(corpus)
    ids = sorted(r.doc_id for r in kept.collect())
    # 1,2,3 collapse (basename); 6 collapses too (case-normalized); 4,5 distinct
    assert ids == [1, 4, 5]
    groups = exact_duplicate_groups(corpus).collect()
    assert len(groups) == 1
    assert groups[0].n_docs == 4 and groups[0].keep_id == 1


def test_minhash_near_duplicates(spark, corpus):
    pairs = minhash_near_duplicates(corpus, threshold=0.5).collect()
    got = {(r.a, r.b) for r in pairs}
    # all exact-dup pairs jaccard=1.0; near-dup (x,4) high jaccard
    assert (1, 2) in got and (1, 3) in got and (2, 3) in got
    assert (1, 4) in got
    # FAR never pairs with anything
    assert not any(5 in p for p in got)
    j = {(r.a, r.b): r.jaccard for r in pairs}
    assert j[(1, 2)] == 1.0
    assert 0.5 <= j[(1, 4)] < 1.0


def test_simhash_near_duplicates(spark, corpus):
    pairs = simhash_near_duplicates(corpus, max_hamming=3).collect()
    got = {(r.a, r.b) for r in pairs}
    assert (1, 2) in got and (1, 3) in got  # identical text -> hamming 0
    assert not any(5 in p for p in got)
    h = {(r.a, r.b): r.hamming for r in pairs}
    assert h[(1, 2)] == 0


def _unit(i: int, dim: int = 8) -> list[float]:
    v = [0.0] * dim
    v[i % dim] = 1.0
    return v


def test_cosine_topk_exact(spark):
    rows = [Row(vec_id=i, embedding=_unit(i)) for i in range(8)]
    # vec 8: close to vec 0 but not identical
    rows.append(Row(vec_id=8, embedding=[0.9, 0.1] + [0.0] * 6))
    df = spark.createDataFrame(rows)
    got = cosine_topk(df, _unit(0), k=3).collect()
    assert [r.vec_id for r in got] == [0, 8, 1]
    assert got[0].score == 1.0
    assert got[1].score == pytest.approx(0.9 / math.sqrt(0.82), abs=1e-6)


def test_lsh_topk_recalls_neighbors(spark):
    sf = "/root/testdata/sf0.001"
    df = spark.read.parquet(f"{sf}/embeddings.parquet")
    q = df.filter(F.col("vec_id") == 0).first().embedding
    exact = cosine_topk(df, list(q), k=5).collect()
    approx = lsh_topk(df, list(q), k=5, n_planes=8, probe_hamming=2).collect()
    # the query vector itself must always be found (its own bucket)
    assert approx[0].vec_id == 0 == exact[0].vec_id
    # every approx score must equal the exact cosine for that id
    # (LSH prunes candidates, never alters scores)
    exact_all = {r.vec_id: r.score
                 for r in cosine_topk(df, list(q), k=500).collect()}
    for r in approx:
        assert r.score == exact_all[r.vec_id]
    # approx scores are descending
    scores = [r.score for r in approx]
    assert scores == sorted(scores, reverse=True)


def test_embedding_near_duplicate_pairs(spark):
    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[0.999, 0.01, 0.0, 0.0]),   # near dup of 1
        Row(vec_id=3, embedding=[0.0, 1.0, 0.0, 0.0]),
        Row(vec_id=4, embedding=[2.0, 0.0, 0.0, 0.0]),      # scaled dup of 1
    ]
    df = spark.createDataFrame(rows)
    pairs = near_duplicate_pairs(df, threshold=0.99, n_planes=6).collect()
    got = {(r.a, r.b) for r in pairs}
    assert (1, 4) in got  # cosine ignores scale
    assert (1, 2) in got
    assert not any(3 in p for p in got)


def test_winnowing_copy_detection(spark):
    """A doc fully containing another's text must share nearly all of
    the smaller doc's winnowing fingerprints (containment ~1); an
    unrelated doc must not pair with either."""
    from hummingbird_spark.operators.dedup import (
        winnow_fingerprint_df,
        winnow_shared_pairs,
    )

    df = spark.createDataFrame([
        Row(doc_id=1, text=BASE),
        Row(doc_id=2, text="PREFIX HEADER. " + BASE + " TRAILING FOOTER."),
        Row(doc_id=3, text=FAR),
        Row(doc_id=4, text="xy"),  # shorter than one window: no fps
    ])
    pairs = {(r.a, r.b): r for r in winnow_shared_pairs(df).collect()}
    assert (1, 2) in pairs
    assert pairs[(1, 2)].containment > 0.9
    assert all({3, 4}.isdisjoint(p) for p in pairs)

    fps = winnow_fingerprint_df(df)
    per_doc = {r.doc_id: r.n for r in
               fps.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert 4 not in per_doc
    # winnowing density ~2/(w+1) of the ~110 kgrams — sanity bounds
    assert 5 <= per_doc[1] <= 60


def test_ivf_topk_recall(spark):
    """IVF with nprobe=4/16 lists must recover most of the exact top-10;
    nprobe=16 (probe everything) must equal the exact result."""
    from hummingbird_spark.operators.similarity import (
        ivf_topk,
        train_ivf_centroids,
    )
    from hummingbird_spark.sources.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.filter(F.col("vec_id") == 0).select("embedding").first().embedding
    exact = [r.vec_id for r in cosine_topk(e, q, k=10).collect()]

    cent = train_ivf_centroids(e, n_centroids=16)
    approx = [r.vec_id for r in
              ivf_topk(e, q, k=10, centroids=cent, nprobe=4).collect()]
    assert len(set(exact) & set(approx)) >= 6

    full = [r.vec_id for r in
            ivf_topk(e, q, k=10, centroids=cent, nprobe=16).collect()]
    assert full == exact


def test_simhash_unrelated_corpus_no_pairs(spark):
    """40 docs of disjoint vocabulary must produce NO hamming<=3 pairs —
    the canary for a degenerate hash (a biased/linear hash collapses
    every simhash toward the same value and pairs everything; caught a
    uint64-underflow bug that made every vote positive)."""
    import random

    rng = random.Random(7)
    docs = [
        Row(doc_id=i, text=" ".join(
            f"w{i}_{rng.randrange(1000)}" for _ in range(30)))
        for i in range(40)
    ]
    pairs = simhash_near_duplicates(spark.createDataFrame(docs)).collect()
    assert pairs == []


def test_connected_components_known_graph(spark):
    """Chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds),
    triangle 10-11-12, isolated pair (20,21): labels must converge to
    the component minimum for every node."""
    from hummingbird_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (21, 20)],
        "a: long, b: long",
    )
    got = {r.node: r.label for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}


def test_dup_cluster_drop_count(spark):
    """Dedup bookkeeping: docs to drop == member count - cluster count
    (one canonical survivor per cluster)."""
    from hummingbird_spark.operators.dedup import (
        connected_components,
        minhash_near_duplicates,
    )
    from hummingbird_spark.sources.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    pairs = minhash_near_duplicates(d, threshold=0.7)
    labels = connected_components(pairs, "a", "b")
    members = labels.count()
    clusters = labels.select("label").distinct().count()
    assert members > clusters > 0
    drops = labels.filter(F.col("node") != F.col("label")).count()
    assert drops == members - clusters


def test_redact_pii_patterns(spark):
    from hummingbird_spark.functions.text import redact_pii

    rows = [
        Row(i=0, t="mail me at jo.doe+x@corp.example.co or call "
                   "+1 (555) 123-4567 ok"),
        Row(i=1, t="ssn 123-45-6789 and site https://a.example.com/p?q=1 end"),
        Row(i=2, t="nothing sensitive here 12345"),
        Row(i=3, t="card 4111 1111 1111 1111 or 4111-1111-1111-1111 "
                   "or 4111111111111111 end"),
        Row(i=4, t="server at 192.168.1.100 port 8080 done"),
    ]
    got = {r.i: r.c for r in spark.createDataFrame(rows)
           .select("i", redact_pii(F.col("t")).alias("c")).collect()}
    assert got[0] == "mail me at <EMAIL> or call <PHONE> ok"
    assert got[1] == "ssn <SSN> and site <URL> end"
    assert got[2] == "nothing sensitive here 12345"
    # card shapes redact BEFORE the phone rule can eat fragments
    assert got[3] == "card <CC> or <CC> or <CC> end"
    assert got[4] == "server at <IP> port 8080 done"


def test_exact_near_dup_threshold_and_topk(spark):
    """Planted near-dups: the thresholded exact path must find exactly
    the planted pairs, and top_k must return the global best pairs in
    (cosine desc, a, b) order regardless of Arrow blocking."""
    from hummingbird_spark.operators.similarity import (
        exact_near_duplicate_pairs,
    )

    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[0.999, 0.01, 0.0, 0.0]),
        Row(vec_id=3, embedding=[0.0, 1.0, 0.0, 0.0]),
        Row(vec_id=4, embedding=[2.0, 0.0, 0.0, 0.0]),
        Row(vec_id=5, embedding=[0.0, 0.98, 0.2, 0.0]),
    ]
    df = spark.createDataFrame(rows).repartition(3)  # force blocking
    hits = {(r.a, r.b) for r in
            exact_near_duplicate_pairs(df, threshold=0.99).collect()}
    assert hits == {(1, 2), (1, 4), (2, 4)}

    top = exact_near_duplicate_pairs(df, top_k=3).collect()
    assert [(r.a, r.b) for r in top] == [(1, 4), (1, 2), (2, 4)]
    assert top[0].cosine == 1.0


def test_hashed_classifier_score(spark):
    """Deterministic, bounded, case-insensitive, and centered: empty
    text scores exactly 0.5; identical text scores identically across
    runs; scores stay inside (0, 1)."""
    from hummingbird_spark.functions.text import hashed_classifier_score

    df = spark.createDataFrame([
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=2, text="THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG"),
        Row(doc_id=3, text=""),
        Row(doc_id=4, text="completely different content entirely"),
    ])
    out = df.select("doc_id",
                    hashed_classifier_score(F.col("text")).alias("s"))
    got = {r.doc_id: r.s for r in out.collect()}
    again = {r.doc_id: r.s for r in out.collect()}
    assert got == again
    assert got[1] == got[2]          # lowercased before hashing
    assert got[3] == 0.5             # empty -> zero logit
    assert all(0.0 < s < 1.0 for s in got.values())
    assert got[1] != got[4]


def test_segment_duplicate_stats(spark):
    """A doc sharing one exact 5-word block with another doc shows
    exactly that block as duplicated; sub-window docs emit nothing."""
    from hummingbird_spark.operators.dedup import (
        segment_duplicate_stats,
        segment_fingerprints,
    )

    shared = "alpha beta gamma delta epsilon"
    df = spark.createDataFrame([
        Row(doc_id=1, text=shared + " one two three four five"),
        Row(doc_id=2, text=shared + " six seven eight nine ten"),
        Row(doc_id=3, text="totally different words here now "
                           "plus some more filler tokens"),
        Row(doc_id=4, text="too short"),
    ])
    stats = {r.doc_id: r for r in
             segment_duplicate_stats(df, window=5).collect()}
    assert stats[1].n_segments == 2 and stats[1].n_dup_segments == 1
    assert stats[1].dup_fraction == 0.5
    assert stats[2].dup_fraction == 0.5
    assert stats[3].n_dup_segments == 0
    assert 4 not in stats  # shorter than one window: no segments
    # fingerprints are disjoint blocks: 10 words -> 2 segments
    n = segment_fingerprints(df, window=5).filter("doc_id = 1").count()
    assert n == 2


def test_embedding_duplicate_clusters(spark):
    """Planted near-dup vectors must cluster transitively under their
    minimum id; unrelated vectors stay singleton clusters of themselves
    (every input row appears exactly once)."""
    from hummingbird_spark.operators.similarity import (
        embedding_duplicate_clusters,
    )

    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[0.999, 0.01, 0.0, 0.0]),   # ~dup of 1
        Row(vec_id=3, embedding=[0.0, 1.0, 0.0, 0.0]),      # singleton
        Row(vec_id=4, embedding=[2.0, 0.0, 0.0, 0.0]),      # scaled dup
        Row(vec_id=5, embedding=[0.0, 0.98, 0.2, 0.0]),     # singleton
    ]
    df = spark.createDataFrame(rows).repartition(3)
    got = {r.vec_id: (r.cluster_id, r.is_canonical)
           for r in embedding_duplicate_clusters(
               df, threshold=0.99, method="exact").collect()}
    assert got == {
        1: (1, True), 2: (1, False), 4: (1, False),
        3: (3, True), 5: (5, True),
    }
    # the LSH path finds the same clusters on this tiny planted corpus
    lsh = {r.vec_id: r.cluster_id
           for r in embedding_duplicate_clusters(
               df, threshold=0.99, method="lsh", n_planes=6).collect()}
    assert lsh == {1: 1, 2: 1, 4: 1, 3: 3, 5: 5}


def test_tfidf_cosine_order_insensitive(spark):
    """The property that distinguishes TF-IDF cosine from shingle
    detectors: a word-REORDERED copy scores cosine 1.0 (same bag of
    words), and unrelated docs score far below threshold. Also pins
    the vocabulary cut: terms above max_doc_freq don't contribute."""
    from hummingbird_spark.operators.dedup import tfidf_cosine_pairs

    rows = [
        Row(doc_id=1, text="alpha beta gamma delta epsilon zeta"),
        Row(doc_id=2, text="zeta epsilon delta gamma beta alpha"),
        Row(doc_id=3, text="totally different words entirely here now"),
        Row(doc_id=4, text="alpha beta gamma delta epsilon zeta"),
    ]
    df = spark.createDataFrame(rows)
    got = {(r.a, r.b): r.cosine
           for r in tfidf_cosine_pairs(df, threshold=0.9).collect()}
    assert set(got) == {(1, 2), (1, 4), (2, 4)}
    assert all(c == 1.0 for c in got.values())

    # every term in docs 1/2/4 exceeds max_doc_freq=2 -> empty vocab for
    # them; no pairs survive (doc 3's terms are unique, no partners)
    assert tfidf_cosine_pairs(df, threshold=0.1,
                              max_doc_freq=2).count() == 0


def test_chunk_documents_edges(spark):
    from hummingbird_spark.functions.text import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(100))),  # 100 tokens
         (2, "a b c"),                                 # shorter than win
         (3, ""),                                      # empty -> 0 rows
         (4, " ".join(f"x{i}" for i in range(50)))],   # exactly one win
        "doc_id long, text string")
    out = chunk_documents(docs, max_tokens=50, stride=40)
    rows = sorted([(r.doc_id, r.chunk_id, r.n_tokens)
                   for r in out.collect()])
    # doc 1: spans [0,50) [40,90) [80,100) -> 3 chunks
    assert rows == [(1, 0, 50), (1, 1, 50), (1, 2, 20),
                    (2, 0, 3), (4, 0, 50)]
    # overlap check: chunk 1 of doc 1 starts at token 40
    c1 = out.filter("doc_id = 1 AND chunk_id = 1").first()
    assert c1.chunk_text.split()[0] == "t40"
    assert c1.chunk_text.split()[-1] == "t89"


def test_decontamination_planted_overlap(spark):
    from hummingbird_spark.operators.decontaminate import (
        contamination_report,
    )

    bench_text = "the quick brown fox jumps over the lazy dog tonight"
    corpus = spark.createDataFrame(
        [(1, f"intro words {bench_text} trailing text here"),  # contains
         (2, "completely unrelated content about spark plans and joins"),
         (3, bench_text),                                      # verbatim
         (4, "quick brown fox but too short overlap")],        # < 8-gram
        "doc_id long, text string")
    bench = spark.createDataFrame([(100, bench_text)],
                                  "doc_id long, text string")
    rep = {r.doc_id: r for r in
           contamination_report(corpus, bench, ngram=8).collect()}
    assert set(rep) == {1, 3}
    assert rep[3].hit_ratio == 1.0       # wholesale inclusion
    assert 0 < rep[1].hit_ratio <= 1.0
    assert len(rep[1].example_gram.split()) == 8


def test_c4_quality_flags(spark):
    from hummingbird_spark.functions.text import c4_quality_flags

    good = "\n".join(
        [f"This is a sufficiently long prose sentence number {i}."
         for i in range(5)])
    docs = spark.createDataFrame(
        [(1, good),
         (2, "one line only."),                       # too few lines
         (3, "a\nb\nc\nd"),                           # short lines
         (4, good + "\nlorem ipsum dolor sit amet" * 1),
         (5, good.replace("number 0.", "number {0}"))],  # curly
        "doc_id long, text string")
    out = docs.select(
        "doc_id", c4_quality_flags(F.col("text")).alias("q"))
    rows = {r.doc_id: r.q for r in out.collect()}
    assert rows[1].keep is True
    assert rows[2].too_few_lines and not rows[2].keep
    assert rows[3].short_lines and not rows[3].keep
    assert rows[4].has_lorem_ipsum and not rows[4].keep
    assert rows[5].has_curly_brace and not rows[5].keep
    assert rows[1].terminal_punct_ratio == 1.0


def test_gopher_quality_flags(spark):
    from hummingbird_spark.functions.text import gopher_quality_flags

    # a doc that passes every rule: 60+ words, sane word lengths,
    # >= 2 required stopwords, alphabetic, no bullets/ellipses/symbols
    good = " ".join(
        ["the quick brown fox jumps over that lazy dog again and"] * 6)
    docs = spark.createDataFrame(
        [(1, good),
         (2, "the cat sat with that dog"),             # < 50 words
         (3, " ".join(["a b c d"] * 20)),              # mwl < 3
         (4, good + " " + "#" * 40),                   # symbol ratio
         (5, "\n".join(["- bullet item here"] * 10)),  # bullet heavy
         (6, "\n".join([good] + ["trailing off..."] * 4)),  # ellipses
         (7, " ".join(["12345 67890 #### $$$$"] * 20)),  # low alpha
         (8, " ".join(["purple monkey dishwasher"] * 25)),  # no stops
         # per-class thresholds (Rae et al. A1: "either the hash
         # symbol or the ellipsis"): 81 words, 6 hashes + 6 ellipses
         # = each class ~0.074 <= 0.1, though their sum is > 0.1
         # (line must not END in an ellipsis — that's ellipsis_heavy)
         (9, good + " " + "# " * 6 + "so... " * 6 + "to the end")],
        "doc_id long, text string")
    rows = {r.doc_id: r.g for r in docs.select(
        "doc_id", gopher_quality_flags(F.col("text")).alias("g")
    ).collect()}
    assert rows[1].keep is True and rows[1].n_required_stopwords >= 2
    assert rows[2].too_few_words and not rows[2].keep
    assert rows[3].bad_mean_word_len and not rows[3].keep
    assert rows[4].high_symbol_ratio and not rows[4].keep
    assert rows[5].bullet_heavy and not rows[5].keep
    assert rows[6].ellipsis_heavy and not rows[6].keep
    assert rows[7].low_alpha_words and not rows[7].keep
    assert rows[8].missing_stopwords and not rows[8].keep
    assert not rows[9].high_symbol_ratio and rows[9].keep
    assert rows[9].hash_word_ratio <= 0.1
    assert rows[9].ellipsis_word_ratio <= 0.1
    assert rows[9].hash_word_ratio + rows[9].ellipsis_word_ratio > 0.1


def test_strip_repeated_lines(spark):
    from hummingbird_spark.functions.text import strip_repeated_lines

    text = "\n".join([
        "Cookie notice: we use cookies.",
        "Real content sentence one.",
        "Cookie notice: we use cookies.",
        "  Real content sentence two.  ",
        "Cookie notice: we use cookies.",
        "",
    ])
    df = spark.createDataFrame([(text,)], "text string")
    out = df.select(
        strip_repeated_lines(F.col("text")).alias("clean")).first().clean
    assert out.splitlines() == [
        "Cookie notice: we use cookies.",
        "Real content sentence one.",
        "Real content sentence two.",
    ]


def test_bm25_ranking_properties(spark):
    """BM25 sanity on a hand-built corpus: more matching terms beat
    fewer; rare terms outweigh common ones; non-matching docs absent."""
    from hummingbird_spark.operators.search import bm25_topk

    df = spark.createDataFrame([
        Row(doc_id=1, text="spark query engine with spark shuffle"),
        Row(doc_id=2, text="query only document here today"),
        Row(doc_id=3, text="nothing relevant at all whatsoever"),
        Row(doc_id=4, text="spark spark spark spark spark spark"),
    ])
    top = bm25_topk(df, ["spark", "query"], k=10).collect()
    ids = [r.doc_id for r in top]
    assert 3 not in ids
    assert ids[0] == 1                # matches both terms
    scores = {r.doc_id: r.score for r in top}
    # tf saturation: six 'spark's beat one 'query' but not both terms
    assert scores[1] > scores[4] > 0
    assert all(s > 0 for s in scores.values())


def test_rrf_fusion(spark):
    """RRF: a doc ranked mid-list in BOTH lists beats a doc that tops
    one list but misses the other (1/61+1/62 > 1/61)."""
    from hummingbird_spark.operators.search import rrf_fuse

    a = spark.createDataFrame(
        [Row(doc_id=10, score=0.9), Row(doc_id=20, score=0.8)])
    b = spark.createDataFrame(
        [Row(doc_id=30, score=0.7), Row(doc_id=20, score=0.6)])
    fused = rrf_fuse([a, b], k=10).collect()
    assert fused[0].doc_id == 20
    got = {r.doc_id: r.rrf_score for r in fused}
    assert abs(got[20] - round(1 / 62 + 1 / 62, 6)) < 1e-9
    assert abs(got[10] - round(1 / 61, 6)) < 1e-9

    # weights ($rankFusion combination.weights): contributions scale
    # per list — exact values and the induced ordering
    wf = rrf_fuse([a, b], k=10, weights=[5.0, 1.0]).collect()
    got_w = {r.doc_id: r.rrf_score for r in wf}
    assert abs(got_w[10] - round(5 / 61, 6)) < 1e-9
    assert abs(got_w[20] - round(5 / 62 + 1 / 62, 6)) < 1e-9
    assert abs(got_w[30] - round(1 / 61, 6)) < 1e-9
    assert [r.doc_id for r in wf] == [20, 10, 30]


def test_bigram_perplexity_fluency_ordering(spark):
    """Text repeating the corpus's dominant pattern scores LOWER
    perplexity than a doc of unique never-repeated transitions; <2
    tokens emit no row."""
    from hummingbird_spark.operators.search import bigram_perplexity

    common = "the cat sat on the mat"
    df = spark.createDataFrame([
        Row(doc_id=1, text=common),
        Row(doc_id=2, text=common),
        Row(doc_id=3, text=common),
        Row(doc_id=4, text="zeta omega kappa lambda sigma phi"),
        Row(doc_id=5, text="one"),
    ])
    got = {r.doc_id: r for r in bigram_perplexity(df).collect()}
    assert 5 not in got
    assert got[1].perplexity == got[2].perplexity == got[3].perplexity
    assert got[4].perplexity > got[1].perplexity
    assert got[1].n_bigrams == 5


def test_ngram_repetition_detects_planted_dups(spark, tmp_path):
    """The fixture corpus has no duplicated 5-grams, so the registry
    MATCH alone can't show the dup5 metric fires — plant a degenerate
    looping doc and a clean doc and check both metrics separate them."""
    from hummingbird_spark.plans.queries import QUERIES

    loop = " ".join(["the cat sat on the mat"] * 20)   # 6 distinct
    # bigrams sharing the count (top2 ~0.17), but every 5-gram repeats
    stutter = " ".join(["again"] * 40)   # one bigram IS the doc
    clean = ("alpha bravo charlie delta echo foxtrot golf hotel india "
             "juliet kilo lima mike november oscar papa quebec romeo "
             "sierra tango uniform victor whiskey xray yankee zulu")
    spark.createDataFrame(
        [(1, loop, "en", "a", len(loop)),
         (2, stutter, "en", "a", len(stutter)),
         (3, clean, "fr", "a", len(clean))],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    rows = {r.lang: r for r in QUERIES["ngram_repetition_stats"]
            .spark(spark, str(tmp_path)).collect()}
    assert rows["en"].n_top2_heavy == 1      # the stutter doc
    assert rows["en"].avg_dup5_frac == 1.0   # every 5-gram repeats
    assert rows["en"].n_dup5_heavy == 2      # both degenerate docs
    assert rows["fr"].avg_dup5_frac == 0.0   # all distinct
    assert rows["fr"].n_top2_heavy == 0
    # char-weighted (Gopher A1.1 exact weighting) agrees at the
    # extremes: all-dup docs hit 1.0 either way, clean docs 0.0
    assert rows["en"].avg_dup5_char_frac == 1.0
    assert rows["en"].n_dup5_char_heavy == 2
    assert rows["fr"].avg_dup5_char_frac == 0.0


def test_boilerplate_line_stats_and_strip(spark):
    """Cross-doc boilerplate lines: a cookie banner planted in 5 docs
    is flagged and stripped; within-doc repeats below the doc-frequency
    threshold survive; line order is preserved; an all-boilerplate doc
    comes back empty rather than vanishing."""
    from hummingbird_spark.operators.dedup import (
        boilerplate_line_stats,
        strip_boilerplate_lines,
    )

    banner = "We use cookies to improve your experience."
    docs = [(i, f"Unique opening line {i}.\n{banner}\n"
                f"Unique closing line {i}.") for i in range(1, 6)]
    docs.append((6, "Twice twice.\nTwice twice.\nUnique six."))  # intra
    docs.append((7, banner))                       # only boilerplate
    # untouched docs must come back BYTE-IDENTICAL: blank lines,
    # trailing newline, NULL text all preserved
    docs.append((8, "para one.\n\npara two.\n"))
    docs.append((9, None))
    # affected doc keeps its blank line when the banner is cut
    docs.append((10, f"{banner}\n\nbody ten."))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    stats = {r.doc_id: r for r in
             boilerplate_line_stats(df, min_docs=5).collect()}
    assert stats[1].n_lines == 3
    assert stats[1].n_boilerplate_lines == 1      # just the banner
    assert stats[6].n_boilerplate_lines == 0      # intra-doc repeat ok
    assert stats[7].n_boilerplate_lines == 1
    assert stats[7].boilerplate_fraction == 1.0

    out = {r.doc_id: r.text for r in
           strip_boilerplate_lines(df, min_docs=5).collect()}
    assert out[1] == "Unique opening line 1.\nUnique closing line 1."
    assert out[6] == "Twice twice.\nTwice twice.\nUnique six."
    assert out[7] == ""                           # restored, empty
    assert out[8] == "para one.\n\npara two.\n"   # byte-identical
    assert out[9] is None                         # NULL preserved
    assert out[10] == "\nbody ten."               # blank line survives
    assert set(out) == {1, 2, 3, 4, 5, 6, 7, 8, 9, 10}


def test_quality_funnel_stages_with_crafted_docs(spark, tmp_path):
    """The fixture corpus fails the Gopher stopword rule everywhere, so
    the registry MATCH alone can't show the funnel's later stages —
    craft docs that pass gopher, fail c4, and duplicate, and check the
    per-stage counts."""
    from hummingbird_spark.plans.queries import QUERIES

    # 60+ words, stopwords present, 3+ prose lines ending in periods
    line = ("the quick brown fox jumps over that lazy dog and it runs "
            "to the river with great speed every single day of life.")
    good = "\n".join([line] * 4)
    one_line = " ".join([line] * 4)      # gopher-pass, c4-fail (1 line)
    spark.createDataFrame(
        [(1, good, "en", "a", len(good)),
         (2, good, "en", "a", len(good)),          # exact dup of 1
         (3, "  " + good + " ", "en", "b", 1),     # fp dup of 1
         (4, one_line, "en", "b", len(one_line)),  # fails c4 only
         (5, "too short", "en", "b", 9)],          # fails gopher
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    rows = {r.source: r for r in QUERIES["quality_funnel"]
            .spark(spark, str(tmp_path)).collect()}
    assert rows["a"].n_docs == 2
    assert rows["a"].n_pass_gopher == 2
    assert rows["a"].n_pass_both == 2
    assert rows["a"].n_kept == 1          # doc 2 deduped against 1
    assert rows["b"].n_pass_gopher == 2   # docs 3 and 4
    assert rows["b"].n_pass_both == 1     # doc 4 fails c4
    assert rows["b"].n_kept == 0          # doc 3 deduped against 1


def test_exact_substring_dedup_spans_and_rebuild(spark):
    """Lee-et-al exact-substring dedup: a 6-token run planted in three
    docs keeps its first occurrence (doc 1) and is cut from docs 2 and
    3; overlapping duplicate windows merge to ONE span; untouched docs
    come back byte-identical (whitespace preserved)."""
    from hummingbird_spark.operators.dedup import (
        duplicate_substring_spans,
        remove_duplicate_substrings,
    )

    dup = "one two three four five six"          # the planted run
    ua = ("alpha bravo charlie delta echo foxtrot golf hotel india "
          "juliet kilo lima")                     # doc-1-only filler
    ub = ("november oscar papa quebec romeo sierra tango uniform "
          "victor whiskey xray yankee")           # doc-2-only filler
    docs = spark.createDataFrame(
        [(1, f"{dup} {ua}"),                      # first occurrence
         (2, f"{ub} {dup}"),                      # cut at the tail
         (3, f"zz yy {dup} xx ww vv uu tt ss"),   # cut mid-doc
         (4, "totally  unrelated\twords here with   odd spacing")],
        "doc_id long, text string")

    spans = {r.doc_id: (r.start, r.end)
             for r in duplicate_substring_spans(
                 docs, min_len=6).collect()}
    assert 1 not in spans                         # keeper untouched
    assert spans[2] == (13, 18)                   # tail 6 tokens
    assert spans[3] == (3, 8)                     # mid-doc 6 tokens
    out = {r.doc_id: r.text
           for r in remove_duplicate_substrings(
               docs, min_len=6).collect()}
    assert out[1] == f"{dup} {ua}"
    assert out[2] == ub
    assert out[3] == "zz yy xx ww vv uu tt ss"
    # doc 4 had no spans: byte-identical, odd whitespace intact
    assert out[4] == "totally  unrelated\twords here with   odd spacing"


def test_exact_substring_within_doc_repeat_and_islands(spark):
    """Self-repetition inside one doc is cut too (first copy kept),
    and two separate duplicated regions produce two merged islands."""
    from hummingbird_spark.operators.dedup import (
        duplicate_substring_spans,
        remove_duplicate_substrings,
    )

    a = "p q r s t u"
    b = "f g h i j k"
    docs = spark.createDataFrame(
        [(1, f"{a} mid1 mid2 {a}"),               # self-repeat
         (2, f"{a} c1 c2 c3 {b}"),                # two donor regions
         (3, f"{b} d1 d2 d3 {a}")],               # copies of both
        "doc_id long, text string")
    spans = [(r.doc_id, r.start, r.end)
             for r in duplicate_substring_spans(docs, min_len=6)
             .orderBy("doc_id", "start").collect()]
    # doc 1: second copy of `a` cut; doc 3: both regions cut as two
    # islands (b's first occurrence is doc 2's tail... doc 2 tail vs
    # doc 3 head — first by (doc_id, start) is doc 2)
    assert (1, 9, 14) in spans
    assert [(d, s, e) for d, s, e in spans if d == 3] == [
        (3, 1, 6), (3, 10, 15)]
    out = {r.doc_id: r.text
           for r in remove_duplicate_substrings(
               docs, min_len=6).collect()}
    assert out[1] == f"{a} mid1 mid2"
    assert out[3] == "d1 d2 d3"


def test_bigram_perplexity_vocab_top_k_cap(spark):
    """vocab_top_k: with K >= distinct bigrams the capped model is
    bit-identical to the exact one; with a small K, pruned (rare)
    bigrams score as unseen, so capped perplexity >= exact for every
    doc and strictly greater for docs carrying pruned bigrams."""
    from hummingbird_spark.operators.search import bigram_perplexity

    common = "the cat sat on the mat"
    df = spark.createDataFrame([
        Row(doc_id=1, text=common),
        Row(doc_id=2, text=common),
        Row(doc_id=3, text=common),
        Row(doc_id=4, text="zeta omega kappa lambda sigma phi"),
    ])
    exact = {r.doc_id: r.perplexity
             for r in bigram_perplexity(df).collect()}
    same = {r.doc_id: r.perplexity
            for r in bigram_perplexity(df, vocab_top_k=10_000).collect()}
    assert same == exact
    capped = {r.doc_id: r.perplexity
              for r in bigram_perplexity(df, vocab_top_k=5).collect()}
    assert all(capped[d] >= exact[d] for d in exact)
    # doc 4's transitions are all count-1: pruned by top-5 (the common
    # doc's 5 bigrams each have count 3), so its score must move up
    assert capped[4] > exact[4]
    assert capped[1] == exact[1]   # fully inside the kept top-5
    assert {r.doc_id: r.n_bigrams
            for r in bigram_perplexity(df, vocab_top_k=5).collect()} \
        == {1: 5, 2: 5, 3: 5, 4: 5}


def test_exact_substring_first_keeper_variants_agree(spark):
    """first_keeper='join' (skew-safe default) and 'window' (cheaper,
    single-shuffle) must produce identical spans; unknown values
    raise."""
    from hummingbird_spark.operators.dedup import (
        duplicate_substring_spans,
    )

    a = "p q r s t u"
    docs = spark.createDataFrame(
        [(1, f"{a} mid1 mid2 {a}"),
         (2, f"{a} c1 c2 c3 {a} {a}"),
         (3, "nothing shared here at all today")],
        "doc_id long, text string")
    def spans(v):
        return sorted(
            (r.doc_id, r.start, r.end)
            for r in duplicate_substring_spans(
                docs, min_len=6, first_keeper=v).collect())
    assert spans("join") == spans("window") != []
    with pytest.raises(ValueError, match="first_keeper"):
        duplicate_substring_spans(docs, first_keeper="nope")


def test_semantic_contamination(spark):
    """Embedding screen: an exact copy of a benchmark vector flags at
    sim 1.0, a scaled copy flags too (cosine is scale-invariant), an
    orthogonal vector does not; every corpus row gets a verdict and
    max_sim matches a numpy brute force."""
    import numpy as np

    from hummingbird_spark.operators.decontaminate import (
        semantic_contamination,
    )

    bench_vecs = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    corpus_vecs = {
        1: [1.0, 0.0, 0.0],     # exact benchmark copy
        2: [5.0, 0.0, 0.0],     # scaled copy: cosine 1.0
        3: [0.0, 0.0, 1.0],     # orthogonal to both
        4: [1.0, 1.0, 0.0],     # cos = 1/sqrt(2) ~ 0.7071
    }
    bench = spark.createDataFrame(
        [(i, v) for i, v in enumerate(bench_vecs)],
        "vec_id long, embedding array<double>")
    corpus = spark.createDataFrame(
        list(corpus_vecs.items()), "vec_id long, embedding array<double>")

    got = {r["vec_id"]: (r["max_sim"], r["contaminated"])
           for r in semantic_contamination(
               corpus, bench, threshold=0.9).collect()}
    bm = np.array(bench_vecs)
    bm = bm / np.linalg.norm(bm, axis=1, keepdims=True)
    for i, v in corpus_vecs.items():
        x = np.array(v) / np.linalg.norm(v)
        expect = float(np.round(x @ bm.T, 6).max())
        assert got[i][0] == expect
        assert got[i][1] == (expect >= 0.9)
    assert got[1][1] and got[2][1]
    assert not got[3][1] and not got[4][1]


def test_semantic_contamination_empty_benchmark(spark):
    """An empty benchmark frame must yield max_sim=0 / contaminated
    False for every corpus row (r5 advice: the kernel previously built
    a 0-row 1-D matrix and raised inside the executor)."""
    from hummingbird_spark.operators.decontaminate import (
        semantic_contamination,
    )

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    bench = spark.createDataFrame([], "vec_id long, embedding array<double>")
    got = semantic_contamination(corpus, bench).collect()
    assert sorted((r["vec_id"], r["max_sim"], r["contaminated"])
                  for r in got) == [(1, 0.0, False), (2, 0.0, False)]


def test_semantic_contamination_string_ids(spark):
    """Output schema derives the id type from the corpus frame."""
    from hummingbird_spark.operators.decontaminate import (
        semantic_contamination,
    )

    corpus = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])],
        "doc string, embedding array<double>")
    bench = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>")
    got = {r["doc"]: r["contaminated"]
           for r in semantic_contamination(
               corpus, bench, threshold=0.9, id_col="doc").collect()}
    assert got == {"a": True, "b": False}
