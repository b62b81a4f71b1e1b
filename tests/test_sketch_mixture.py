"""Round-6 operators: UniMax budget waterfill (differential vs the
paper's per-source greedy loop), count-min sketch guarantees, and the
trigram novelty score's edge cases."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hummingbird_spark.operators.mixture import unimax_allocation
from hummingbird_spark.operators.sketch import (
    cms_build,
    cms_estimate,
    cms_heavy_hitters,
    token_counts,
)


def _greedy_unimax(caps: dict[str, float], budget: float) -> dict[str, float]:
    """The paper's algorithm, literally: repeatedly give every
    remaining source an equal share; any source whose cap is below its
    share is paid out and removed; stop when no source is below the
    share (everyone left takes the equal split) or all are paid."""
    alloc = {}
    remaining = dict(caps)
    left = budget
    while remaining:
        share = left / len(remaining)
        below = {s: c for s, c in remaining.items() if c <= share}
        if not below:
            for s in remaining:
                alloc[s] = share
            return alloc
        for s, c in below.items():
            alloc[s] = c
            left -= c
            del remaining[s]
    return alloc


@given(
    st.lists(st.integers(min_value=0, max_value=10_000),
             min_size=1, max_size=12),
    st.integers(min_value=1, max_value=120_000),
)
@settings(max_examples=30, deadline=None)
def test_unimax_matches_greedy_waterfill(spark, counts, budget):
    caps = {f"s{i:02d}": 2.0 * n for i, n in enumerate(counts)}
    df = spark.createDataFrame(
        [(s, n) for s, n in zip(caps, counts)], "source string, n_tokens long")
    got = {r.source: r.allocation
           for r in unimax_allocation(df, float(budget), 2.0).collect()}
    want = _greedy_unimax(caps, float(budget))
    assert set(got) == set(want)
    for s in got:
        assert got[s] == pytest.approx(want[s], abs=1e-3)
    # invariants: never past the cap; budget exhausted unless capacity
    # binds first
    for s in got:
        assert got[s] <= caps[s] + 1e-6
    assert sum(got.values()) == pytest.approx(
        min(float(budget), sum(caps.values())), abs=1e-2)


def test_unimax_equal_share_for_uncapped(spark):
    df = spark.createDataFrame(
        [("small", 10), ("big1", 1000), ("big2", 5000)],
        "source string, n_tokens long")
    rows = {r.source: r for r in
            unimax_allocation(df, budget=100.0, epoch_cap=2.0).collect()}
    # small's capacity (20) is under the 100/3 share -> paid in full;
    # the two big sources split the remaining 80 equally
    assert rows["small"].allocation == pytest.approx(20.0)
    assert rows["big1"].allocation == pytest.approx(40.0)
    assert rows["big2"].allocation == pytest.approx(40.0)
    assert rows["small"].epochs == pytest.approx(2.0)


def test_cms_overestimates_never_under(spark):
    docs = spark.createDataFrame(
        [(i, f"w{i % 7} w{i % 5} w{i % 7} filler{i}") for i in range(60)],
        "doc_id long, text string")
    # tiny width forces collisions; the estimate must still be >= true
    out = cms_heavy_hitters(docs, top_k=10, depth=3, width=8).collect()
    assert len(out) == 10
    assert all(r.overshoot >= 0 for r in out)
    assert any(r.overshoot > 0 for r in out)  # collisions actually occur


def test_cms_exact_when_collision_free(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma alpha"), (2, "beta beta delta")],
        "doc_id long, text string")
    out = cms_heavy_hitters(docs, top_k=4, depth=4, width=4096).collect()
    assert {r.tok: r.cnt for r in out} == \
        {"beta": 3, "alpha": 2, "delta": 1, "gamma": 1}
    assert all(r.overshoot == 0 for r in out)


def test_cms_absent_token_estimates_nonnegative(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma")], "doc_id long, text string")
    tc = token_counts(docs)
    sketch = cms_build(tc, depth=2, width=16)
    probes = spark.createDataFrame([("nosuchtoken",)], "tok string")
    est = cms_estimate(sketch, probes, depth=2, width=16).collect()
    assert len(est) == 1 and est[0].cms_est >= 0


def test_doc_novelty_edges(spark, tmp_path):
    import os

    from hummingbird_spark.plans.queries_r6 import q_doc_novelty

    sf = str(tmp_path)
    spark.createDataFrame(
        [
            (1, "entirely fresh words never repeated anywhere else", "en",
             "s", 50),
            (2, "an exact duplicate sentence appears twice here", "en",
             "s", 46),
            (3, "an exact duplicate sentence appears twice here", "en",
             "s", 46),
            (4, "too short", "en", "s", 9),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(os.path.join(sf, "documents.parquet"))
    rows = {r.doc_id: r for r in q_doc_novelty(spark, sf).collect()}
    assert rows[1].novelty == 1.0           # all trigrams unique
    assert rows[2].novelty == 0.0 == rows[3].novelty  # shared trigrams
    assert rows[4].n_trigrams == 0 and rows[4].novelty == 0.0


def test_hll_error_and_branches(spark):
    from hummingbird_spark.operators.sketch import hll_distinct

    # small cardinality exercises the linear-counting branch, large
    # the raw-estimate branch; both must sit inside ~3 sigma of the
    # 1.04/sqrt(m) standard error
    rows = [(f"g{int(n)}", f"v{i}") for n in (40, 1000, 20000)
            for i in range(int(n))]
    df = spark.createDataFrame(rows, "g string, v string")
    got = {r.g: r.hll_est
           for r in hll_distinct(df, "v", ["g"], 256).collect()}
    for n in (40, 1000, 20000):
        err = abs(got[f"g{n}"] - n) / n
        assert err < 3 * 1.04 / (256 ** 0.5), (n, got[f"g{n}"])


def test_hll_registers_merge_and_partition_invariance(spark):
    from pyspark.sql import functions as F

    from hummingbird_spark.operators.sketch import (
        hll_distinct,
        hll_registers,
    )

    rows = [("g", f"v{i % 700}") for i in range(5000)]
    df = spark.createDataFrame(rows, "g string, v string")
    whole = {(r.bucket, r.rho)
             for r in hll_registers(df, "v", ["g"], 256).collect()}
    # mergeability: per-half registers combined by max == whole
    a = hll_registers(
        df.filter(F.hash("v") % 2 == 0), "v", ["g"], 256)
    b = hll_registers(  # hash % 2 can be -1: "odd" is != 0, not == 1
        df.filter(F.hash("v") % 2 != 0), "v", ["g"], 256)
    merged = {(r.bucket, r.rho)
              for r in a.unionByName(b).groupBy("g", "bucket")
              .agg(F.max("rho").alias("rho")).collect()}
    assert merged == whole
    # estimate is a pure function of the value set
    e1 = hll_distinct(df, "v", ["g"], 256).collect()[0].hll_est
    e2 = hll_distinct(df.repartition(13), "v", ["g"], 256) \
        .collect()[0].hll_est
    assert e1 == e2


def test_hll_overlap_screens_redundancy(spark):
    from hummingbird_spark.operators.sketch import (
        hll_pairwise_overlap,
        hll_registers,
    )

    # twin/twin2 share every value (jaccard ~1); solo is disjoint
    # from both (jaccard ~0, possibly slightly negative from
    # inclusion-exclusion noise — the documented caveat)
    rows = ([("twin", f"v{i}") for i in range(3000)]
            + [("twin2", f"v{i}") for i in range(3000)]
            + [("solo", f"w{i}") for i in range(3000)])
    df = spark.createDataFrame(rows, "g string, v string")
    regs = hll_registers(df, "v", ["g"], 256)
    got = {(r.ga, r.gb): r.jaccard_est
           for r in hll_pairwise_overlap(regs, "g", 256).collect()}
    assert len(got) == 3
    assert got[("twin", "twin2")] > 0.9
    assert abs(got[("solo", "twin")]) < 0.2
    assert abs(got[("solo", "twin2")]) < 0.2
