"""The continuous corpus monitor: ONE document stream fanned out to
the four bounded-state summaries — continuous CMS (token frequencies),
Misra-Gries top-k, HDR length histogram, and the stratified reservoir
— each with its own checkpoint and store. Across two ingest cycles:

  - the ADDITIVE summaries (CMS, HDR) must be BIT-IDENTICAL to a
    from-scratch build over everything ingested (exact merge algebra);
  - the reservoir must EQUAL the batch sample (derived priorities);
  - the MG top-k must satisfy its n/(k+1) guarantees (its state is
    merge-order-dependent by design, so equality is not the contract);

and a third no-new-data cycle must be a no-op for all four. The
per-operator suites cover each twin alone; this pins the fan-out shape
(shared source, unsynchronized micro-batch progress)."""

from __future__ import annotations

import json
import os
from collections import Counter

from pyspark.sql import types as T

from hummingbird_spark.operators.dsir import stratified_reservoir
from hummingbird_spark.operators.sketch import (
    cms_build,
    hdr_build,
    token_counts,
)
from hummingbird_spark.streaming.reservoir import (
    read_reservoir,
    start_continuous_reservoir,
)
from hummingbird_spark.streaming.sketch import (
    read_hist,
    read_topk,
    start_continuous_cms,
    start_continuous_hdr,
    start_continuous_topk,
    topk_meta,
)

SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("source", T.StringType()),
    T.StructField("n_chars", T.LongType()),
    T.StructField("text", T.StringType()),
])


def _rows(lo: int, hi: int) -> list[dict]:
    out = []
    for i in range(lo, hi):
        words = [f"hot{r}" for r in range(1, 9) if i % r == 0]
        words += [f"tail{(i * 11 + j) % 400}" for j in range(6)]
        text = " ".join(words)
        out.append({"doc_id": i, "source": f"s{i % 3}",
                    "n_chars": len(text), "text": text})
    return out


def _start_all(spark, src, base):
    qs = [
        start_continuous_cms(spark, src, f"{base}/cms", SCHEMA,
                             depth=4, width=64),
        start_continuous_topk(spark, src, f"{base}/topk", SCHEMA, k=10),
        start_continuous_hdr(spark, src, f"{base}/hist", SCHEMA,
                             "n_chars", s=5),
        start_continuous_reservoir(spark, src, f"{base}/rsv", SCHEMA,
                                   "source", 4, weight_col="n_chars"),
    ]
    for q in qs:
        q.awaitTermination(240)


def _check_converged(spark, base, ingested):
    df = spark.createDataFrame(
        [(r["doc_id"], r["source"], r["n_chars"], r["text"])
         for r in ingested], SCHEMA)

    cms = {(r.row, r.bucket, r.cnt)
           for r in spark.read.parquet(f"{base}/cms").collect()}
    batch_cms = {(r.row, r.bucket, r.cnt)
                 for r in cms_build(token_counts(df), 4, 64).collect()}
    assert cms == batch_cms  # additive: bit-identical

    hist = {(r.bucket, r.cnt)
            for r in read_hist(spark, f"{base}/hist").collect()}
    batch_hist = {(r.bucket, r.cnt)
                  for r in hdr_build(df, "n_chars", 5).collect()}
    assert hist == batch_hist  # additive: bit-identical

    rsv = {(r.source, r.doc_id)
           for r in read_reservoir(spark, f"{base}/rsv").collect()}
    batch_rsv = {(r.source, r.doc_id)
                 for r in stratified_reservoir(
                     df, "source", 4, "n_chars").collect()}
    assert rsv == batch_rsv  # derived priorities: exactly equal

    true = Counter()
    for r in ingested:
        true.update(w.lower() for w in r["text"].split())
    n = sum(true.values())
    state = {r.tok: r.cnt
             for r in read_topk(spark, f"{base}/topk").collect()}
    assert topk_meta(f"{base}/topk")["n"] == n
    assert len(state) <= 10
    for tok, cnt in state.items():
        assert cnt <= true[tok]
        assert true[tok] - cnt <= n / 11
    for tok, cnt in true.items():
        if cnt * 11 > n:
            assert tok in state
    return cms, hist, rsv, state


def test_monitor_fanout_converges_and_replays(spark, tmp_path):
    src = str(tmp_path / "in")
    base = str(tmp_path / "stores")
    os.makedirs(src)

    def write(batch_name, rows):
        with open(os.path.join(src, batch_name), "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")

    first = _rows(0, 150)
    write("0.json", first)
    _start_all(spark, src, base)
    _check_converged(spark, base, first)

    second = _rows(150, 320)
    write("1.json", second)
    _start_all(spark, src, base)
    state2 = _check_converged(spark, base, first + second)

    # cycle 3: nothing new -> every store unchanged (replay no-op)
    _start_all(spark, src, base)
    assert _check_converged(spark, base, first + second) == state2
