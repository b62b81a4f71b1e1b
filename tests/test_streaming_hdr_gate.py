"""The continuously-maintained HDR histogram as the streaming quality
gate: each micro-batch drops docs whose length falls outside the
maintained [p05, p95] band, and each accepted batch merges back into
the histogram — the adaptive online form of a batch length-quantile
filter. The stream is a plain file-source JSON read whose foreachBatch
gates each batch and appends the survivors."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from hummingbird_spark.operators.sketch import (
    hdr_build,
    hdr_quantiles_from_hist,
)
from hummingbird_spark.streaming.sketch import merge_hist_batch, read_hist

SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
])

S = 5
WORD = "lorem "


def _doc(doc_id: int, n_words: int) -> dict:
    return {"doc_id": doc_id, "text": (WORD * n_words) + f"tail{doc_id}"}


def test_hdr_band_gates_the_stream(spark, tmp_path):
    hist_path = str(tmp_path / "hist")

    # seed the histogram with the reference length distribution
    # (lengths clustered around 60 words => ~360-420 chars)
    seed = spark.createDataFrame(
        [(i, (WORD * (55 + i % 11)) + f"tail{i}") for i in range(200)],
        SCHEMA).withColumn("n", F.length("text"))
    merge_hist_batch(spark, hdr_build(seed, "n", S), hist_path)

    def length_gate(batch_df):
        bounds = {
            r.q: (r.lo, r.hi)
            for r in hdr_quantiles_from_hist(
                read_hist(spark, hist_path), (0.05, 0.95), S).collect()
        }
        lo, hi = bounds[0.05][0], bounds[0.95][1]
        kept = batch_df.filter(F.length("text").between(lo, hi))
        # adaptive: accepted docs update the maintained distribution
        merge_hist_batch(
            spark,
            hdr_build(kept.withColumn("n", F.length("text")), "n", S),
            hist_path)
        return kept

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    os.makedirs(src)
    with open(os.path.join(src, "0.json"), "w") as fh:
        for row in [
            _doc(1001, 58),   # inside the band -> passes
            _doc(1002, 2),    # far too short -> gated
            _doc(1003, 900),  # far too long -> gated
            _doc(1004, 62),   # inside the band -> passes
        ]:
            fh.write(json.dumps(row) + "\n")

    def gate_and_append(batch_df, batch_id):
        length_gate(batch_df).write.mode("append").parquet(out)

    q = (
        spark.readStream.schema(SCHEMA).json(src)
        .writeStream.foreachBatch(gate_and_append)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)

    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == {1001, 1004}

    # the accepted docs (and only they) entered the distribution
    n_total = sum(r.cnt for r in read_hist(spark, hist_path).collect())
    assert n_total == 200 + 2
