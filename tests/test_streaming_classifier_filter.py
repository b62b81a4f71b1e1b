"""The trained quality classifier as the streaming curation gate:
weights fitted offline (quantized-GD logreg) gate each micro-batch of
a file-source JSON stream before its survivors append, so the
always-on ingest path is filter-by-trained-model -> append — the online
form of the batch curate pipeline, with the model as a plain closure
over B+1 integers (no state, broadcastable by construction)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from hummingbird_spark.operators.classifier import (
    score_hashed_logreg,
    train_hashed_logreg,
)

SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
])

GOOD = "good clean prose sentence with varied informative words "
BAD = "zz9 qqx7 garbled j4k xx0 "

SEED = [(i, (GOOD if i % 2 == 0 else BAD) * 6 + f"tail{i}",
         1 if i % 2 == 0 else 0) for i in range(80)]


def _drain(spark, src, out, ckpt, gate):
    """One availableNow run: every new batch is gated, then appended."""
    def gate_and_append(batch_df, batch_id):
        gate(batch_df).write.mode("append").parquet(out)

    q = (
        spark.readStream.schema(SCHEMA).json(src)
        .writeStream.foreachBatch(gate_and_append)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)


def _write(src, name, rows):
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, name), "w") as fh:
        for doc_id, text in rows:
            fh.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")


def test_trained_filter_gates_the_stream(spark, tmp_path):
    seed = spark.createDataFrame(SEED, "doc_id long, text string, y long")
    w = train_hashed_logreg(seed, F.col("y") == 1, buckets=32,
                            iterations=8, lr=2.0)

    def quality_filter(batch_df):
        scored = score_hashed_logreg(batch_df, w, buckets=32)
        return (
            batch_df.join(scored.filter(F.col("score") >= 0.5)
                          .select("doc_id"), "doc_id")
        )

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write(src, "0.json", [
        (101, GOOD * 5 + "alpha"),          # passes filter
        (102, BAD * 5 + "beta"),            # cut by the trained model
        (103, GOOD * 5 + "alpha gamma"),    # passes filter
    ])
    _drain(spark, src, out, ckpt, quality_filter)

    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == {101, 103}
    # a later exact copy of the cut doc, in a new batch, is cut again
    _write(src, "1.json", [(201, BAD * 5 + "beta")])
    _drain(spark, src, out, ckpt, quality_filter)
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == {101, 103}
