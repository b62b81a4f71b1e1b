"""Continuous CMS (streaming/sketch.py): the incrementally maintained
counter table must be BIT-IDENTICAL to a sketch built from scratch
over everything ingested (counter addition is exact algebra, not an
approximation of the merge), replay must be a no-op, and estimates
served from the continuous sketch must match the batch path."""

from __future__ import annotations

import json
import os

from pyspark.sql import types as T

from hummingbird_spark.operators.sketch import (
    cms_build,
    cms_estimate,
    token_counts,
)
from hummingbird_spark.streaming.sketch import (
    merge_cms_batch,
    start_continuous_cms,
)

SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
])

D, W = 3, 64

BATCH1 = [(1, "alpha beta gamma alpha"), (2, "beta delta epsilon beta")]
BATCH2 = [(3, "alpha zeta beta"), (4, "eta theta alpha alpha")]


def _write(src, name, rows):
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, name), "w") as fh:
        for doc_id, text in rows:
            fh.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")


def _run(spark, src, sketch, ckpt):
    q = start_continuous_cms(spark, src, sketch, SCHEMA,
                             depth=D, width=W, checkpoint=ckpt)
    q.awaitTermination(120)


def _counters(df):
    return {(r.row, r.bucket): r.cnt for r in df.collect()}


def _batch_sketch(spark, rows):
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    return cms_build(token_counts(docs), D, W)


def test_incremental_sketch_equals_batch_rebuild(spark, tmp_path):
    src = str(tmp_path / "in")
    sketch = str(tmp_path / "cms.parquet")
    ckpt = str(tmp_path / "ckpt")

    _write(src, "0.json", BATCH1)
    _run(spark, src, sketch, ckpt)
    assert _counters(spark.read.parquet(sketch)) == \
        _counters(_batch_sketch(spark, BATCH1))

    _write(src, "1.json", BATCH2)
    _run(spark, src, sketch, ckpt)
    assert _counters(spark.read.parquet(sketch)) == \
        _counters(_batch_sketch(spark, BATCH1 + BATCH2))

    # estimates served from the maintained sketch == batch path, and
    # the one-sided guarantee holds against exact stream-wide counts
    docs = spark.createDataFrame(BATCH1 + BATCH2,
                                 "doc_id long, text string")
    exact = {r.tok: r.cnt for r in token_counts(docs).collect()}
    probes = spark.createDataFrame([(t,) for t in exact], "tok string")
    est = {r.tok: r.cms_est
           for r in cms_estimate(spark.read.parquet(sketch), probes,
                                 D, W).collect()}
    assert all(est[t] >= c for t, c in exact.items())
    batch_est = {r.tok: r.cms_est
                 for r in cms_estimate(_batch_sketch(spark,
                                                     BATCH1 + BATCH2),
                                       probes, D, W).collect()}
    assert est == batch_est


def test_merge_replay_is_noop(spark, tmp_path):
    sketch = str(tmp_path / "cms.parquet")
    docs = spark.createDataFrame(BATCH1, "doc_id long, text string")
    partial = cms_build(token_counts(docs), D, W)
    merge_cms_batch(spark, partial, sketch, batch_id=0)
    before = _counters(spark.read.parquet(sketch))
    merge_cms_batch(spark, partial, sketch, batch_id=0)  # replay
    assert _counters(spark.read.parquet(sketch)) == before
    merge_cms_batch(spark, partial, sketch, batch_id=1)  # new batch
    assert _counters(spark.read.parquet(sketch)) == \
        {k: 2 * v for k, v in before.items()}
