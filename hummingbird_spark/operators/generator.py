"""Deterministic data generation + workload simulation (SURVEY §2.13
G1-G3) — the engine's test-harness operators.

Reference: DocGen (sim.go:305-333) emits an all-BSON-types document;
DataGen/DataGenMulti (sim.go:336-398) bulk-load N docs into 1/k
collections plus a multi-op transaction (here the caller writes a
`docgen` frame); Simulate (sim.go:58-302) drives a timed
insert/update/delete/find workload at `oplogs_per_second`.

Spark rebuild: `spark.range(n)` + column expressions — fully
deterministic (the reference's random ObjectId/uuid/now() become
seq-derived md5 bytes and epoch+seq timestamps, the declared-deviation
pattern used throughout this engine). The workload simulator becomes a
rate-source streaming query emitting oplog-frame events, which feeds the
CDC pipeline end-to-end (the oplog_streamer_test.go convergence setup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Rainbow (sim.go:33)
RAINBOW = ["Red", "Orange", "Yellow", "Green", "Blue", "Indigo", "Violet"]
PORT = 3629  # num = n*n + Port (sim.go:307, neutrino default port)


def docgen(spark: SparkSession, total: int,
            filler_size: int = 2500) -> DataFrame:
    """DocGen as a DataFrame: one row per seq in [0, total).

    Column-for-column parity with sim.go:305-333:
      n = seq + 1001; num = n*n + 3629
      _id      24-hex, monotonically increasing (seq-derived, not random)
      color    Rainbow[seq % 7]
      float64/int64 = num;  seq;  string "%06d-num-n-num"
      ts       epoch + seq seconds (deterministic stand-in for now())
      array    [k*k - k for k in 101..109]
      subdoc.level1  one-level self-nesting of the scalar fields
      filler   n + ~2.5KB constant payload
      binary/bin1/bin2/bin3/uuid  16 md5 bytes of seq (subtype tags
               collapse; Spark has a single BinaryType)
    """
    n = F.col("seq") + 1001
    num = n * n + PORT
    arr = F.array(*[F.lit(k * k - k) for k in range(101, 110)])
    string_col = F.concat_ws(
        "-",
        F.lpad((F.col("seq") + 1).cast("string"), 6, "0"),
        num.cast("string"), n.cast("string"), num.cast("string"),
    )
    uuid_bytes = F.unhex(F.md5(F.concat(F.lit("uuid|"), F.col("seq").cast("string"))))
    scalar_struct = F.struct(
        F.col("color"), F.col("float64"), F.col("int64"),
        F.col("seq"), F.col("string"), F.col("ts"),
    )
    filler = F.concat(n.cast("string"),
                      F.lit("x" * filler_size))

    df = (
        spark.range(total).withColumnRenamed("id", "seq")
        .withColumn("seq", F.col("seq").cast("int"))
        .withColumn(
            "_id",
            # 24-hex ordered like ObjectId: 16 hex of zero-padded seq +
            # first 8 md5 hex chars
            F.concat(
                F.lpad(F.lower(F.conv(F.col("seq").cast("string"), 10, 16)),
                       16, "0"),
                F.substring(F.md5(F.col("seq").cast("string")), 1, 8),
            ),
        )
        .withColumn(
            "color",
            F.element_at(F.array(*[F.lit(c) for c in RAINBOW]),
                         (F.col("seq") % 7 + 1).cast("int")),
        )
        .withColumn("float64", num.cast("double"))
        .withColumn("int64", num.cast("long"))
        .withColumn("string", string_col)
        .withColumn("ts", F.timestamp_seconds(F.col("seq")))
        .withColumn("array", arr)
    )
    df = (
        df.withColumn("subdoc", F.struct(scalar_struct.alias("level1")))
        .withColumn("filler", filler)
        .withColumn("binary", uuid_bytes)
        .withColumn("bin1", uuid_bytes)
        .withColumn("bin2", uuid_bytes)
        .withColumn("bin3", uuid_bytes)
        .withColumn("uuid", uuid_bytes)
    )
    return df.select(
        "_id", "color", "float64", "int64", "seq", "string", "ts",
        "array", "subdoc", "filler", "binary", "bin1", "bin2", "bin3",
        "uuid",
    )


def simulate_workload_stream(
    spark: SparkSession,
    ops_per_second: int = 300,
    ns: str = "db.sim",
):
    """G3 (Simulate, sim.go:58-302): a rate-source streaming DataFrame
    shaped like the oplog frame — inserts with periodic updates/deletes
    mixed in at the reference's default 300 ops/s. Feed it to
    streaming.cdc.decode_write_models / a foreachBatch merge to drive
    end-to-end CDC tests; cap duration with a query timeout
    (seconds_to_run analogue)."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", ops_per_second)
        .load()
    )  # columns: timestamp, value
    seq = F.col("value")
    op = (
        F.when(seq % 10 == 7, F.lit("u"))
        .when(seq % 10 == 9, F.lit("d"))
        .otherwise(F.lit("i"))
    )
    key = (seq - (seq % 10)) + (seq % 10) % 7  # updates/deletes hit earlier inserts
    insert_doc = F.concat(
        F.lit('{"_id": '), key.cast("string"),
        F.lit(', "color": "'),
        F.element_at(F.array(*[F.lit(c) for c in RAINBOW]),
                     (seq % 7 + 1).cast("int")),
        F.lit('", "seq": '), seq.cast("string"), F.lit("}"),
    )
    update_doc = F.concat(
        F.lit('{"$set": {"color": "Masked", "seq": '),
        seq.cast("string"), F.lit("}}"),
    )
    delete_doc = F.concat(F.lit('{"_id": '), key.cast("string"), F.lit("}"))
    key_doc = F.concat(F.lit('{"_id": '), key.cast("string"), F.lit("}"))
    return rate.select(
        F.col("timestamp").alias("ts"),
        seq.alias("seq"),
        F.lit(ns).alias("ns"),
        op.alias("op"),
        F.when(op == "i", insert_doc)
        .when(op == "u", update_doc)
        .otherwise(delete_doc).alias("o"),
        F.when(op == "u", key_doc).alias("o2"),
    )
