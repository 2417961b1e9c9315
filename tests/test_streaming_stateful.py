"""Stateful streaming dedup: duplicates dropped across micro-batches and
across RESTARTS (state store + checkpoint recovery)."""

import os
import tempfile

from pyspark.sql import functions as F


def _run_once(spark, src, out, cp):
    from trefoil_spark.streaming.stateful import streaming_dedup

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "4")
        .parquet(src)
    )
    q = (
        streaming_dedup(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def test_streaming_dedup_across_batches(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    n_docs = docs.count()
    dup = docs.filter(F.col("doc_id") % 10 == 0)

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "src")
        out = os.path.join(tmp, "out")
        cp = os.path.join(tmp, "cp")

        docs.write.parquet(src)
        _run_once(spark, src, out, cp)
        assert spark.read.parquet(out).count() == n_docs  # all unique

        # second wave arrives after a "restart": exact duplicates with new
        # ids — the recovered state store drops every one of them
        dup.withColumn("doc_id", F.col("doc_id") + 1000000).write.mode(
            "append"
        ).parquet(src)
        _run_once(spark, src, out, cp)
        got = spark.read.parquet(out)
        assert got.count() == n_docs
        assert got.filter(F.col("doc_id") >= 1000000).count() == 0
