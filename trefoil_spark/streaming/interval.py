"""Structured Streaming analog of the interval statistic (SURVEY.md §2.9).

The reference has no streaming; its closest shape is the tumbling-window
temporal binning (statistic_by_interval, summary.py:87-112, and the
memory-bounded bin_ts loop at cli/calc.py:65-129). The streaming engine
expresses it natively: readStream → event-time tumbling window + watermark
for late data → sum/mean per window.

At scale this runs against a stream of page/tile events; here the file
source + Trigger.AvailableNow gives a deterministic, testable pipeline
whose results must equal the batch interval aggregation on the same data
(asserted in tests — the batch/streaming unification guarantee).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def streaming_interval_stats(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    ts_col: str = "ts",
    value_col: str = "value",
    window: str = "6 hours",
    watermark: str = "1 hour",
    exact_cents: bool = False,
) -> DataFrame:
    """readStream(file source) → watermark → tumbling-window sum/count.

    ``exact_cents=True`` additionally carries an integer-cents sum
    (BIGINT-exact, aggregation-order independent) so the result can be
    hash-compared against a batch/DuckDB twin bit-for-bit."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    aggs = [
        F.count(F.lit(1)).alias("count"),
        F.sum(F.col(value_col).cast("double")).alias("value_sum"),
    ]
    if exact_cents:
        aggs.append(
            F.sum(F.round(F.col(value_col) * 100).cast("bigint")).alias("sum_cents")
        )
    out = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"))
        .agg(*aggs)
    )
    cols = [
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "count",
        "value_sum",
    ]
    if exact_cents:
        cols.append("sum_cents")
    return out.select(*cols)


def run_available_now(
    stream_df: DataFrame,
    query_name: str,
    timeout_sec: int = 120,
    output_mode: str = "complete",
):
    """Drain all available input into a memory sink; returns the result
    DataFrame. Deterministic: Trigger.AvailableNow. ``output_mode``
    'append' for stateful append-only operators."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    return stream_df.sparkSession.table(query_name)
