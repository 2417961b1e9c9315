"""Streaming zonal statistics — the flagship batch pipeline as a stream.

North-rule synergy piece: geotagged page events arrive as a stream, ride
the SAME point-in-polygon operator as the batch path (stream-static
broadcast join against the covering index — `operators/pip_join.py`),
and maintain running per-zone statistics. The reference's zonal stats
(`trefoil/cli/zones.py:269-304`) is a batch loop over files; Structured
Streaming expresses the continuous version natively.

Batch and stream share the one pip_join plan: the JVM resolution ladder
plus the JVM exact refine for fine-boundary rows, evaluated per
micro-batch. Integer-exact aggregates (count + bigint sum) make results
order-independent and hash-comparable with the batch/DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..geometry.pip import Polygon
from ..operators.pip_join import pip_join


def streaming_zonal_stats(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    polygons: list[Polygon],
    value_col: str = "n_chars",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """readStream(file source) → stream-static PIP join → running
    per-zone (count, integer sum). Complete-output aggregation (the zone
    cardinality is small and fixed — the state is bounded by the layer)."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    joined = pip_join(stream, polygons, lon_col=lon_col, lat_col=lat_col)
    return joined.groupBy("zone_value").agg(
        F.count(F.lit(1)).cast("bigint").alias("count"),
        F.sum(F.col(value_col).cast("bigint")).cast("bigint").alias("value_sum"),
    )
