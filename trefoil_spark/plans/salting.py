"""Hot-key salting (north rule: skew from dense urban cells / popular
domains handled with salted repartitioning + AQE hints).

AQE's skewJoin/coalesce handles most runtime skew; salting is for the
cases AQE can't split — a single aggregation key whose group exceeds one
task (the hot cell / hot domain). Two-phase:

    stage 1: groupBy(key, salt = pmod(hash(row-identity), k)) partial agg
    stage 2: groupBy(key) final agg of the partials

The caller salts an aggregation whose key is known to be skewed (the
declared ``salted_agg`` query salts the hot urban cell cluster); cold
aggregations keep the single-shuffle plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_sum_count(
    df: DataFrame,
    key_cols,
    value_col: str,
    n_salts: int = 32,
    salt_source: str | None = None,
) -> DataFrame:
    """Two-phase salted aggregation: sum+count per key, skew-proof.

    ``salt_source``: a column whose hash spreads the hot key's rows (e.g.
    the row id); defaults to a random-ish but DETERMINISTIC spread via
    hash of all key cols + monotonically increasing id is avoided — use
    pmod(hash(salt_source), n) to stay reproducible."""
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    salt = (
        F.pmod(F.hash(F.col(salt_source)), F.lit(n_salts))
        if salt_source
        else F.pmod(F.monotonically_increasing_id(), F.lit(n_salts))
    )
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*key_cols, "_salt")
        .agg(
            F.sum(F.col(value_col).cast("double")).alias("_psum"),
            F.count(F.lit(1)).alias("_pcount"),
        )
    )
    return partial.groupBy(*key_cols).agg(
        F.sum("_psum").alias("sum"),
        F.sum("_pcount").alias("count"),
    )
