"""Zonal statistics (SURVEY.md A1, A4, A7) at row grain.

Reference semantics (/root/reference/trefoil/analysis/summary.py:116-173):
- stats ∈ {mean, min, max, std, sum, count}; std is POPULATION std (numpy
  masked default, ddof=0);
- zones whose pixels are all masked are skipped → natural inner-groupBy;
- masked values excluded from every stat → SQL NULL semantics.

Spark mapping: a single hash aggregate. Partial aggregation (map-side
combine) is what Catalyst already emits for these — the classic
partial+final pattern, zero custom code. ``std`` is computed explicitly as
sqrt(sum_sq/n - mean^2) from exact partial sums rather than stddev_pop so
the float expression tree is deterministic and engine-portable (matters
for the DuckDB oracle hash-compare and for run-to-run stability at scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

VALID_ZONAL_STATISTICS = ("mean", "min", "max", "std", "sum", "count")


def zonal_stat_exprs(value_col: str, statistics=VALID_ZONAL_STATISTICS) -> list[Column]:
    bad = set(statistics) - set(VALID_ZONAL_STATISTICS)
    if bad:
        raise ValueError(f"One or more statistics is not supported {sorted(bad)}")
    v = F.col(value_col)
    vd = v.cast("double")
    exprs = []
    for stat in statistics:
        if stat == "mean":
            exprs.append((F.sum(vd) / F.count(v)).alias("mean"))
        elif stat == "min":
            exprs.append(F.min(v).alias("min"))
        elif stat == "max":
            exprs.append(F.max(v).alias("max"))
        elif stat == "std":
            # population std from exact sums (deterministic expression tree)
            exprs.append(
                F.sqrt(
                    F.sum(vd * vd) / F.count(v)
                    - (F.sum(vd) / F.count(v)) * (F.sum(vd) / F.count(v))
                ).alias("std")
            )
        elif stat == "sum":
            exprs.append(F.sum(v).alias("sum"))
        elif stat == "count":
            exprs.append(F.count(v).alias("count"))
    return exprs


def zonal_statistics(
    df: DataFrame,
    zone_cols,
    value_col: str,
    statistics=VALID_ZONAL_STATISTICS,
) -> DataFrame:
    """groupBy(zone).agg(stats) — one shuffle; AQE handles hot-zone skew.

    NULL values in ``value_col`` are excluded (masked-pixel semantics);
    zones with zero unmasked values never appear (reference summary.py:160-162).
    """
    if isinstance(zone_cols, str):
        zone_cols = [zone_cols]
    filtered = df.filter(F.col(value_col).isNotNull())
    return filtered.groupBy(*zone_cols).agg(*zonal_stat_exprs(value_col, statistics))


def weighted_statistics(df: DataFrame, value_col: str, weight_col: str) -> DataFrame:
    """A4 (summary.py:59-84): MEAN = Σvw/Σw over jointly-unmasked rows;
    STD = population std of v*w (the reference's quirk — NOT the textbook
    weighted std — replicated as-is)."""
    both = df.filter(F.col(value_col).isNotNull() & F.col(weight_col).isNotNull())
    v = F.col(value_col).cast("double")
    w = F.col(weight_col).cast("double")
    vw = v * w
    return both.agg(
        (F.sum(vw) / F.sum(w)).alias("weighted_mean"),
        F.sqrt(
            F.sum(vw * vw) / F.count(F.lit(1))
            - (F.sum(vw) / F.count(F.lit(1))) * (F.sum(vw) / F.count(F.lit(1)))
        ).alias("weighted_std"),
    )


def categorical_area_timeseries(
    df: DataFrame, category_col: str, t_col: str, area_col: str
) -> DataFrame:
    """A9 (analysis/timeseries.py:12-44): total area per category per
    timestep — {category: ts_array} becomes tidy (category, t, area) rows."""
    return (
        df.filter(F.col(category_col).isNotNull())
        .groupBy(category_col, t_col)
        .agg(F.sum(area_col).alias("area"))
    )


def weighted_statistics_timeseries(
    df: DataFrame, t_col: str, value_col: str, weight_col: str
) -> DataFrame:
    """A10 (analysis/timeseries.py:47-76): weighted MEAN + the reference's
    v*w population-std quirk, per timestep."""
    both = df.filter(F.col(value_col).isNotNull() & F.col(weight_col).isNotNull())
    v = F.col(value_col).cast("double")
    w = F.col(weight_col).cast("double")
    vw = v * w
    return both.groupBy(t_col).agg(
        (F.sum(vw) / F.sum(w)).alias("weighted_mean"),
        F.sqrt(
            F.sum(vw * vw) / F.count(F.lit(1))
            - (F.sum(vw) / F.count(F.lit(1))) * (F.sum(vw) / F.count(F.lit(1)))
        ).alias("weighted_std"),
    )


def mean_of_file_means(df: DataFrame, file_col: str, value_col: str) -> DataFrame:
    """A7 (utilities.py:336-365): global min/max but 'mean' = unweighted mean
    of per-file means — the reference quirk, preserved for parity.

    The final mean folds the per-group means in SORTED order (sort_array
    over a collected list): float addition is order-dependent, and the
    deterministic fold makes the result bit-identical run-to-run and
    engine-to-engine (group counts are small — one value per file)."""
    per_file = df.filter(F.col(value_col).isNotNull()).groupBy(file_col).agg(
        F.min(value_col).alias("fmin"),
        F.max(value_col).alias("fmax"),
        (F.sum(F.col(value_col).cast("double")) / F.count(value_col)).alias("fmean"),
    )
    sorted_sum = F.expr(
        "aggregate(sort_array(collect_list(fmean)), CAST(0 AS DOUBLE), (a, x) -> a + x)"
    )
    return per_file.agg(
        F.min("fmin").alias("min"),
        F.max("fmax").alias("max"),
        (sorted_sum / F.count("fmean")).alias("mean"),
    )
