"""Dataset description over the tile table (SURVEY.md F21/F23/A8).

- describe (F23/A8, reference describe.py:29-150): per-variable time
  extent, value min/max and valid-pixel count as one DataFrame —
  per-tile numpy partials plus one exact final aggregation.
- geo-dimension heuristic (F21, reference describe.py:10-16,95-105):
  classify dimension names into x / y / time roles for the NetCDF-3 and
  HDF5 readers.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..raster.gridspec import GridSpec


def describe_tiles_df(tiles: DataFrame) -> DataFrame:
    """F23/A8 as a DataFrame: one row per variable with time extent,
    value min/max, valid-pixel count — per-tile numpy partials + one
    exact final agg (min/max of integer-valued floats, bigint count)."""
    from pyspark.sql import functions as F

    def stats(batches):
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                v = np.frombuffer(row.block, dtype=np.float32)
                ok = ~np.isnan(v)
                rows.append(
                    (
                        row.var,
                        int(row.t),
                        float(np.min(v[ok])) if ok.any() else None,
                        float(np.max(v[ok])) if ok.any() else None,
                        int(ok.sum()),
                    )
                )
            yield pd.DataFrame(rows, columns=["var", "t", "vmin", "vmax", "n"])

    return (
        tiles.mapInPandas(stats, schema="var string, t int, vmin double, vmax double, n bigint")
        .groupBy("var")
        .agg(
            F.min("t").alias("t_min"),
            F.max("t").alias("t_max"),
            F.min("vmin").alias("min"),
            F.max("vmax").alias("max"),
            F.sum("n").alias("valid_pixels"),
        )
    )


def describe_tiles(tiles: DataFrame, spec: GridSpec | None = None) -> dict:
    """F23/A8 (reference describe.py:29-150): dataset summary — variables,
    time extent, grid shape, value min/max — via :func:`describe_tiles_df`."""
    agg = describe_tiles_df(tiles)
    out = {
        r["var"]: {
            "t_range": (r["t_min"], r["t_max"]),
            "min": r["min"],
            "max": r["max"],
            "valid_pixels": r["valid_pixels"],
        }
        for r in agg.collect()
    }
    if spec is not None:
        out["_grid"] = {
            "shape": (spec.height, spec.width),
            "bbox": spec.bbox.as_tuple(),
            "crs": spec.crs,
            "tile": spec.tile,
        }
    return out


# --- F21: geo-dimension heuristic (reference describe.py:10-16,95-105) ---

X_DIMENSION_STANDARD_NAMES = ("longitude", "grid_longitude", "projection_x_coordinate")
X_DIMENSION_COMMON_NAMES = ("longitude", "lon", "long", "x")
Y_DIMENSION_STANDARD_NAMES = ("latitude", "grid_latitude", "projection_y_coordinate")
Y_DIMENSION_COMMON_NAMES = ("latitude", "lat", "y")
TIME_DIMENSION_STANDARD_NAMES = ("time",)
TIME_DIMENSION_COMMON_NAMES = ("time", "year", "years")


def detect_geo_dims(
    dims: list[str],
    standard_names: dict[str, str] | None = None,
    dim_sizes: dict[str, int] | None = None,
) -> dict:
    """Classify dimension/column names into x / y / time roles.

    Reference semantics (describe.py:95-105): the CF ``standard_name``
    attribute wins over the bare name; a time dimension only counts when
    it has more than one step. ``standard_names`` maps dim → its CF
    standard_name (metadata, when available); ``dim_sizes`` gates the
    time rule."""
    standard_names = standard_names or {}
    dim_sizes = dim_sizes or {}
    out = {"x": None, "y": None, "time": None}
    for name in dims:
        std = standard_names.get(name)
        if std in X_DIMENSION_STANDARD_NAMES or name in X_DIMENSION_COMMON_NAMES:
            out["x"] = name
        elif std in Y_DIMENSION_STANDARD_NAMES or name in Y_DIMENSION_COMMON_NAMES:
            out["y"] = name
        elif std in TIME_DIMENSION_STANDARD_NAMES or name in TIME_DIMENSION_COMMON_NAMES:
            if dim_sizes.get(name, 2) > 1:
                out["time"] = name
    return out
