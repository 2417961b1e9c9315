"""First-class mask operator (SURVEY.md P9/J5).

Reference semantics: every render/zonal CLI run can load a mask dataset
and OR it onto the data's nodata mask — masked pixels drop out of every
downstream statistic and render
(/root/reference/trefoil/cli/render_netcdf.py:306-322 applies
``mask | raster.mask``; the mask itself loads via
/root/reference/trefoil/cli/utilities.py:118-142, nonzero = masked).

Distributed shape: mask tiles are a tile table like any other variable;
``apply_mask`` is a (ty, tx) left join that broadcasts the mask table (one
uint8 block per tile), so the value tiles never shuffle, + one Arrow pass
that NaNs out masked pixels. Everything downstream (zonal,
classify, render, timeseries) is unchanged — NaN already means nodata
engine-wide.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .gridspec import GridSpec

MASK_TILE_SCHEMA = "ty int, tx int, mask_block binary, h int, w int"

# deterministic fixture rule — SQL twin below keeps oracles exact
_MA, _MB, _MC = 13, 11, 23


def mask_rule(ys: np.ndarray, xs: np.ndarray) -> np.ndarray:
    """True (=masked) where (y*13 + x*11) % 23 == 0 (global pixel coords)."""
    return (ys * _MA + xs * _MB) % _MC == 0


def mask_sql(y_col: str, x_col: str) -> str:
    """SQL twin of mask_rule (Spark & DuckDB dialects agree)."""
    return f"(({y_col}*{_MA} + {x_col}*{_MB}) % {_MC} = 0)"


def synthetic_mask_tiles(spark: SparkSession, spec: GridSpec) -> DataFrame:
    """Mask tile table from the fixture rule (uint8, 1 = masked)."""
    nty, ntx = spec.ntiles_y, spec.ntiles_x
    n = nty * ntx
    idx = spark.range(0, n, numPartitions=min(n, spark.sparkContext.defaultParallelism))
    tile = spec.tile

    def gen(batches):
        for pdf in batches:
            out = []
            for i in pdf["id"].to_numpy():
                ty, tx = int(i) // ntx, int(i) % ntx
                h, w = spec.tile_shape(ty, tx)
                ys = ty * tile + np.arange(h, dtype=np.int64)[:, None]
                xs = tx * tile + np.arange(w, dtype=np.int64)[None, :]
                m = mask_rule(ys, xs).astype(np.uint8)
                out.append((ty, tx, m.tobytes(), h, w))
            yield pd.DataFrame(out, columns=["ty", "tx", "mask_block", "h", "w"])

    return idx.mapInPandas(gen, schema=MASK_TILE_SCHEMA)


def apply_mask(tiles: DataFrame, mask_tiles: DataFrame) -> DataFrame:
    """values ⨝ mask on (ty, tx); masked pixels → NaN (reference OR
    semantics: data nodata stays nodata, mask adds to it).

    Tiles with no mask row pass through untouched (left join) — parity
    with the reference's "no mask file given" path. Output schema ==
    input schema, so the operator composes anywhere in the pipeline.
    """
    m = F.broadcast(mask_tiles.select("ty", "tx", "mask_block"))
    joined = tiles.join(m, ["ty", "tx"], "left")
    out_cols = [c for c in tiles.columns]
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in tiles.schema.fields
    )

    def gen(batches):
        for pdf in batches:
            blocks = []
            for row in pdf.itertuples(index=False):
                if row.mask_block is None:
                    blocks.append(row.block)
                    continue
                v = np.frombuffer(row.block, dtype=np.float32).reshape(row.h, row.w)
                mk = np.frombuffer(row.mask_block, dtype=np.uint8).reshape(
                    row.h, row.w
                )
                v = v.copy()
                v[mk != 0] = np.nan
                blocks.append(v.tobytes())
            out = pdf[[c for c in out_cols if c != "block"]].copy()
            out["block"] = blocks
            yield out[out_cols]

    return joined.mapInPandas(gen, schema=schema)


def border_mask_rule(
    ys: np.ndarray, xs: np.ndarray, height: int, width: int,
    top: int, bottom: int, left: int, right: int,
) -> np.ndarray:
    """True (=masked) inside the border margins (autocrop fixture)."""
    return (ys < top) | (ys >= height - bottom) | (xs < left) | (xs >= width - right)


def border_mask_sql(
    y_col: str, x_col: str, height: int, width: int,
    top: int, bottom: int, left: int, right: int,
) -> str:
    return (
        f"({y_col} < {top} OR {y_col} >= {height - bottom} "
        f"OR {x_col} < {left} OR {x_col} >= {width - right})"
    )


def border_mask_tiles(
    spark: SparkSession, spec: GridSpec,
    top: int, bottom: int, left: int, right: int,
) -> DataFrame:
    """Mask tile table blanking a border margin (uint8, 1 = masked)."""
    nty, ntx = spec.ntiles_y, spec.ntiles_x
    n = nty * ntx
    idx = spark.range(0, n, numPartitions=min(n, spark.sparkContext.defaultParallelism))
    tile = spec.tile
    hh, ww = spec.height, spec.width

    def gen(batches):
        for pdf in batches:
            out = []
            for i in pdf["id"].to_numpy():
                ty, tx = int(i) // ntx, int(i) % ntx
                h, w = spec.tile_shape(ty, tx)
                ys = ty * tile + np.arange(h, dtype=np.int64)[:, None]
                xs = tx * tile + np.arange(w, dtype=np.int64)[None, :]
                m = border_mask_rule(ys, xs, hh, ww, top, bottom, left, right)
                m = np.broadcast_to(m, (h, w)).astype(np.uint8)
                out.append((ty, tx, m.tobytes(), h, w))
            yield pd.DataFrame(out, columns=["ty", "tx", "mask_block", "h", "w"])

    return idx.mapInPandas(gen, schema=MASK_TILE_SCHEMA)
