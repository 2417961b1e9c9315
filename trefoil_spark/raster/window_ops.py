"""Window/bbox extraction over the tile table (SURVEY.md P3/P5).

The reference computes a Window from a bbox with half-pixel-inset
searchsorted semantics (variable.py:412-426) and slices the array
(window.py:30-55). Distributed form:

1. driver: bbox → Window via GridSpec.window_for_bbox (EXACT reference
   semantics — the tile-assignment parity function);
2. Window → tile-key range predicate → Catalyst prunes tiles at the scan
   (partition/file pruning on (ty, tx) at scale);
3. per-tile numpy sub-slice inside one mapInPandas pass.

Output grains: sub-tile blocks (``extract_window_tiles``) or pixel rows
(``extract_window_pixels``, used by oracle checks and small exports like
the reference's netcdf_to_raster S10).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..grid.bbox import BBox
from ..grid.window import Window
from .gridspec import GridSpec


def _tile_filter(spec: GridSpec, window: Window):
    ty0, ty1, tx0, tx1 = window.tile_range(spec.tile)
    return (
        (F.col("ty") >= ty0)
        & (F.col("ty") <= ty1)
        & (F.col("tx") >= tx0)
        & (F.col("tx") <= tx1)
    )


def extract_window_pixels(
    tiles: DataFrame, spec: GridSpec, bbox: BBox
) -> DataFrame:
    """Pixel rows (t, y, x, v) inside the bbox window; masked → NULL v."""
    window = spec.window_for_bbox(bbox)
    y0, y1 = window.y_slice.start, window.y_slice.stop
    x0, x1 = window.x_slice.start, window.x_slice.stop
    tile = spec.tile

    pruned = tiles.filter(_tile_filter(spec, window))

    def gen(batches):
        for pdf in batches:
            outs = []
            for row in pdf.itertuples(index=False):
                blk = np.frombuffer(row.block, dtype=np.float32).reshape(row.h, row.w)
                oy, ox = int(row.ty) * tile, int(row.tx) * tile
                sy0, sy1 = max(y0 - oy, 0), min(y1 - oy, row.h)
                sx0, sx1 = max(x0 - ox, 0), min(x1 - ox, row.w)
                if sy0 >= sy1 or sx0 >= sx1:
                    continue
                sub = blk[sy0:sy1, sx0:sx1].astype(np.float64)
                yy, xx = np.mgrid[sy0:sy1, sx0:sx1]
                outs.append(
                    pd.DataFrame(
                        {
                            "t": int(row.t),
                            "y": (yy + oy).ravel(),
                            "x": (xx + ox).ravel(),
                            "v": sub.ravel(),
                        }
                    )
                )
            yield (
                pd.concat(outs)
                if outs
                else pd.DataFrame({"t": [], "y": [], "x": [], "v": []})
            )

    out = pruned.mapInPandas(gen, schema="t int, y long, x long, v double")
    # NaN → NULL so SQL semantics see masked pixels as missing
    return out.withColumn("v", F.when(~F.isnan("v"), F.col("v")))


def extract_window_tiles(tiles: DataFrame, spec: GridSpec, bbox: BBox) -> DataFrame:
    """Sub-tile blocks clipped to the window (keeps the tile encoding)."""
    window = spec.window_for_bbox(bbox)
    y0, y1 = window.y_slice.start, window.y_slice.stop
    x0, x1 = window.x_slice.start, window.x_slice.stop
    tile = spec.tile

    pruned = tiles.filter(_tile_filter(spec, window))

    def gen(batches):
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                blk = np.frombuffer(row.block, dtype=np.float32).reshape(row.h, row.w)
                oy, ox = int(row.ty) * tile, int(row.tx) * tile
                sy0, sy1 = max(y0 - oy, 0), min(y1 - oy, row.h)
                sx0, sx1 = max(x0 - ox, 0), min(x1 - ox, row.w)
                if sy0 >= sy1 or sx0 >= sx1:
                    continue
                sub = np.ascontiguousarray(blk[sy0:sy1, sx0:sx1])
                rows.append(
                    (row.var, int(row.t), int(row.ty), int(row.tx),
                     int(row.cell), sub.tobytes(), sub.shape[0], sub.shape[1],
                     oy + sy0, ox + sx0)
                )
            yield pd.DataFrame(
                rows,
                columns=["var", "t", "ty", "tx", "cell", "block", "h", "w", "oy", "ox"],
            )

    return pruned.mapInPandas(
        gen,
        schema="var string, t int, ty int, tx int, cell bigint, block binary, "
        "h int, w int, oy long, ox long",
    )


def tile_histogram(tiles: DataFrame, transform=None) -> DataFrame:
    """Count per (transformed) value over tiles (SURVEY.md A2 at tile grain:
    per-tile numpy bincount partials + final sum — reference summary.py:8-26).
    ``transform``: optional np fn applied to the float block (e.g. classify)."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                blk = np.frombuffer(row.block, dtype=np.float32).astype(np.float64)
                if transform is not None:
                    blk = transform(blk)
                ok = ~np.isnan(blk)
                if not ok.any():
                    continue
                vals, counts = np.unique(blk[ok], return_counts=True)
                for v, c in zip(vals, counts):
                    rows.append((float(v), int(c)))
            yield pd.DataFrame(rows, columns=["value", "pcount"])

    partials = tiles.mapInPandas(gen, schema="value double, pcount bigint")
    return partials.groupBy("value").agg(F.sum("pcount").alias("count"))


def stitch_window(
    tiles: DataFrame,
    spec: GridSpec,
    bbox: BBox,
    t: int = 0,
    max_pixels: int = 64_000_000,
) -> np.ndarray:
    """Window → one dense float32 array (S10: the tiles→raster export
    slice; reference conversion.py:72-136 writes the variable out as a
    raster file — GDAL is absent, so the sink surface is the array, which
    cli ``render_tif`` writes out through sources/geotiff.write_geotiff).

    Driver-side BY DESIGN: a raster *file* is a single-machine artifact.
    ``max_pixels`` (default ~256 MB float32) guards against exporting an
    unbounded window — at 100 TB you export windows/overviews, never the
    full grid."""
    window = spec.window_for_bbox(bbox)
    h = window.y_slice.stop - window.y_slice.start
    w = window.x_slice.stop - window.x_slice.start
    if h * w > max_pixels:
        raise ValueError(
            f"window {h}x{w} exceeds max_pixels={max_pixels}; export a "
            "smaller window or raise the cap explicitly"
        )
    parts = extract_window_tiles(tiles.filter(F.col("t") == t), spec, bbox)
    out = np.full((h, w), np.nan, dtype=np.float32)
    oy0, ox0 = window.y_slice.start, window.x_slice.start
    for row in parts.collect():
        blk = np.frombuffer(row["block"], dtype=np.float32).reshape(row["h"], row["w"])
        y, x = int(row["oy"]) - oy0, int(row["ox"]) - ox0
        out[y : y + row["h"], x : x + row["w"]] = blk
    return out
