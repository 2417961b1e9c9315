"""S10: tiles → dense-array window export + .npy sink."""

import os

import numpy as np
import pytest

from trefoil_spark.grid.bbox import BBox
from trefoil_spark.raster.gridspec import GridSpec
from trefoil_spark.raster.synth import block_values, synthetic_tiles
from trefoil_spark.raster.window_ops import stitch_window

SPEC = GridSpec.from_bbox(BBox((-125.0, 32.0, -113.0, 38.0), "EPSG:4326"), 512, 256)
QBOX = BBox((-122.3, 33.1, -115.7, 36.9), "EPSG:4326")


def _full(spec):
    out = np.full((spec.height, spec.width), np.nan, dtype=np.float32)
    for ty in range(spec.ntiles_y):
        for tx in range(spec.ntiles_x):
            b = block_values(spec, 0, ty, tx)
            out[ty * spec.tile : ty * spec.tile + b.shape[0],
                tx * spec.tile : tx * spec.tile + b.shape[1]] = b
    return out


def test_stitch_window_matches_numpy(spark):
    tiles = synthetic_tiles(spark, SPEC)
    got = stitch_window(tiles, SPEC, QBOX)
    w = SPEC.window_for_bbox(QBOX)
    want = _full(SPEC)[w.y_slice, w.x_slice]
    assert np.array_equal(got, want, equal_nan=True)


def test_stitch_pixel_cap(spark):
    tiles = synthetic_tiles(spark, SPEC)
    with pytest.raises(ValueError, match="max_pixels"):
        stitch_window(tiles, SPEC, QBOX, max_pixels=10)
