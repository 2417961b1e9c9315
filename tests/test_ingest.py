"""Dataset describe (F23/A8) over a tile table."""

import numpy as np

from trefoil_spark.grid.bbox import BBox
from trefoil_spark.raster.gridspec import GridSpec
from trefoil_spark.raster.synth import TILE_SCHEMA

SPEC = GridSpec.from_bbox(BBox((0.0, 0.0, 8.0, 4.0), "EPSG:4326"), 512, 256)


def test_describe_tiles(spark):
    from trefoil_spark.sources.ingest import describe_tiles

    rng = np.random.default_rng(3)
    rows = []
    # two variables, three timesteps, 1x2 tiles each
    for var in ("tmin", "tmax"):
        for t in range(3):
            a = rng.uniform(0, 100, (256, 512)).astype(np.float32)
            for tx in range(2):
                blk = np.ascontiguousarray(a[:, tx * 256:(tx + 1) * 256])
                rows.append((var, t, 0, tx, 0, blk.tobytes(), 256, 256))
    tiles = spark.createDataFrame(rows, TILE_SCHEMA)

    d = describe_tiles(tiles, SPEC)
    assert set(d) == {"tmin", "tmax", "_grid"}
    assert d["tmin"]["t_range"] == (0, 2)
    assert d["tmin"]["valid_pixels"] == 3 * 256 * 512
    assert 0 <= d["tmin"]["min"] <= d["tmin"]["max"] <= 100
    assert d["_grid"]["shape"] == (256, 512)
