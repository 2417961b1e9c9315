"""Tile engine: zonal stats parity vs (a) the reference's own unit-test
truth, (b) a DuckDB pixel-grain oracle over the same fixture formulas."""

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from trefoil_spark.geometry import pip_sql_expr
from trefoil_spark.grid.bbox import BBox
from trefoil_spark.raster.gridspec import GridSpec
from trefoil_spark.raster.rasterize import FILL, rasterize_tile, rasterize_zones
from trefoil_spark.raster.synth import block_values, synthetic_tiles, value_sql
from trefoil_spark.raster.zonal import tile_zonal_statistics
from trefoil_spark.raster.classify import (
    classify_block,
    classify_sql,
    equal_interval_breaks,
)
from trefoil_spark.sources.zones import ZONE_LAYER

REGION = BBox((-125.0, 32.0, -113.0, 38.0), "EPSG:4326")
SPEC = GridSpec.from_bbox(REGION, width=1024, height=512)  # dyadic pixels


def _tiles_df(spark, arrays, tile=256):
    """Helper: list of (t, ty, tx, 2d float32 array) → tile DataFrame."""
    rows = [
        ("v", t, ty, tx, 0, a.astype(np.float32).tobytes(), a.shape[0], a.shape[1])
        for (t, ty, tx, a) in arrays
    ]
    return spark.createDataFrame(
        rows, "var string, t int, ty int, tx int, cell bigint, block binary, h int, w int"
    )


def _zones_df(spark, arrays):
    rows = [
        (ty, tx, z.astype(np.uint16).tobytes(), z.shape[0], z.shape[1])
        for (ty, tx, z) in arrays
    ]
    return spark.createDataFrame(rows, "ty int, tx int, zone_block binary, h int, w int")


def test_zonal_reference_truth(spark):
    """Mirrors trefoil/analysis/tests/test_summary.py:14-37: 10x10 grid
    arange(1,101), zones = upper/lower half."""
    data = np.arange(1, 101, dtype=np.float32).reshape(10, 10)
    zones = np.zeros((10, 10), dtype=np.uint16)
    zones[5:] = 1

    tiles = _tiles_df(spark, [(0, 0, 0, data)])
    ztiles = _zones_df(spark, [(0, 0, zones)])
    got = {
        r["zone"]: r
        for r in tile_zonal_statistics(tiles, ztiles).collect()
    }
    for zone in (0, 1):
        truth = np.arange(zone * 50 + 1, zone * 50 + 51)
        assert got[zone]["count"] == truth.size
        assert got[zone]["sum"] == truth.sum()
        assert got[zone]["min"] == truth.min()
        assert got[zone]["max"] == truth.max()
        assert got[zone]["mean"] == pytest.approx(truth.mean(), rel=1e-12)
        assert got[zone]["std"] == pytest.approx(truth.std(), rel=1e-12)  # ddof=0


def test_zonal_masked_zone_skipped(spark):
    """Reference summary.py:160-162: all-masked zones emit no row."""
    data = np.full((4, 4), np.nan, dtype=np.float32)
    data[0, 0] = 5.0
    zones = np.zeros((4, 4), dtype=np.uint16)
    zones[2:] = 1  # zone 1 entirely masked
    got = tile_zonal_statistics(
        _tiles_df(spark, [(0, 0, 0, data)]), _zones_df(spark, [(0, 0, zones)])
    ).collect()
    assert {r["zone"] for r in got} == {0}
    assert got[0]["count"] == 1 and got[0]["sum"] == 5.0


def test_rasterize_matches_pip(spark):
    """Zone tiles = PIP of pixel centers, burn order preserved."""
    blk = rasterize_tile(SPEC, ZONE_LAYER, 0, 0)
    assert blk.shape == (256, 256)
    lat, lon = SPEC.pixel_centers(0, 0)
    from trefoil_spark.geometry import points_in_polygon

    expect = np.full(blk.shape, FILL, dtype=np.uint16)
    for fid, poly in enumerate(ZONE_LAYER):
        inside = points_in_polygon(lon, lat, poly)
        expect[inside] = fid
    assert np.array_equal(blk, expect)


def test_tile_zonal_vs_duckdb_pixel_oracle(spark):
    """Full J1+A1 pipeline on the synthetic grid vs row-grain DuckDB."""
    tiles = synthetic_tiles(spark, SPEC)
    ztiles = rasterize_zones(spark, SPEC, ZONE_LAYER)
    got = (
        tile_zonal_statistics(tiles, ztiles)
        .orderBy("zone")
        .toPandas()
    )

    lon = SPEC.lon_sql("x")
    lat = SPEC.lat_sql("y")
    cases = " ".join(
        f"WHEN {pip_sql_expr('lon', 'lat', ZONE_LAYER[fid])} THEN {fid}"
        for fid in reversed(range(len(ZONE_LAYER)))
    )
    want = duckdb.sql(
        f"""
        WITH px AS (
            SELECT CAST(i // {SPEC.width} AS BIGINT) AS y,
                   CAST(i % {SPEC.width} AS BIGINT) AS x
            FROM (SELECT UNNEST(range({SPEC.width * SPEC.height})) AS i)
        ), geo AS (
            SELECT y, x, {lon} AS lon, {lat} AS lat FROM px
        ), z AS (
            SELECT CASE {cases} END AS zone, {value_sql('y', 'x')} AS v FROM geo
        )
        SELECT zone,
               SUM(v) / COUNT(v) AS mean, MIN(v) AS min, MAX(v) AS max,
               SQRT(SUM(v*v)/COUNT(v) - (SUM(v)/COUNT(v))*(SUM(v)/COUNT(v))) AS std,
               SUM(v) AS sum, COUNT(v) AS count
        FROM z WHERE zone IS NOT NULL AND v IS NOT NULL
        GROUP BY zone ORDER BY zone
        """
    ).df()
    got = got[["zone", "mean", "min", "max", "std", "sum", "count"]]
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_classify_and_stretch_parity():
    rng = np.random.default_rng(5)
    v = rng.uniform(-10, 110, 5000)
    v[::37] = np.nan
    breaks = equal_interval_breaks(0.0, 100.0, 5)

    cls = classify_block(v, breaks)
    want_cls = np.digitize(v, breaks).astype(float)
    want_cls[np.isnan(v)] = np.nan
    assert np.array_equal(cls, want_cls, equal_nan=True)

    # the stretch the renderer runs (stretched.py:106-121: trunc, clip)
    from trefoil_spark.functions.color import Color
    from trefoil_spark.raster.render import StretchedRenderer

    r = StretchedRenderer(
        [(0.0, Color(0, 0, 0)), (100.0, Color(255, 255, 255))],
        colorspace="rgb", palette_size=255,
    )
    ok = ~np.isnan(v)
    want_st = ((v[ok] - 0.0) * (254 / 100.0)).astype(np.int64).clip(0, 254)
    assert np.array_equal(r._indices(v)[ok], want_st)

    # SQL twin on DuckDB == numpy
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"v": v}))
    got_sql = con.execute(f"SELECT {classify_sql('v', breaks)} AS c FROM t").df()
    assert np.array_equal(got_sql["c"].to_numpy(dtype=float), want_cls, equal_nan=True)
