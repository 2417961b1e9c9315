"""Ellipsoidal Albers equal-area (Snyder) + authalic area-true zonal."""

import duckdb
import numpy as np
import pytest

from trefoil_spark.grid import proj
from trefoil_spark.grid import projections as pj
from trefoil_spark.grid.bbox import BBox
from trefoil_spark.raster.gridspec import GridSpec
from trefoil_spark.raster.zonal import authalic_row_areas_m2, zone_true_area

P4 = (
    "+proj=aea +lat_1=33 +lat_2=37 +lat_0=0 +lon_0=-119 "
    "+x_0=0 +y_0=0 +ellps=WGS84 +datum=WGS84 +units=m +no_defs"
)
SPEC = GridSpec.from_bbox(BBox((-125.0, 32.0, -113.0, 38.0), "EPSG:4326"), 512, 256)


def test_aea_roundtrip():
    rng = np.random.default_rng(2)
    lon = rng.uniform(-126, -112, 1000)
    lat = rng.uniform(31, 39, 1000)
    x, y = proj.transform("EPSG:4326", P4, lon, lat)
    lon2, lat2 = proj.transform(P4, "EPSG:4326", x, y)
    assert np.abs(lon2 - lon).max() < 1e-11
    assert np.abs(lat2 - lat).max() < 1e-11


_CLRK66_A, _CLRK66_B = 6378206.4, 6356583.8


@pytest.mark.parametrize(
    "p4,a,e2",
    [
        (P4, pj.WGS84_A, pj.WGS84_E2),
        (P4 + " +ellps=clrk66", _CLRK66_A, 1.0 - (_CLRK66_B / _CLRK66_A) ** 2),
        (P4 + " +a=6370997 +b=6370997", 6370997.0, 0.0),
    ],
    ids=["WGS84", "clrk66", "sphere"],
)
def test_aea_true_scale_at_standard_parallels(p4, a, e2):
    """Defining property: scale along the standard parallels is 1 — on
    the ellipsoid the proj4 string names."""
    for sp in (33.0, 37.0):
        d = 1e-6
        x1, _ = proj.transform("EPSG:4326", p4, np.array([-119.0]), np.array([sp]))
        x2, _ = proj.transform("EPSG:4326", p4, np.array([-119.0 + d]), np.array([sp]))
        s = np.sin(np.radians(sp))
        n_rad = a / np.sqrt(1 - e2 * s * s)
        truth = np.radians(d) * n_rad * np.cos(np.radians(sp))
        assert abs(float(x2[0] - x1[0]) / truth - 1.0) < 1e-6


def test_aea_equal_area_property():
    """Projected quad area == analytic ellipsoid band area (the q
    identity the zonal area operator is built on)."""
    lat0, lat1 = 34.0, 34.0234375
    lon0, lon1 = -119.0, -118.9765625
    x, y = proj.transform(
        "EPSG:4326", P4, np.array([lon0, lon1, lon1, lon0]), np.array([lat0, lat0, lat1, lat1])
    )
    shoe = 0.5 * abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))
    q0 = pj._q_be(pj.NP, np.radians(lat0), pj.WGS84_E2)
    q1 = pj._q_be(pj.NP, np.radians(lat1), pj.WGS84_E2)
    band = pj.WGS84_A ** 2 / 2.0 * (q1 - q0) * np.radians(lon1 - lon0)
    assert abs(shoe - band) / band < 1e-7  # quad edges are chords


def test_local_albers_pick_is_transformable():
    p4 = proj.normalize_crs(
        "+proj=aea +lat_1=33 +lat_2=37 +lat_0=0 +lon_0=-119 +x_0=0 +y_0=0 "
        "+ellps=WGS84 +datum=WGS84 +units=m +no_defs"
    )
    x, y = proj.transform("EPSG:4326", p4, -119.0, 35.0)
    lon, lat = proj.transform(p4, "EPSG:4326", x, y)
    assert abs(float(lon) + 119.0) < 1e-11 and abs(float(lat) - 35.0) < 1e-11
    # aea ↔ 3857 routes via geographic
    X, Y = proj.transform(p4, "EPSG:3857", x, y)
    mx, _ = proj.transform("EPSG:4326", "EPSG:3857", -119.0, 35.0)
    assert abs(float(X) - float(mx)) < 1e-6


def test_row_areas_match_duckdb_libm():
    """The floor-to-int quantization is portable: numpy and DuckDB agree
    on every row of the fixture grid (the property the driver oracle
    relies on)."""
    ours = authalic_row_areas_m2(SPEC)
    e2 = pj.WGS84_E2
    e = float(e2 ** 0.5)
    k = pj.WGS84_A ** 2 / 2.0

    def q(lat):
        s = f"sin(radians({lat}))"
        return (
            f"((1-{e2!r})*({s}/(1-{e2!r}*{s}*{s}) "
            f"- (1/(2*{e!r}))*ln((1-{e!r}*{s})/(1+{e!r}*{s}))))"
        )

    top = f"({SPEC.y0!r} - y*{SPEC.dy!r})"
    bot = f"({SPEC.y0!r} - (y+1)*{SPEC.dy!r})"
    rows = duckdb.connect().execute(
        f"SELECT CAST(FLOOR({k!r}*radians({SPEC.dx!r})*({q(top)} - {q(bot)})) "
        f"AS BIGINT) AS a FROM (SELECT UNNEST(range({SPEC.height})) AS y)"
    ).df()
    assert np.array_equal(ours, rows.a.values)


def test_zone_true_area_matches_pixel_oracle(spark):
    from trefoil_spark.raster.rasterize import rasterize_zones
    from trefoil_spark.sources.zones import ZONE_LAYER

    ztiles = rasterize_zones(spark, SPEC, ZONE_LAYER)
    got = {r["zone"]: r["area_m2"] for r in zone_true_area(ztiles, SPEC).collect()}

    # numpy oracle: stitch zone raster, dot counts with row areas
    row_areas = authalic_row_areas_m2(SPEC)
    want: dict[int, int] = {}
    for r in ztiles.collect():
        z = np.frombuffer(r["zone_block"], dtype=np.uint16).reshape(r["h"], r["w"])
        oy = r["ty"] * SPEC.tile
        for zone in np.unique(z):
            if zone == 0xFFFF:
                continue
            counts = (z == zone).sum(axis=1).astype(np.int64)
            want[int(zone)] = want.get(int(zone), 0) + int(
                np.dot(counts, row_areas[oy : oy + r["h"]])
            )
    assert got == want
    # sanity: urban box ~951 km², west/east a few hundred thousand km²
    assert 1e8 < min(got.values()) and max(got.values()) < 1e12


def test_warp_tiles_to_local_albers(spark):
    """Distributed warp into the locally-picked AEA grid: every probe
    pixel equals the single-process warp_tile_numpy oracle (J6/R2 with a
    non-separable destination CRS — exercises the sampled+slack tile
    cover and the Catalyst aea transforms)."""
    from trefoil_spark.grid.bbox import get_local_albers_projection
    from trefoil_spark.raster.synth import block_values, synthetic_tiles
    from tests.reference import warp_tile_numpy
    from trefoil_spark.raster.warp import warp_tiles

    src_spec = SPEC
    p4 = get_local_albers_projection(src_spec.bbox)
    b_aea = src_spec.bbox.project(p4)
    dst_spec = GridSpec.from_bbox(b_aea, 512, 256)
    tiles = synthetic_tiles(spark, src_spec)
    warped = {(r["ty"], r["tx"]): r for r in
              warp_tiles(spark, tiles, src_spec, dst_spec).collect()}
    assert len(warped) == dst_spec.ntiles_y * dst_spec.ntiles_x

    src_full = np.full((src_spec.height, src_spec.width), np.nan, dtype=np.float32)
    for ty in range(src_spec.ntiles_y):
        for tx in range(src_spec.ntiles_x):
            b = block_values(src_spec, 0, ty, tx)
            src_full[ty * 256 : ty * 256 + b.shape[0],
                     tx * 256 : tx * 256 + b.shape[1]] = b
    for (ty, tx), row in warped.items():
        got = np.frombuffer(row["block"], dtype=np.float32).reshape(
            row["h"], row["w"]
        )
        want = warp_tile_numpy(src_full, src_spec, dst_spec, ty, tx)
        assert np.array_equal(got, want, equal_nan=True), (ty, tx)
