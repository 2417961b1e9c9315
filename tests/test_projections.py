"""F20 projection families (3857/aea/lcc/tmerc/utm/stere/laea): round-trips,
known values, differential map properties (conformality / equal-area /
standard-parallel scale), and three-backend agreement (numpy vs Catalyst
vs SQL-text executed by DuckDB).

Reference surface parity: trefoil/netcdf/crs.py:44-106 maps exactly these
CF grid_mapping families; its transforms are delegated to pyproj, ours
are Snyder closed forms (see trefoil_spark/grid/projections.py).
"""

import math

import duckdb
import numpy as np
import pytest

from trefoil_spark.grid import proj
from trefoil_spark.grid import projections as pj

LCC = "+proj=lcc +lat_1=33 +lat_2=45 +lat_0=23 +lon_0=-96 +x_0=100000 +y_0=50000 +ellps=WGS84"
LCC_1SP = "+proj=lcc +lat_1=40 +lat_0=40 +lon_0=-100 +ellps=GRS80"
TMERC = "+proj=tmerc +lat_0=40 +lon_0=-75 +k_0=0.9996 +x_0=250000 +ellps=WGS84"
UTM31 = "+proj=utm +zone=31 +ellps=WGS84"
UTM19S = "+proj=utm +zone=19 +south +ellps=WGS84"
STERE_N = "+proj=stere +lat_0=90 +lat_ts=70 +lon_0=-45 +x_0=2000000 +y_0=2000000 +ellps=WGS84"
STERE_S = "+proj=stere +lat_0=-90 +lat_ts=-71 +lon_0=0 +ellps=WGS84"
LAEA = "+proj=laea +lat_0=52 +lon_0=10 +x_0=4321000 +y_0=3210000 +ellps=GRS80"
WEBMERC = "EPSG:3857"
AEA = "+proj=aea +lat_1=29.5 +lat_2=45.5 +lat_0=37.5 +lon_0=-96 +x_0=1000 +y_0=-500 +ellps=GRS80"
AEA_SPHERE = "+proj=aea +lat_1=29.5 +lat_2=45.5 +lon_0=-96 +a=6370997 +b=6370997"

ALL = [LCC, LCC_1SP, TMERC, UTM31, UTM19S, STERE_N, STERE_S, LAEA, WEBMERC, AEA, AEA_SPHERE]


def _grid(p4):
    """A lon/lat probe lattice inside each projection's comfortable domain."""
    if "stere" in p4:
        sign = -1.0 if "lat_0=-90" in p4 else 1.0
        lat = sign * np.linspace(55.0, 88.0, 6)
        lon = np.linspace(-170.0, 170.0, 7)
    elif "tmerc" in p4 or "utm" in p4:
        lon0 = {TMERC: -75.0, UTM31: 3.0, UTM19S: -69.0}[p4]
        lat = np.linspace(-70.0, 70.0, 8) if "south" in p4 else np.linspace(5.0, 70.0, 8)
        lon = lon0 + np.linspace(-3.0, 3.0, 7)
    elif "laea" in p4:
        lat = np.linspace(30.0, 70.0, 7)
        lon = np.linspace(-10.0, 35.0, 7)
    else:
        lat = np.linspace(25.0, 50.0, 7)
        lon = np.linspace(-120.0, -70.0, 7)
    LO, LA = np.meshgrid(lon, lat)
    return LO.ravel(), LA.ravel()


@pytest.mark.parametrize("p4", ALL)
def test_roundtrip(p4):
    lon, lat = _grid(p4)
    x, y = proj.transform("EPSG:4326", p4, lon, lat)
    lo, la = proj.transform(p4, "EPSG:4326", x, y)
    # reference-style tolerance (test_crs round-trips at 1e-6-ish): the
    # series inverses are good to ~1e-8 deg ≈ 1 mm
    assert np.abs(lo - lon).max() < 1e-7
    assert np.abs(la - lat).max() < 1e-7


def test_utm_known_values():
    """Public anchor points: zone edge easting at the equator
    (166021.443 m — the published westernmost UTM easting), the central
    meridian at 500000 m, and the southern false northing."""
    x, y = proj.transform("EPSG:4326", UTM31, 0.0, 0.0)
    assert abs(float(x) - 166021.443) < 0.01
    assert abs(float(y)) < 1e-6
    x, y = proj.transform("EPSG:4326", UTM31, 3.0, 45.0)
    assert abs(float(x) - 500000.0) < 1e-6
    x, y = proj.transform("EPSG:4326", UTM19S, -69.0, -33.0)
    assert abs(float(x) - 500000.0) < 1e-6
    assert 6_000_000 < float(y) < 10_000_000  # south: false northing 1e7


def _jacobian(p4, lon, lat, d=1e-6):
    xp, yp = proj.transform("EPSG:4326", p4, lon + d, lat)
    xm, ym = proj.transform("EPSG:4326", p4, lon - d, lat)
    dxdl, dydl = (xp - xm) / (2 * d), (yp - ym) / (2 * d)
    xp, yp = proj.transform("EPSG:4326", p4, lon, lat + d)
    xm, ym = proj.transform("EPSG:4326", p4, lon, lat - d)
    dxdp, dydp = (xp - xm) / (2 * d), (yp - ym) / (2 * d)
    return dxdl, dydl, dxdp, dydp


def _radii(lat):
    a, e2 = pj.ellipsoid({"ellps": "WGS84"})
    s = math.sin(math.radians(lat))
    N = a / math.sqrt(1 - e2 * s * s)          # prime vertical
    M = a * (1 - e2) / (1 - e2 * s * s) ** 1.5  # meridian
    return N * math.cos(math.radians(lat)), M   # parallel radius, meridian radius


@pytest.mark.parametrize(
    "p4,pts",
    [
        (LCC, [(-100.0, 38.0), (-80.0, 30.0)]),
        (TMERC, [(-75.5, 42.0), (-73.0, 35.0)]),
        (STERE_N, [(-45.0, 75.0), (120.0, 65.0)]),
    ],
)
def test_conformal_scale_isotropy(p4, pts):
    """Conformal families: the local scale along a parallel equals the
    scale along the meridian (h = k) and the images of the coordinate
    directions are orthogonal — this pins the formulas up to the exact
    projection, not just 'some smooth map'."""
    for lon, lat in pts:
        dxdl, dydl, dxdp, dydp = _jacobian(p4, lon, lat)
        rp, rm = _radii(lat)
        k = math.hypot(float(dxdl), float(dydl)) * pj.DEG / rp
        h = math.hypot(float(dxdp), float(dydp)) * pj.DEG / rm
        assert abs(h / k - 1.0) < 1e-6
        dot = float(dxdl) * float(dxdp) + float(dydl) * float(dydp)
        assert abs(dot) / (rp * rm / pj.DEG**2) < 1e-6


def test_scale_at_standard_parallels():
    """lcc: k=1 on both standard parallels; tmerc: k=k_0 on the central
    meridian; stere: k=1 at lat_ts."""
    for lat_sp in (33.0, 45.0):
        dxdl, dydl, _, _ = _jacobian(LCC, -96.0, lat_sp)
        rp, _ = _radii(lat_sp)
        assert abs(math.hypot(float(dxdl), float(dydl)) * pj.DEG / rp - 1.0) < 1e-7
    dxdl, dydl, _, _ = _jacobian(TMERC, -75.0, 40.0)
    rp, _ = _radii(40.0)
    assert abs(math.hypot(float(dxdl), float(dydl)) * pj.DEG / rp - 0.9996) < 1e-7
    dxdl, dydl, _, _ = _jacobian(STERE_N, 30.0, 70.0)
    rp, _ = _radii(70.0)
    assert abs(math.hypot(float(dxdl), float(dydl)) * pj.DEG / rp - 1.0) < 1e-7


def test_laea_equal_area_jacobian():
    """laea: |det J| equals the ellipsoidal area element everywhere
    (area scale ≡ 1)."""
    for lon, lat in [(10.0, 52.0), (-5.0, 35.0), (30.0, 68.0)]:
        dxdl, dydl, dxdp, dydp = _jacobian(LAEA, lon, lat)
        det = abs(float(dxdl) * float(dydp) - float(dydl) * float(dxdp))
        a, e2 = pj.ellipsoid({"ellps": "GRS80"})
        s = math.sin(math.radians(lat))
        N = a / math.sqrt(1 - e2 * s * s)
        M = a * (1 - e2) / (1 - e2 * s * s) ** 1.5
        want = N * math.cos(math.radians(lat)) * M / pj.DEG**2
        assert abs(det / want - 1.0) < 1e-6


def test_laea_origin_and_false_offsets():
    x, y = proj.transform("EPSG:4326", LAEA, 10.0, 52.0)
    assert abs(float(x) - 4321000.0) < 1e-6 and abs(float(y) - 3210000.0) < 1e-6
    x, y = proj.transform("EPSG:4326", LCC, -96.0, 23.0)
    assert abs(float(x) - 100000.0) < 1e-6 and abs(float(y) - 50000.0) < 1e-6


def test_composed_routes():
    """Projected↔projected composes through 4326 — including the r2
    ADVICE gap aea↔3857 and the new families both ways."""
    aea = "+proj=aea +lat_1=34 +lat_2=40.5 +lat_0=0 +lon_0=-120"
    x, y = proj.transform(aea, "EPSG:3857", [0.0, 50000.0], [4000000.0, 3900000.0])
    lon, lat = proj.transform("EPSG:3857", "EPSG:4326", x, y)
    x2, y2 = proj.transform("EPSG:4326", aea, lon, lat)
    assert np.abs(x2 - np.array([0.0, 50000.0])).max() < 1e-4
    x, y = proj.transform(LCC, STERE_N, -1000.0, 4000000.0)
    lo, la = proj.transform(STERE_N, "EPSG:4326", x, y)
    lo2, la2 = proj.transform(LCC, "EPSG:4326", -1000.0, 4000000.0)
    assert abs(float(lo) - float(lo2)) < 1e-7 and abs(float(la) - float(la2)) < 1e-7


@pytest.mark.parametrize("p4", [LCC, TMERC, UTM19S, STERE_N, STERE_S, LAEA, WEBMERC])
def test_sql_backend_matches_numpy_duckdb(p4):
    """The SQL-text backend executed by DuckDB reproduces the numpy
    forward AND inverse to float64 last-ulp levels — this is the parity
    that lets warp oracles recompute projected gathers independently."""
    lon, lat = _grid(p4)
    x_np, y_np = proj.transform("EPSG:4326", p4, lon, lat)
    fx, fy = proj.transform_sql("EPSG:4326", p4, "lon", "lat")
    con = duckdb.connect()
    con.register("pts", __import__("pandas").DataFrame({"lon": lon, "lat": lat}))
    got = con.execute(f"SELECT {fx} AS x, {fy} AS y FROM pts").fetchnumpy()
    assert np.abs(got["x"] - x_np).max() < 1e-6  # metres
    assert np.abs(got["y"] - y_np).max() < 1e-6
    ix, iy = proj.transform_sql(p4, "EPSG:4326", "x", "y")
    con.register("xy", __import__("pandas").DataFrame({"x": x_np, "y": y_np}))
    got = con.execute(f"SELECT {ix} AS lon, {iy} AS lat FROM xy").fetchnumpy()
    # parity vs the numpy INVERSE (same formula, different libm) —
    # series truncation vs the original point is tested by roundtrip
    lo_np, la_np = proj.transform(p4, "EPSG:4326", x_np, y_np)
    assert np.abs(got["lon"] - lo_np).max() < 1e-10
    assert np.abs(got["lat"] - la_np).max() < 1e-10


def test_webmerc_nan_latitude(spark):
    """A NaN latitude is clamped to MAX_LAT by the Catalyst form, by the
    SQL text in Spark and by the SQL text in DuckDB (NaN sorts above
    every number in both engines), so all three return the top of the
    square, y = 20037508.34; numpy's clip passes NaN through. The SQL
    text is what the frozen warp oracles run, so it stays as it is."""
    from pyspark.sql import functions as F

    top = float(proj.transform("EPSG:4326", "EPSG:3857", 10.0, pj.MAX_LAT)[1])
    assert round(top, 2) == 20037508.34
    assert math.isnan(float(proj.transform("EPSG:4326", "EPSG:3857", 10.0, math.nan)[1]))

    df = spark.createDataFrame([(10.0, math.nan)], "lon double, lat double")
    _, cy = proj.transform_cols("EPSG:4326", "EPSG:3857", "lon", "lat")
    _, fy = proj.transform_sql("EPSG:4326", "EPSG:3857", "lon", "lat")
    row = df.select(cy.alias("col"), F.expr(fy).alias("sql")).collect()[0]
    duck = duckdb.connect().execute(
        f"SELECT {fy} FROM (SELECT CAST(10 AS DOUBLE) AS lon, CAST('NaN' AS DOUBLE) AS lat)"
    ).fetchone()[0]
    assert abs(row["col"] - top) < 1e-6
    assert abs(row["sql"] - top) < 1e-6
    assert abs(duck - top) < 1e-6


@pytest.mark.parametrize("p4", [LCC, UTM31, STERE_S, LAEA, WEBMERC, AEA])
def test_column_backend_matches_numpy(spark, p4):
    """The Catalyst twin (used by the distributed warp pair enumeration)
    agrees with the numpy kernel."""
    lon, lat = _grid(p4)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lon, lat)], "lon double, lat double"
    )
    cx, cy = proj.transform_cols("EPSG:4326", p4, "lon", "lat")
    rows = df.select(cx.alias("x"), cy.alias("y")).collect()
    x_np, y_np = proj.transform("EPSG:4326", p4, lon, lat)
    got_x = np.array([r["x"] for r in rows])
    got_y = np.array([r["y"] for r in rows])
    assert np.abs(got_x - x_np).max() < 1e-6
    assert np.abs(got_y - y_np).max() < 1e-6
    ix, iy = proj.transform_cols(p4, "EPSG:4326", "x", "y")
    df2 = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x_np, y_np)], "x double, y double"
    )
    rows = df2.select(ix.alias("lon"), iy.alias("lat")).collect()
    lo_np, la_np = proj.transform(p4, "EPSG:4326", x_np, y_np)
    assert np.abs(np.array([r["lon"] for r in rows]) - lo_np).max() < 1e-10
    assert np.abs(np.array([r["lat"] for r in rows]) - la_np).max() < 1e-10


def test_sql_backend_aea_forward_only():
    """SQL text has no loop: the aea forward is closed-form and matches
    numpy in DuckDB; the iterative inverse raises."""
    lon, lat = _grid(AEA)
    x_np, y_np = proj.transform("EPSG:4326", AEA, lon, lat)
    fx, fy = proj.transform_sql("EPSG:4326", AEA, "lon", "lat")
    con = duckdb.connect()
    con.register("pts", __import__("pandas").DataFrame({"lon": lon, "lat": lat}))
    got = con.execute(f"SELECT {fx} AS x, {fy} AS y FROM pts").fetchnumpy()
    assert np.abs(got["x"] - x_np).max() < 1e-6
    assert np.abs(got["y"] - y_np).max() < 1e-6
    for dst in ("EPSG:4326", WEBMERC, LCC):
        with pytest.raises(ValueError):
            proj.transform_sql(AEA, dst, "x", "y")


def test_spark_sql_text_parses(spark):
    """The same SQL text the DuckDB oracle runs is valid Spark SQL too
    (shared-fragment property the oracle pattern depends on)."""
    fx, fy = proj.transform_sql("EPSG:4326", LCC, "lon", "lat")
    row = spark.sql(
        f"SELECT {fx} AS x, {fy} AS y FROM VALUES (CAST(-100.0 AS DOUBLE), "
        f"CAST(38.0 AS DOUBLE)) AS t(lon, lat)"
    ).collect()[0]
    x_np, y_np = proj.transform("EPSG:4326", LCC, -100.0, 38.0)
    assert abs(row["x"] - float(x_np)) < 1e-6
    assert abs(row["y"] - float(y_np)) < 1e-6


def test_unsupported_still_raise():
    with pytest.raises(ValueError):
        proj.normalize_crs("+proj=robin")
    # the first token must match exactly; +proj=merc is Web Mercator only
    # with Web Mercator's own parameters
    for crs in ("EPSG:38571", "epsg:43260", "wgs84foo", "+proj=merc +lat_ts=45 +lon_0=10",
                "+proj=merc", "+proj=EPSG:3857", "+proj=lccx +lat_1=33"):
        with pytest.raises(ValueError):
            proj.normalize_crs(crs)
    # +proj=longlat is EPSG:4326 only on WGS84, unshifted, at Greenwich
    for crs in ("+proj=longlat +ellps=clrk66 +lon_0=90", "+proj=longlat +datum=NAD27",
                "+proj=longlat +datum=NAD83", "+proj=longlat +ellps=GRS80",
                "+proj=longlat +a=6378137 +b=6378137", "+proj=longlat +towgs84=1,2,3",
                "+proj=longlat +pm=paris", "+proj=longlat +pm=2.337229",
                "+proj=longlat +lon_0=90"):
        with pytest.raises(ValueError):
            proj.normalize_crs(crs)
    with pytest.raises(ValueError):
        pj.constants_for("+proj=stere +lat_0=45")  # oblique stere
    with pytest.raises(ValueError):
        pj.constants_for("+proj=laea +lat_0=90")  # polar laea


def test_crs_aliases_normalize():
    for crs in ("EPSG:4326", "epsg:4326", "WGS84", "latlong", "+proj=longlat",
                "+proj=longlat +datum=WGS84 +no_defs",
                "+proj=longlat +ellps=WGS84 +towgs84=0,0,0 +pm=greenwich +lon_0=0",
                " EPSG:4326 "):
        assert proj.normalize_crs(crs) == "EPSG:4326"
    for crs in ("EPSG:3857", "epsg:900913", "web_mercator",
                "+proj=merc +a=6378137 +b=6378137 +lat_ts=0 +lon_0=0 +x_0=0 +y_0=0 "
                "+k=1 +units=m +nadgrids=@null +wktext +no_defs",
                "+proj=merc +a=6378137 +b=6378137"):
        assert proj.normalize_crs(crs) == "EPSG:3857"
