"""Closed-form coordinate transforms (pyproj absent — from scratch).

Supported CRS (SURVEY.md F20): EPSG:4326 (lon/lat degrees, WGS84) and
every family of :mod:`.projections` — spherical Web Mercator
(EPSG:3857), ellipsoidal Albers Equal-Area (+proj=aea), Lambert
Conformal Conic (+proj=lcc), Transverse Mercator (+proj=tmerc,
+proj=utm), Polar Stereographic (+proj=stere), and Lambert Azimuthal
Equal-Area (+proj=laea). This matches the reference's CRS family surface
(/root/reference/trefoil/netcdf/crs.py:44-106); the full proj database
stays out of scope.

Any supported pair transforms: non-geographic↔non-geographic composes
through EPSG:4326 (same route pyproj takes without datum shifts). One
dispatch serves the three evaluations of :mod:`.projections`: numpy
(:func:`transform`, used driver-side and inside Arrow-batched pandas
UDFs, never per-row), Catalyst (:func:`transform_cols`) and SQL text
(:func:`transform_sql`).
"""

from __future__ import annotations

from . import projections as _pj

_ALIASES = {
    "epsg:4326": "EPSG:4326",
    "wgs84": "EPSG:4326",
    "latlong": "EPSG:4326",
    "epsg:3857": "EPSG:3857",
    "epsg:900913": "EPSG:3857",
    "web_mercator": "EPSG:3857",
}

# Web Mercator's own proj4 parameters: +proj=merc names EPSG:3857 only on
# this sphere, unshifted; any other Mercator is a different projection
_WEB_MERCATOR = _pj.parse_params(
    "+proj=merc +a=6378137 +b=6378137 +lat_ts=0 +lon_0=0 +x_0=0 +y_0=0 +k=1 "
    "+units=m +nadgrids=@null +wktext +no_defs"
)


def _is_web_mercator(proj4: str) -> bool:
    p = _pj.parse_params(proj4)
    return p.get("a") == p.get("b") == _WEB_MERCATOR["a"] and all(
        _WEB_MERCATOR.get(k) == v for k, v in p.items()
    )


def _is_wgs84_longlat(proj4: str) -> bool:
    """+proj=longlat names EPSG:4326 only on the WGS84 datum and
    ellipsoid, unshifted, on the Greenwich meridian."""
    p = _pj.parse_params(proj4)
    return (
        p.get("datum", "WGS84") == "WGS84"
        and _pj.ellipsoid(p) == (_pj.WGS84_A, _pj.WGS84_E2)
        and all(float(v) == 0 for v in str(p.get("towgs84", 0)).split(","))
        and p.get("pm", 0) in (0, "greenwich")
        and p.get("lon_0", 0) == 0
    )


def normalize_crs(crs: str) -> str:
    """Canonical CRS string: EPSG:4326, EPSG:3857, or the proj4 string
    itself. Matches the first token exactly (no prefix matching)."""
    s = crs.strip()
    first = s.split(maxsplit=1)[0] if s else ""
    if first.lower() in _ALIASES:
        return _ALIASES[first.lower()]
    if first == "+proj=longlat" and _is_wgs84_longlat(s):
        return "EPSG:4326"
    if first == "+proj=merc" and _is_web_mercator(s):
        return "EPSG:3857"
    families = [f for f in _pj.FAMILIES if f != "EPSG:3857"] + ["utm"]
    if first in [f"+proj={f}" for f in families]:
        return s  # proj4 strings are their own canonical form
    raise ValueError(
        f"Unsupported CRS: {crs!r} (supported: EPSG:4326, EPSG:3857, "
        f"and +proj={{{','.join(families)}}})"
    )


def same_crs(a: str, b: str) -> bool:
    return normalize_crs(a) == normalize_crs(b)


def is_latlong(crs: str) -> bool:
    """Reference parity: trefoil/utilities/proj.py:1-8 (is_latlong check)."""
    return normalize_crs(crs) == "EPSG:4326"


def _transform(be, src_crs: str, dst_crs: str, x, y):
    """src → dst on backend ``be``: EPSG:4326 is the identity, every other
    CRS goes through its family's inverse/forward."""
    s, d = normalize_crs(src_crs), normalize_crs(dst_crs)
    x, y = be.asval(x), be.asval(y)
    if s == d:
        return x, y
    lon, lat = (x, y) if s == "EPSG:4326" else _pj.inverse(be, s, x, y)
    return (lon, lat) if d == "EPSG:4326" else _pj.forward(be, d, lon, lat)


def transform(src_crs: str, dst_crs: str, x, y):
    """Vectorized numpy transform between supported CRS."""
    return _transform(_pj.NP, src_crs, dst_crs, x, y)


def transform_cols(src_crs: str, dst_crs: str, x, y):
    """Catalyst-expression form of :func:`transform` (column names or
    Columns in, ``(x_col, y_col)`` out) — distributed grid math such as
    warp tile-cover enumeration, with no driver-side loops."""
    return _transform(_pj.COL(), src_crs, dst_crs, x, y)


def transform_sql(src_crs: str, dst_crs: str, x_sql: str, y_sql: str) -> tuple[str, str]:
    """Engine-portable SQL-text form of :func:`transform` (valid in both
    Spark SQL and DuckDB) — generates correctness-oracle SQL for warp
    queries in projected CRS. Raises ``ValueError`` for an ellipsoidal
    aea source: its inverse iterates, and SQL text has no loop.

    The EPSG:3857 latitude clamp is a ``CASE WHEN lat > MAX_LAT``, which
    is true for NaN in DuckDB (NaN sorts above every number), so a NaN
    latitude gives y = 20037508.34 there, as in Catalyst, where numpy
    returns NaN. The frozen warp oracles run this text, so it stays."""
    ox, oy = _transform(_pj.SQL, src_crs, dst_crs, x_sql, y_sql)
    return str(ox), str(oy)
