"""Projected-CRS transform math (SURVEY.md F20 breadth), one formula per CRS.

Families: spherical Web Mercator (EPSG:3857), ellipsoidal Albers
Equal-Area (aea), Lambert Conformal Conic (lcc, 1SP/2SP), Transverse
Mercator (tmerc) + UTM, Polar Stereographic (stere, lat_0=±90), and
Lambert Azimuthal Equal-Area (laea, oblique/equatorial). This matches the
reference's CF↔proj4 surface (/root/reference/trefoil/netcdf/crs.py:44-106,
round-tripped by trefoil/netcdf/tests/test_crs.py) — the reference
delegates the actual transforms to pyproj; pyproj is absent here, so the
math is implemented from the public closed forms (Snyder, *Map
Projections — A Working Manual*, USGS PP 1395: eqs. 3-5, 3-12, 3-16,
7-1..7-4, 7-9, 8-9..8-25, 14-1..14-21, 15-1..15-11, 21-33..21-41,
24-3..24-16, 3-18).

Every projection is written ONCE against a tiny backend shim and then
evaluated three ways:

- ``NP``  — numpy float64 (the warp gather kernel, driver bbox math);
- ``COL`` — Catalyst Columns (distributed warp pair enumeration — the
  corner math runs JVM-side, zero driver loops);
- ``SQL`` — engine-portable SQL text (shared by Spark SQL and the DuckDB
  correctness oracles; float literals are emitted as CAST(x AS DOUBLE)
  so both engines parse identical IEEE doubles). SQL text has no loop,
  so the iterative aea inverse raises ``ValueError`` there.

Identical expression structure across backends keeps the three
evaluations bit-comparable except for libm last-ulp differences, which
only matter where a downstream FLOOR sits within 1 ulp of an integer
(same accepted risk as the r1 web-mercator oracle). ``hypot`` and
``clip`` keep each backend's own form (numpy ``hypot``/``clip``,
Catalyst ``sqrt(x²+y²)``/``least(greatest)``, SQL ``CASE``).

All scalar per-CRS constants (n, F, ρ0, M0, series coefficients) are
computed driver-side in float64 and enter each backend as exact double
literals.
"""

from __future__ import annotations

import math

import numpy as np

# ---------------------------------------------------------------------------
# backends
# ---------------------------------------------------------------------------


class _NumpyBackend:
    name = "np"

    @staticmethod
    def lit(v):
        return float(v)

    @staticmethod
    def asval(x):
        return np.asarray(x, dtype=np.float64)

    sin = staticmethod(np.sin)
    cos = staticmethod(np.cos)
    tan = staticmethod(np.tan)
    asin = staticmethod(np.arcsin)
    atan = staticmethod(np.arctan)
    atan2 = staticmethod(np.arctan2)
    sqrt = staticmethod(np.sqrt)
    log = staticmethod(np.log)
    exp = staticmethod(np.exp)
    hypot = staticmethod(np.hypot)
    abs = staticmethod(np.abs)

    @staticmethod
    def pow(x, y):
        return np.power(x, y)

    floor = staticmethod(np.floor)

    @staticmethod
    def where(c, a, b):
        return np.where(c, a, b)

    @staticmethod
    def clip(x, lo: float, hi: float):
        return np.clip(x, lo, hi)

    @staticmethod
    def eq(a, b):
        return a == b

    @staticmethod
    def iterate(step, x0, n: int):
        for _ in range(n):
            x0 = step(x0)
        return x0


class _ColumnBackend:
    name = "col"

    def __init__(self):
        from pyspark.sql import functions as F

        self.F = F

    def lit(self, v):
        return self.F.lit(float(v))

    def asval(self, x):
        from pyspark.sql import Column

        if isinstance(x, Column):
            return x.cast("double")
        if isinstance(x, str):
            return self.F.col(x).cast("double")
        return self.F.lit(float(x))

    def sin(self, x):
        return self.F.sin(x)

    def cos(self, x):
        return self.F.cos(x)

    def tan(self, x):
        return self.F.tan(x)

    def asin(self, x):
        return self.F.asin(x)

    def atan(self, x):
        return self.F.atan(x)

    def atan2(self, y, x):
        return self.F.atan2(y, x)

    def sqrt(self, x):
        return self.F.sqrt(x)

    def log(self, x):
        return self.F.log(x)

    def exp(self, x):
        return self.F.exp(x)

    def hypot(self, x, y):
        return self.F.sqrt(x * x + y * y)

    def abs(self, x):
        return self.F.abs(x)

    def pow(self, x, y):
        return self.F.pow(x, y)

    def floor(self, x):
        return self.F.floor(x).cast("double")

    def where(self, c, a, b):
        return self.F.when(c, a).otherwise(b)

    def clip(self, x, lo: float, hi: float):
        return self.F.least(self.F.greatest(x, self.lit(lo)), self.lit(hi))

    def eq(self, a, b):
        return a == b

    def iterate(self, step, x0, n: int):
        """ONE ``aggregate(sequence(...))`` higher-order lambda — written
        once, evaluated iteratively — because unrolling multiplies the
        expression tree per step and OOMs the analyzer."""
        F = self.F
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(n)), x0.cast("double"), lambda acc, _i: step(acc)
        )


class SqlE:
    """SQL expression fragment with overloaded arithmetic. Always fully
    parenthesized; emitted text is valid in BOTH Spark SQL and DuckDB
    (SIN/COS/TAN/ASIN/ATAN/ATAN2/SQRT/LN/EXP/POWER/ABS/CASE only)."""

    __slots__ = ("s",)

    def __init__(self, s: str):
        self.s = str(s)

    def __str__(self):
        return self.s

    def __repr__(self):
        return self.s


def _se(v) -> SqlE:
    if isinstance(v, SqlE):
        return v
    return SqlE(f"CAST({float(v)!r} AS DOUBLE)")


def _binop(op):
    def fn(self, other):
        return SqlE(f"({self.s} {op} {_se(other).s})")

    return fn


def _rbinop(op):
    def fn(self, other):
        return SqlE(f"({_se(other).s} {op} {self.s})")

    return fn


for _op, _sym in (("add", "+"), ("sub", "-"), ("mul", "*"), ("truediv", "/"),
                  ("gt", ">"), ("lt", "<"), ("ge", ">="), ("le", "<=")):
    setattr(SqlE, f"__{_op}__", _binop(_sym))
for _op, _sym in (("radd", "+"), ("rsub", "-"), ("rmul", "*"), ("rtruediv", "/")):
    setattr(SqlE, f"__{_op}__", _rbinop(_sym))
SqlE.__neg__ = lambda self: SqlE(f"(- {self.s})")


class _SqlBackend:
    name = "sql"

    @staticmethod
    def lit(v):
        return _se(v)

    @staticmethod
    def asval(x):
        return x if isinstance(x, SqlE) else SqlE(str(x)) if isinstance(x, str) else _se(x)

    @staticmethod
    def _fn(name, *args):
        return SqlE(f"{name}({', '.join(_se(a).s if not isinstance(a, SqlE) else a.s for a in args)})")

    def sin(self, x):
        return self._fn("SIN", x)

    def cos(self, x):
        return self._fn("COS", x)

    def tan(self, x):
        return self._fn("TAN", x)

    def asin(self, x):
        return self._fn("ASIN", x)

    def atan(self, x):
        return self._fn("ATAN", x)

    def atan2(self, y, x):
        return self._fn("ATAN2", y, x)

    def sqrt(self, x):
        return self._fn("SQRT", x)

    def log(self, x):
        return self._fn("LN", x)

    def exp(self, x):
        return self._fn("EXP", x)

    def hypot(self, x, y):
        return self.sqrt(x * x + y * y)

    def abs(self, x):
        return self._fn("ABS", x)

    def pow(self, x, y):
        return self._fn("POWER", x, y)

    def floor(self, x):
        return self._fn("FLOOR", x)

    @staticmethod
    def where(c, a, b):
        return SqlE(f"(CASE WHEN {_se(c).s} THEN {_se(a).s} ELSE {_se(b).s} END)")

    def clip(self, x, lo: float, hi: float):
        return self.where(x > _se(hi), _se(hi), self.where(x < _se(lo), _se(lo), x))

    @staticmethod
    def eq(a, b):
        return SqlE(f"({_se(a).s} = {_se(b).s})")

    @staticmethod
    def iterate(step, x0, n: int):
        raise ValueError("SQL text has no loop: iterative inverses (aea) are unsupported")


NP = _NumpyBackend()
SQL = _SqlBackend()


def COL():
    return _ColumnBackend()  # lazy: importing pyspark only when needed


# ---------------------------------------------------------------------------
# ellipsoids & proj4 parameter parsing
# ---------------------------------------------------------------------------

# public proj ellipsoid table entries (same set as functions/crs.ELLIPSOIDS)
_ELLPS = {
    "WGS84": (6378137.0, 298.257223563),
    "GRS80": (6378137.0, 298.257222101),
    "intl": (6378388.0, 297.0),
    "clrk66": (6378206.4, None),  # defined by b
    "sphere": (6370997.0, float("inf")),
}
_ELLPS_B = {"clrk66": 6356583.8}
_DATUM_ELLPS = {"WGS84": "WGS84", "NAD83": "GRS80", "NAD27": "clrk66"}

RAD = math.pi / 180.0
DEG = 180.0 / math.pi


def parse_params(proj4: str) -> dict:
    """Generic +k=v parser; numbers become float/int, bare flags True."""
    out: dict = {}
    for tok in proj4.strip().split():
        if not tok.startswith("+"):
            continue
        tok = tok[1:]
        if "=" in tok:
            k, v = tok.split("=", 1)
            try:
                out[k] = float(v)
            except ValueError:
                out[k] = v
        else:
            out[tok] = True
    return out


def ellipsoid(params: dict) -> tuple[float, float]:
    """(a, e2) from proj4 params: +a/+b/+rf override, +ellps table,
    +datum fixup, default WGS84 (the reference's PROJ4_GEOGRAPHIC)."""
    name = params.get("ellps")
    if name is None and "datum" in params:
        name = _DATUM_ELLPS.get(params["datum"])
    a = rf = b = None
    if name is not None:
        if name not in _ELLPS:
            raise ValueError(f"unknown ellipsoid {name!r}")
        a, rf = _ELLPS[name]
        b = _ELLPS_B.get(name)
    if "a" in params:
        a = float(params["a"])
    if "rf" in params:
        rf, b = float(params["rf"]), None
    if "b" in params:
        b, rf = float(params["b"]), None
    if a is None:
        a, rf = _ELLPS["WGS84"]
    if b is not None:
        e2 = 1.0 - (b * b) / (a * a)
    elif rf is None or math.isinf(rf):
        e2 = 0.0
    else:
        f = 1.0 / rf
        e2 = f * (2.0 - f)
    return float(a), float(e2)


WGS84_A, WGS84_E2 = ellipsoid({"ellps": "WGS84"})


# ---------------------------------------------------------------------------
# scalar helpers (python float64, driver-side constants only)
# ---------------------------------------------------------------------------


def _m_s(phi: float, e2: float) -> float:
    return math.cos(phi) / math.sqrt(1.0 - e2 * math.sin(phi) ** 2)


def _t_s(phi: float, e: float) -> float:
    es = e * math.sin(phi)
    return math.tan(math.pi / 4.0 - phi / 2.0) / ((1.0 - es) / (1.0 + es)) ** (e / 2.0)


def _chi_series(e2: float) -> tuple[float, float, float, float]:
    """Snyder eq. 3-5 coefficients: conformal latitude χ → geodetic φ."""
    return (
        e2 / 2.0 + 5.0 * e2**2 / 24.0 + e2**3 / 12.0 + 13.0 * e2**4 / 360.0,
        7.0 * e2**2 / 48.0 + 29.0 * e2**3 / 240.0 + 811.0 * e2**4 / 11520.0,
        7.0 * e2**3 / 120.0 + 81.0 * e2**4 / 1120.0,
        4279.0 * e2**4 / 161280.0,
    )


def _beta_series(e2: float) -> tuple[float, float, float]:
    """Snyder eq. 3-18 coefficients: authalic latitude β → geodetic φ."""
    return (
        e2 / 3.0 + 31.0 * e2**2 / 180.0 + 517.0 * e2**3 / 5040.0,
        23.0 * e2**2 / 360.0 + 251.0 * e2**3 / 3780.0,
        761.0 * e2**3 / 45360.0,
    )


def _q_s(phi: float, e2: float) -> float:
    """Snyder eq. 3-12 (equal-area auxiliary q), scalar."""
    if e2 == 0.0:
        return 2.0 * math.sin(phi)
    e = math.sqrt(e2)
    s = math.sin(phi)
    es = e * s
    return (1.0 - e2) * (
        s / (1.0 - es * es) - (1.0 / (2.0 * e)) * math.log((1.0 - es) / (1.0 + es))
    )


def _merid_coefs(e2: float) -> tuple[float, float, float, float]:
    """Meridian arc M(φ) coefficients (Snyder eq. 3-21)."""
    return (
        1.0 - e2 / 4.0 - 3.0 * e2**2 / 64.0 - 5.0 * e2**3 / 256.0,
        3.0 * e2 / 8.0 + 3.0 * e2**2 / 32.0 + 45.0 * e2**3 / 1024.0,
        15.0 * e2**2 / 256.0 + 45.0 * e2**3 / 1024.0,
        35.0 * e2**3 / 3072.0,
    )


def _merid_s(phi: float, a: float, e2: float) -> float:
    c0, c2, c4, c6 = _merid_coefs(e2)
    return a * (
        c0 * phi - c2 * math.sin(2 * phi) + c4 * math.sin(4 * phi) - c6 * math.sin(6 * phi)
    )


_TWO_PI = 2.0 * math.pi


def _wrap_pi(be, lam):
    """Wrap an angle (radians) to (-π, π] — identical floor arithmetic in
    every backend so the three evaluations agree bit-for-bit."""
    return lam - be.lit(_TWO_PI) * be.floor(
        (lam + be.lit(math.pi)) / be.lit(_TWO_PI)
    )


def _series_eval(be, coefs: tuple, ang):
    """Σ coefs[i] · sin(2(i+1)·ang) — the χ/β/footpoint recovery series."""
    out = be.lit(coefs[0]) * be.sin(be.lit(2.0) * ang)
    for i, c in enumerate(coefs[1:], start=2):
        out = out + be.lit(c) * be.sin(be.lit(2.0 * i) * ang)
    return out


def _t_be(be, phi, e: float):
    """Backend twin of _t_s (Snyder 15-9)."""
    es = be.lit(e) * be.sin(phi)
    return be.tan(be.lit(math.pi / 4.0) - phi / be.lit(2.0)) / be.pow(
        (be.lit(1.0) - es) / (be.lit(1.0) + es), be.lit(e / 2.0)
    )


def _q_be(be, phi, e2: float):
    """Backend twin of _q_s (Snyder 3-12)."""
    s = be.sin(phi)
    if e2 == 0.0:
        return be.lit(2.0) * s
    e = math.sqrt(e2)
    es = be.lit(e) * s
    return be.lit(1.0 - e2) * (
        s / (be.lit(1.0) - es * es)
        - be.lit(1.0 / (2.0 * e)) * be.log((be.lit(1.0) - es) / (be.lit(1.0) + es))
    )


# ---------------------------------------------------------------------------
# Web Mercator (EPSG:3857) — spherical Mercator on the WGS84 semi-major
# axis, Snyder eqs. 7-1..7-4 with R = a; latitudes clamp where |y| = πR
# ---------------------------------------------------------------------------

MAX_LAT = 85.05112877980659


def webmerc_forward(be, c: dict, lon, lat):
    R = be.lit(WGS84_A)
    lat_c = be.clip(be.asval(lat), -MAX_LAT, MAX_LAT)
    x = be.asval(lon) * be.lit(RAD) * R
    y = be.log(be.tan(be.lit(math.pi / 4.0) + lat_c * be.lit(RAD) / be.lit(2.0))) * R
    return x, y


def webmerc_inverse(be, c: dict, x, y):
    R = be.lit(WGS84_A)
    lon = (be.asval(x) / R) * be.lit(DEG)
    lat = (
        be.lit(2.0) * be.atan(be.exp(be.asval(y) / R)) - be.lit(math.pi / 2.0)
    ) * be.lit(DEG)
    return lon, lat


# ---------------------------------------------------------------------------
# Albers Equal-Area Conic, ellipsoidal — Snyder eqs. 14-1..14-21, 3-16.
# Completes the reference's "project-to-local-Albers for area-true stats"
# workflow (reference zones.py --albers path; our pick rule: grid/bbox.py).
# ---------------------------------------------------------------------------


def aea_constants(params: dict) -> dict:
    # numpy scalar math (not math.*): the constants the warp and area
    # oracles were frozen against
    a, e2 = ellipsoid(params)
    phi1, phi2, phi0 = (
        np.radians(float(params.get(k, 0.0))) for k in ("lat_1", "lat_2", "lat_0")
    )
    s1, s2 = np.sin(phi1), np.sin(phi2)
    m1 = np.cos(phi1) / np.sqrt(1.0 - e2 * s1 * s1)  # Snyder 14-15
    m2 = np.cos(phi2) / np.sqrt(1.0 - e2 * s2 * s2)
    q1, q2, q0 = (_q_be(NP, phi, e2) for phi in (phi1, phi2, phi0))
    if abs(phi1 - phi2) < 1e-12:
        n = np.sin(phi1)
    else:
        n = (m1 * m1 - m2 * m2) / (q2 - q1)
    C = m1 * m1 + n * q1
    return {
        "a": a, "e2": e2, "n": float(n), "C": float(C),
        "rho0": float(a * np.sqrt(C - n * q0) / n),
        "lam0": float(np.radians(float(params.get("lon_0", 0.0)))),
        "x0": float(params.get("x_0", 0.0)),
        "y0": float(params.get("y_0", 0.0)),
    }


def aea_forward(be, c: dict, lon, lat):
    n = be.lit(c["n"])
    lam = be.asval(lon) * be.lit(RAD) - be.lit(c["lam0"])
    q = _q_be(be, be.asval(lat) * be.lit(RAD), c["e2"])
    rho = be.lit(c["a"]) * be.sqrt(be.lit(c["C"]) - n * q) / n
    theta = n * lam
    x = rho * be.sin(theta) + be.lit(c["x0"])
    y = be.lit(c["rho0"]) - rho * be.cos(theta) + be.lit(c["y0"])
    return x, y


def aea_inverse(be, c: dict, x, y):
    n, e2 = c["n"], c["e2"]
    sgn = be.lit(float(np.sign(n) or 1.0))
    xs = be.asval(x) - be.lit(c["x0"])
    ys = be.lit(c["rho0"]) - (be.asval(y) - be.lit(c["y0"]))
    rho = be.hypot(xs, ys)
    theta = be.atan2(sgn * xs, sgn * ys)
    t = rho * be.lit(n) / be.lit(c["a"])
    q = (be.lit(c["C"]) - t * t) / be.lit(n)
    lam = theta / be.lit(n) + be.lit(c["lam0"])
    phi = be.asin(be.clip(q / be.lit(2.0), -1.0, 1.0))  # exact on the sphere
    if e2 > 0.0:
        e = math.sqrt(e2)

        def step(phi):  # Snyder 3-16 fixed point for φ from q
            s = be.sin(phi)
            es = be.lit(e) * s
            one_m = be.lit(1.0) - es * es
            return phi + (one_m * one_m / (be.lit(2.0) * be.cos(phi))) * (
                q / be.lit(1.0 - e2)
                - s / one_m
                + be.lit(1.0 / (2.0 * e)) * be.log((be.lit(1.0) - es) / (be.lit(1.0) + es))
            )

        phi = be.iterate(step, phi, 6)
    return lam * be.lit(DEG), phi * be.lit(DEG)


# ---------------------------------------------------------------------------
# Lambert Conformal Conic — Snyder eqs. 15-1..15-11
# ---------------------------------------------------------------------------


def lcc_constants(params: dict) -> dict:
    a, e2 = ellipsoid(params)
    e = math.sqrt(e2)
    lat1 = float(params.get("lat_1", params.get("lat_0", 0.0)))
    lat2 = float(params.get("lat_2", lat1))
    lat0 = float(params.get("lat_0", 0.0))
    phi1, phi2, phi0 = lat1 * RAD, lat2 * RAD, lat0 * RAD
    t1, t2, t0 = _t_s(phi1, e), _t_s(phi2, e), _t_s(phi0, e)
    m1 = _m_s(phi1, e2)
    if abs(phi1 - phi2) < 1e-12:
        n = math.sin(phi1)
    else:
        m2 = _m_s(phi2, e2)
        n = (math.log(m1) - math.log(m2)) / (math.log(t1) - math.log(t2))
    F_ = m1 / (n * t1**n)
    return {
        "a": a, "e2": e2, "e": e, "n": n, "aF": a * F_,
        "rho0": a * F_ * t0**n,
        "lam0": float(params.get("lon_0", 0.0)) * RAD,
        "x0": float(params.get("x_0", 0.0)),
        "y0": float(params.get("y_0", 0.0)),
        "chi": _chi_series(e2),
    }


def lcc_forward(be, c: dict, lon, lat):
    lam = _wrap_pi(be, be.asval(lon) * be.lit(RAD) - be.lit(c["lam0"]))
    phi = be.asval(lat) * be.lit(RAD)
    t = _t_be(be, phi, c["e"])
    rho = be.lit(c["aF"]) * be.pow(t, be.lit(c["n"]))
    theta = be.lit(c["n"]) * lam
    x = rho * be.sin(theta) + be.lit(c["x0"])
    y = be.lit(c["rho0"]) - rho * be.cos(theta) + be.lit(c["y0"])
    return x, y


def lcc_inverse(be, c: dict, x, y):
    n = c["n"]
    sgn = 1.0 if n >= 0 else -1.0
    xs = be.asval(x) - be.lit(c["x0"])
    ys = be.lit(c["rho0"]) - (be.asval(y) - be.lit(c["y0"]))
    rho = be.lit(sgn) * be.sqrt(xs * xs + ys * ys)
    theta = be.atan2(be.lit(sgn) * xs, be.lit(sgn) * ys)
    t = be.pow(rho / be.lit(c["aF"]), be.lit(1.0 / n))
    chi = be.lit(math.pi / 2.0) - be.lit(2.0) * be.atan(t)
    phi = chi + _series_eval(be, c["chi"], chi)
    lam = _wrap_pi(be, theta / be.lit(n) + be.lit(c["lam0"]))
    return lam * be.lit(DEG), phi * be.lit(DEG)


# ---------------------------------------------------------------------------
# Transverse Mercator — Snyder eqs. 8-9..8-25 (series form); UTM wrapper
# ---------------------------------------------------------------------------


def tmerc_constants(params: dict) -> dict:
    a, e2 = ellipsoid(params)
    lat0 = float(params.get("lat_0", 0.0)) * RAD
    sq = math.sqrt(1.0 - e2)
    e1 = (1.0 - sq) / (1.0 + sq)
    return {
        "a": a, "e2": e2, "ep2": e2 / (1.0 - e2),
        "k0": float(params.get("k_0", params.get("k", 1.0))),
        "lam0": float(params.get("lon_0", 0.0)) * RAD,
        "x0": float(params.get("x_0", 0.0)),
        "y0": float(params.get("y_0", 0.0)),
        "M0": _merid_s(lat0, a, e2),
        "mc": _merid_coefs(e2),
        "mu_div": a * _merid_coefs(e2)[0],
        "foot": (
            3.0 * e1 / 2.0 - 27.0 * e1**3 / 32.0,
            21.0 * e1**2 / 16.0 - 55.0 * e1**4 / 32.0,
            151.0 * e1**3 / 96.0,
            1097.0 * e1**4 / 512.0,
        ),
    }


def utm_params(params: dict) -> dict:
    """+proj=utm → equivalent tmerc parameter dict (public convention)."""
    zone = int(params["zone"])
    if not 1 <= zone <= 60:
        raise ValueError(f"UTM zone must be 1..60, got {zone}")
    out = dict(params)
    out.update(
        proj="tmerc", lat_0=0.0, lon_0=float(zone * 6 - 183), k_0=0.9996,
        x_0=500000.0, y_0=10000000.0 if params.get("south") else 0.0,
    )
    return out


def tmerc_forward(be, c: dict, lon, lat):
    a, e2, ep2, k0 = c["a"], c["e2"], c["ep2"], c["k0"]
    lam = _wrap_pi(be, be.asval(lon) * be.lit(RAD) - be.lit(c["lam0"]))
    phi = be.asval(lat) * be.lit(RAD)
    s, co = be.sin(phi), be.cos(phi)
    tn = s / co
    N = be.lit(a) / be.sqrt(be.lit(1.0) - be.lit(e2) * s * s)
    T = tn * tn
    C = be.lit(ep2) * co * co
    A = lam * co
    c0, c2, c4, c6 = c["mc"]
    M = be.lit(a) * (
        be.lit(c0) * phi
        - be.lit(c2) * be.sin(be.lit(2.0) * phi)
        + be.lit(c4) * be.sin(be.lit(4.0) * phi)
        - be.lit(c6) * be.sin(be.lit(6.0) * phi)
    )
    A2, A3 = A * A, A * A * A
    x = be.lit(k0) * N * (
        A
        + (be.lit(1.0) - T + C) * A3 / be.lit(6.0)
        + (be.lit(5.0) - be.lit(18.0) * T + T * T + be.lit(72.0) * C - be.lit(58.0 * ep2))
        * A3 * A2 / be.lit(120.0)
    ) + be.lit(c["x0"])
    y = be.lit(k0) * (
        M - be.lit(c["M0"])
        + N * tn * (
            A2 / be.lit(2.0)
            + (be.lit(5.0) - T + be.lit(9.0) * C + be.lit(4.0) * C * C)
            * A2 * A2 / be.lit(24.0)
            + (be.lit(61.0) - be.lit(58.0) * T + T * T + be.lit(600.0) * C - be.lit(330.0 * ep2))
            * A2 * A2 * A2 / be.lit(720.0)
        )
    ) + be.lit(c["y0"])
    return x, y


def tmerc_inverse(be, c: dict, x, y):
    a, e2, ep2, k0 = c["a"], c["e2"], c["ep2"], c["k0"]
    xs = be.asval(x) - be.lit(c["x0"])
    M = be.lit(c["M0"]) + (be.asval(y) - be.lit(c["y0"])) / be.lit(k0)
    mu = M / be.lit(c["mu_div"])
    phi1 = mu + _series_eval(be, c["foot"], mu)
    s1, co1 = be.sin(phi1), be.cos(phi1)
    t1 = s1 / co1
    w = be.lit(1.0) - be.lit(e2) * s1 * s1
    N1 = be.lit(a) / be.sqrt(w)
    R1 = be.lit(a * (1.0 - e2)) / (w * be.sqrt(w))
    T1 = t1 * t1
    C1 = be.lit(ep2) * co1 * co1
    D = xs / (N1 * be.lit(k0))
    D2 = D * D
    phi = phi1 - (N1 * t1 / R1) * (
        D2 / be.lit(2.0)
        - (be.lit(5.0) + be.lit(3.0) * T1 + be.lit(10.0) * C1
           - be.lit(4.0) * C1 * C1 - be.lit(9.0 * ep2)) * D2 * D2 / be.lit(24.0)
        + (be.lit(61.0) + be.lit(90.0) * T1 + be.lit(298.0) * C1
           + be.lit(45.0) * T1 * T1 - be.lit(252.0 * ep2)
           - be.lit(3.0) * C1 * C1) * D2 * D2 * D2 / be.lit(720.0)
    )
    lam = be.lit(c["lam0"]) + (
        D
        - (be.lit(1.0) + be.lit(2.0) * T1 + C1) * D2 * D / be.lit(6.0)
        + (be.lit(5.0) - be.lit(2.0) * C1 + be.lit(28.0) * T1
           - be.lit(3.0) * C1 * C1 + be.lit(8.0 * ep2)
           + be.lit(24.0) * T1 * T1) * D2 * D2 * D / be.lit(120.0)
    ) / co1
    return _wrap_pi(be, lam) * be.lit(DEG), phi * be.lit(DEG)


# ---------------------------------------------------------------------------
# Polar Stereographic — Snyder eqs. 21-33..21-41 (ellipsoidal, polar aspect)
# ---------------------------------------------------------------------------


def stere_constants(params: dict) -> dict:
    a, e2 = ellipsoid(params)
    e = math.sqrt(e2)
    lat0 = float(params.get("lat_0", 90.0))
    if abs(lat0) != 90.0:
        raise ValueError(
            "stere: only the polar aspect (lat_0=±90) is implemented — the "
            "reference's CF mapping is polar_stereographic (crs.py:58)"
        )
    south = lat0 < 0
    lat_ts = params.get("lat_ts")
    if lat_ts is not None and abs(float(lat_ts)) != 90.0:
        phic = abs(float(lat_ts)) * RAD
        rho_f = a * _m_s(phic, e2) / _t_s(phic, e)  # Snyder 21-34
    else:
        k0 = float(params.get("k_0", params.get("k", 1.0)))
        rho_f = 2.0 * a * k0 / math.sqrt((1.0 + e) ** (1.0 + e) * (1.0 - e) ** (1.0 - e))
    return {
        "e": e, "south": south, "rho_f": rho_f,
        "lam0": float(params.get("lon_0", 0.0)) * RAD,
        "x0": float(params.get("x_0", 0.0)),
        "y0": float(params.get("y_0", 0.0)),
        "chi": _chi_series(e2),
    }


def stere_forward(be, c: dict, lon, lat):
    sgn = -1.0 if c["south"] else 1.0
    lam = _wrap_pi(be, be.asval(lon) * be.lit(RAD) - be.lit(c["lam0"]))
    phi = be.asval(lat) * be.lit(RAD) * be.lit(sgn)  # south: mirror to north
    rho = be.lit(c["rho_f"]) * _t_be(be, phi, c["e"])
    x = rho * be.sin(lam) + be.lit(c["x0"])
    # north: y = -ρ·cosλ'; south mirrors y (Snyder: reverse the signs of
    # φ, λ, x, y — composing the mirrors leaves x unchanged, flips y)
    y = be.lit(sgn) * (-(rho * be.cos(lam))) + be.lit(c["y0"])
    return x, y


def stere_inverse(be, c: dict, x, y):
    sgn = -1.0 if c["south"] else 1.0
    xs = be.asval(x) - be.lit(c["x0"])
    ys = (be.asval(y) - be.lit(c["y0"])) * be.lit(sgn)  # mirror south → north
    rho = be.sqrt(xs * xs + ys * ys)
    t = rho / be.lit(c["rho_f"])
    chi = be.lit(math.pi / 2.0) - be.lit(2.0) * be.atan(t)
    phi = (chi + _series_eval(be, c["chi"], chi)) * be.lit(sgn)
    lam = _wrap_pi(be, be.lit(c["lam0"]) + be.atan2(xs, -(ys)))
    return lam * be.lit(DEG), phi * be.lit(DEG)


# ---------------------------------------------------------------------------
# Lambert Azimuthal Equal-Area — Snyder eqs. 24-3..24-16 + 3-18
# (oblique/equatorial aspect; polar aspect unsupported → raise)
# ---------------------------------------------------------------------------


def laea_constants(params: dict) -> dict:
    a, e2 = ellipsoid(params)
    lat0 = float(params.get("lat_0", 0.0))
    if abs(lat0) >= 89.999999:
        raise ValueError("laea: polar aspect (lat_0=±90) not implemented")
    phi1 = lat0 * RAD
    qp = _q_s(math.pi / 2.0, e2)
    q1 = _q_s(phi1, e2)
    beta1 = math.asin(min(max(q1 / qp, -1.0), 1.0))
    Rq = a * math.sqrt(qp / 2.0)
    m1 = _m_s(phi1, e2)
    D = a * m1 / (Rq * math.cos(beta1))
    return {
        "a": a, "e2": e2, "qp": qp, "Rq": Rq, "D": D,
        "sb1": math.sin(beta1), "cb1": math.cos(beta1),
        "lat0": lat0,
        "lam0": float(params.get("lon_0", 0.0)) * RAD,
        "x0": float(params.get("x_0", 0.0)),
        "y0": float(params.get("y_0", 0.0)),
        "beta": _beta_series(e2),
    }


def laea_forward(be, c: dict, lon, lat):
    lam = _wrap_pi(be, be.asval(lon) * be.lit(RAD) - be.lit(c["lam0"]))
    phi = be.asval(lat) * be.lit(RAD)
    q = _q_be(be, phi, c["e2"])
    sb = q / be.lit(c["qp"])  # sin β
    cb = be.sqrt(be.lit(1.0) - sb * sb)
    B = be.lit(c["Rq"]) * be.sqrt(
        be.lit(2.0)
        / (be.lit(1.0) + be.lit(c["sb1"]) * sb + be.lit(c["cb1"]) * cb * be.cos(lam))
    )
    x = B * be.lit(c["D"]) * cb * be.sin(lam) + be.lit(c["x0"])
    y = (B / be.lit(c["D"])) * (
        be.lit(c["cb1"]) * sb - be.lit(c["sb1"]) * cb * be.cos(lam)
    ) + be.lit(c["y0"])
    return x, y


def laea_inverse(be, c: dict, x, y):
    D, Rq = c["D"], c["Rq"]
    xs = be.asval(x) - be.lit(c["x0"])
    ys = be.asval(y) - be.lit(c["y0"])
    xD = xs / be.lit(D)
    yD = ys * be.lit(D)
    rho = be.sqrt(xD * xD + yD * yD)
    at_origin = be.eq(rho, be.lit(0.0))
    rho_s = be.where(at_origin, be.lit(1.0), rho)  # div-by-zero guard
    ce = be.lit(2.0) * be.asin(rho / be.lit(2.0 * Rq))
    sce, cce = be.sin(ce), be.cos(ce)
    sb = cce * be.lit(c["sb1"]) + (yD * sce * be.lit(c["cb1"])) / rho_s
    beta = be.asin(sb)
    lam = be.lit(c["lam0"]) + be.atan2(
        xs * sce,
        be.lit(D * c["cb1"]) * rho * cce - be.lit(D * D * c["sb1"]) * ys * sce,
    )
    phi = beta + _series_eval(be, c["beta"], beta)
    lam = _wrap_pi(be, lam)
    lon_out = be.where(at_origin, be.lit(c["lam0"] * DEG), lam * be.lit(DEG))
    lat_out = be.where(at_origin, be.lit(c["lat0"]), phi * be.lit(DEG))
    return lon_out, lat_out


# ---------------------------------------------------------------------------
# family registry
# ---------------------------------------------------------------------------

FAMILIES = {
    "EPSG:3857": (lambda params: {}, webmerc_forward, webmerc_inverse),
    "aea": (aea_constants, aea_forward, aea_inverse),
    "lcc": (lcc_constants, lcc_forward, lcc_inverse),
    "tmerc": (tmerc_constants, tmerc_forward, tmerc_inverse),
    "stere": (stere_constants, stere_forward, stere_inverse),
    "laea": (laea_constants, laea_forward, laea_inverse),
}


def constants_for(crs: str) -> tuple[str, dict]:
    """(family, constants) for EPSG:3857 or a supported proj4 string."""
    p = parse_params(crs)
    fam = p.get("proj", crs)  # "EPSG:3857" has no +params: it is its own key
    if fam == "utm":
        p, fam = utm_params(p), "tmerc"
    if fam not in FAMILIES:
        raise ValueError(f"unsupported projection family: {fam!r} in {crs!r}")
    return fam, FAMILIES[fam][0](p)


def forward(be, crs: str, lon, lat):
    fam, c = constants_for(crs)
    return FAMILIES[fam][1](be, c, lon, lat)


def inverse(be, crs: str, x, y):
    fam, c = constants_for(crs)
    return FAMILIES[fam][2](be, c, x, y)
