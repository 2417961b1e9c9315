"""qcell — hierarchical Z-order (Morton) spatial cell index.

Plays the H3/S2 role required by the north rule (no h3/s2 libs in the
environment, so this is from scratch). A cell id packs::

    cell = (morton(ix, iy) << 5) | res

where at resolution ``res`` the world (lon in [-180,180), lat in [-90,90))
is divided into 2^res x 2^res equal-angle cells; ``ix`` indexes longitude,
``iy`` latitude, and ``morton`` interleaves their bits (ix bit b -> Morton
bit 2b, iy bit b -> Morton bit 2b+1). Properties used by the engine:

- *hierarchy*: ``parent(cell)`` is ``morton >> 2`` at ``res-1`` — cheap
  rollups and multi-resolution covering indexes.
- *locality*: Z-order keeps spatially-near cells numerically near, so
  range scans / Parquet min-max skipping prune well when tables are
  sorted or partitioned by cell.
- *SQL-expressible*: the encode is pure integer arithmetic, so the hot
  path runs as Catalyst expressions (whole-stage codegen, no Python) —
  :func:`ix_sql_expr` / :func:`iy_sql_expr` into coordinate columns, then
  :func:`morton_fast_sql` (Spark) or the per-bit :func:`morton_sql_expr`
  (oracle SQL). The numpy forms below are for tile-grain UDFs and tests.

Everything here is deterministic and engine-agnostic: the identical
formula is used for the Spark column expression and the DuckDB oracle SQL.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 29  # 2*29 = 58 morton bits + 5 res bits = 63 bits (sign-safe int64)


# ---------------------------------------------------------------------------
# scalar / numpy encode-decode
# ---------------------------------------------------------------------------

def _interleave_u32(v: np.ndarray) -> np.ndarray:
    """Spread the low 30 bits of v so bit b lands at bit 2b (uint64 out)."""
    x = v.astype(np.uint64)
    x &= np.uint64((1 << 30) - 1)
    x = (x | (x << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    x = (x | (x << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    x = (x | (x << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    x = (x | (x << np.uint64(2))) & np.uint64(0x3333333333333333)
    x = (x | (x << np.uint64(1))) & np.uint64(0x5555555555555555)
    return x


def _deinterleave_u64(m: np.ndarray) -> np.ndarray:
    x = m.astype(np.uint64) & np.uint64(0x5555555555555555)
    x = (x | (x >> np.uint64(1))) & np.uint64(0x3333333333333333)
    x = (x | (x >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    x = (x | (x >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    x = (x | (x >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    x = (x | (x >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return x


def lonlat_to_xy(lon, lat, res: int):
    """(lon, lat) -> integer cell coordinates at ``res`` (clamped)."""
    n = 1 << res
    ix = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n)
    iy = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / 180.0 * n)
    ix = np.clip(ix, 0, n - 1).astype(np.int64)
    iy = np.clip(iy, 0, n - 1).astype(np.int64)
    return ix, iy


def xy_to_cell(ix, iy, res: int):
    """Integer cell coords -> packed cell id (int64)."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    m = _interleave_u32(np.asarray(ix)) | (_interleave_u32(np.asarray(iy)) << np.uint64(1))
    out = (m << np.uint64(5)) | np.uint64(res)
    return out.astype(np.int64)


def latlon_to_cell(lat, lon, res: int):
    """Vectorized (lat, lon) -> cell id. Scalars in, scalar out."""
    ix, iy = lonlat_to_xy(lon, lat, res)
    cell = xy_to_cell(ix, iy, res)
    if np.isscalar(lat) or (isinstance(lat, np.ndarray) and lat.ndim == 0):
        return int(cell)
    return cell


def cell_to_res(cell) -> np.ndarray:
    return (np.asarray(cell).astype(np.uint64) & np.uint64(31)).astype(np.int64)


def cell_to_xy(cell):
    c = np.asarray(cell).astype(np.uint64)
    m = c >> np.uint64(5)
    ix = _deinterleave_u64(m)
    iy = _deinterleave_u64(m >> np.uint64(1))
    return ix.astype(np.int64), iy.astype(np.int64)


def cell_to_latlon(cell):
    """Cell id -> (lat, lon) of the cell's lower-left corner and its span."""
    res = cell_to_res(cell)
    ix, iy = cell_to_xy(cell)
    n = (np.int64(1) << res).astype(np.float64)
    lon = ix / n * 360.0 - 180.0
    lat = iy / n * 180.0 - 90.0
    return lat, lon, 180.0 / n, 360.0 / n


def parent(cell, steps: int = 1):
    c = np.asarray(cell).astype(np.uint64)
    res = (c & np.uint64(31)).astype(np.int64)
    new_res = res - steps
    if np.any(new_res < 0):
        raise ValueError("parent below resolution 0")
    m = (c >> np.uint64(5)) >> np.uint64(2 * steps)
    out = (m << np.uint64(5)) | new_res.astype(np.uint64)
    out = out.astype(np.int64)
    return int(out) if np.isscalar(cell) else out


def children(cell: int) -> list[int]:
    c = np.uint64(cell)
    res = int(c & np.uint64(31))
    if res >= MAX_RES:
        raise ValueError("children above max resolution")
    m = int(c >> np.uint64(5)) << 2
    return [((m | q) << 5) | (res + 1) for q in range(4)]


def neighbors(cell: int, wrap_lon: bool = True) -> list[int]:
    """8-neighborhood at the same resolution (lon wraps, lat clamps)."""
    res = int(cell_to_res(cell))
    n = 1 << res
    ix, iy = cell_to_xy(cell)
    ix, iy = int(ix), int(iy)
    out = []
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            if dx == 0 and dy == 0:
                continue
            jx, jy = ix + dx, iy + dy
            if jy < 0 or jy >= n:
                continue
            if jx < 0 or jx >= n:
                if not wrap_lon:
                    continue
                jx %= n
            out.append(int(xy_to_cell(np.int64(jx), np.int64(jy), res)))
    return out


def covering_cells(xmin: float, ymin: float, xmax: float, ymax: float,
                   res: int, limit: int = 65536) -> np.ndarray:
    """All cells at ``res`` whose box intersects the (lon/lat) bbox.

    Used to build the broadcast covering index for polygons (SURVEY.md J1):
    the vector side carries ``covering: array<cell>`` and the join is an
    equi-join on cell, turning PIP into broadcast-hash + exact refine.
    """
    ix0, iy0 = lonlat_to_xy(xmin, ymin, res)
    ix1, iy1 = lonlat_to_xy(np.nextafter(xmax, -np.inf), np.nextafter(ymax, -np.inf), res)
    ix1 = max(int(ix1), int(ix0))
    iy1 = max(int(iy1), int(iy0))
    count = (ix1 - int(ix0) + 1) * (iy1 - int(iy0) + 1)
    if count > limit:
        raise ValueError(
            f"covering of {count} cells exceeds limit={limit}; lower res "
            f"(use coarser resolution for large geometries)"
        )
    ixs = np.arange(int(ix0), ix1 + 1, dtype=np.int64)
    iys = np.arange(int(iy0), iy1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(ixs, iys)
    return xy_to_cell(gx.ravel(), gy.ravel(), res)


# ---------------------------------------------------------------------------
# SQL / Catalyst expression builders (identical formula, JVM-side)
# ---------------------------------------------------------------------------

def ix_sql_expr(lon_col: str, res: int) -> str:
    """SQL for the longitude cell coordinate (identical in Spark & DuckDB).

    Integer literals only: decimal-point literals parse as DECIMAL in both
    engines with engine-specific arithmetic; int+double promotes to double
    identically, keeping IEEE parity with the numpy path.
    """
    n = 1 << res
    return (
        f"CAST(LEAST(GREATEST(FLOOR(({lon_col} + 180) / 360 * {n}), 0), {n - 1}) AS BIGINT)"
    )


def iy_sql_expr(lat_col: str, res: int) -> str:
    n = 1 << res
    return (
        f"CAST(LEAST(GREATEST(FLOOR(({lat_col} + 90) / 180 * {n}), 0), {n - 1}) AS BIGINT)"
    )


def morton_sql_expr(ix_col: str, iy_col: str, res: int) -> str:
    """SQL Morton interleave over precomputed integer coords.

    Bit b of ix contributes 2^(2b); bit b of iy contributes 2^(2b+1).
    Plain 64-bit integer arithmetic -> runs identically in Spark SQL
    (whole-stage codegen, no Python worker on the 100 TB hot path) and in
    the DuckDB correctness oracle.
    """
    terms = []
    for b in range(res):
        terms.append(f"((({ix_col} >> {b}) & 1) * {1 << (2 * b + 5)})")
        terms.append(f"((({iy_col} >> {b}) & 1) * {1 << (2 * b + 6)})")
    morton = " + ".join(terms) if terms else "0"
    return f"({morton} + {res})"


def spread_bits_sql(v_col: str) -> str:
    """Bit-trick spread (bit b of v → bit 2b) as one SQL expression —
    the `_interleave_u32` magic-mask ladder in Spark SQL integer ops.

    Spark-side ONLY (the DuckDB oracle keeps the per-bit
    :func:`morton_sql_expr` text, which is fingerprint-frozen).
    ~10 integer ops replace 2·res AND/shift/multiply terms; exact parity
    with the per-bit form is locked by tests/test_cells.py. All
    intermediates stay below 2^61 for res ≤ 29 → sign-safe int64.
    Function-form shifts (`shiftleft`), not the `<<` operator: Spark's
    parser rejects shift OPERATORS inside `array(...)` argument lists
    (the `>`/`<` tokens collide with the generic-type grammar).
    """
    x = f"({v_col})"
    for sh, m in (
        (16, 0x0000FFFF0000FFFF),
        (8, 0x00FF00FF00FF00FF),
        (4, 0x0F0F0F0F0F0F0F0F),
        (2, 0x3333333333333333),
        (1, 0x5555555555555555),
    ):
        x = f"(({x} | shiftleft({x}, {sh})) & {m})"
    return x


def morton_fast_sql(ix_col: str, iy_col: str, res: int) -> str:
    """Same value as :func:`morton_sql_expr` via the spread-bits ladder.

    ``ix_col`` / ``iy_col`` should be plain column references (each is
    textually duplicated by the ladder; an inline subexpression would
    blow up the tree — compute coords into columns first).
    """
    return (
        f"(({spread_bits_sql(ix_col)} + ({spread_bits_sql(iy_col)} * 2))"
        f" * 32 + {res})"
    )
