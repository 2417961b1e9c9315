"""qcell index invariants + SQL-twin equivalence (via DuckDB)."""

import duckdb
import numpy as np

from trefoil_spark.grid import cells


def test_roundtrip_scalar():
    for res in (0, 1, 5, 12, 29):
        c = cells.latlon_to_cell(35.0, -117.0, res)
        assert int(cells.cell_to_res(c)) == res
        lat, lon, dlat, dlon = cells.cell_to_latlon(c)
        assert lat <= 35.0 < lat + dlat
        assert lon <= -117.0 < lon + dlon


def test_roundtrip_vectorized():
    rng = np.random.default_rng(42)
    lat = rng.uniform(-89.9, 89.9, 5000)
    lon = rng.uniform(-180, 179.9, 5000)
    c = cells.latlon_to_cell(lat, lon, 15)
    ix, iy = cells.cell_to_xy(c)
    ix2, iy2 = cells.lonlat_to_xy(lon, lat, 15)
    assert np.array_equal(ix, ix2)
    assert np.array_equal(iy, iy2)


def test_parent_children():
    c = cells.latlon_to_cell(35.0, -117.0, 10)
    p = cells.parent(c)
    assert int(cells.cell_to_res(p)) == 9
    assert c in cells.children(p)
    # parent of every child is p
    for ch in cells.children(p):
        assert cells.parent(ch) == p


def test_neighbors():
    c = cells.latlon_to_cell(35.0, -117.0, 10)
    ns = cells.neighbors(c)
    assert len(ns) == 8
    ix, iy = cells.cell_to_xy(c)
    for nb in ns:
        jx, jy = cells.cell_to_xy(nb)
        assert max(abs(int(jx) - int(ix)), abs(int(jy) - int(iy))) == 1
    # corner-of-world clamps lat, wraps lon
    corner = cells.xy_to_cell(np.int64(0), np.int64(0), 4)
    ns = cells.neighbors(int(corner))
    assert len(ns) == 5  # 3 lat-clamped away, lon wraps


def test_z_order_locality():
    # children of one parent are contiguous in cell id (morton property)
    p = cells.latlon_to_cell(10.0, 10.0, 8)
    ch = sorted(cells.children(int(p)))
    assert ch[-1] - ch[0] == 3 << 5  # morton occupies bits 5+; res bits equal


def test_covering_cells():
    cov = cells.covering_cells(-117.5, 33.5, -115.8, 35.2, 7)
    assert len(cov) > 0
    lat, lon, dlat, dlon = cells.cell_to_latlon(cov)
    # each covering cell's box intersects the query bbox
    assert np.all(lon < -115.8) and np.all(lon + dlon > -117.5)
    assert np.all(lat < 35.2) and np.all(lat + dlat > 33.5)
    # a point inside the bbox maps to a covering cell
    c = cells.latlon_to_cell(34.0, -116.5, 7)
    assert c in set(cov.tolist())


def test_sql_twin_matches_numpy():
    """The SQL formula (used for Spark + DuckDB oracle) == numpy encode."""
    rng = np.random.default_rng(7)
    lat = rng.uniform(-90, 90, 2000)
    lon = rng.uniform(-180, 180, 2000)
    res = 8
    expected = cells.latlon_to_cell(lat, lon, res)

    con = duckdb.connect()
    con.register("pts", __import__("pandas").DataFrame({"lat": lat, "lon": lon}))
    ix = cells.ix_sql_expr("lon", res)
    iy = cells.iy_sql_expr("lat", res)
    sql = f"""
        WITH q AS (SELECT {ix} AS ix, {iy} AS iy FROM pts)
        SELECT {cells.morton_sql_expr('ix', 'iy', res)} AS cell FROM q
    """
    got = con.execute(sql).fetchnumpy()["cell"]
    assert np.array_equal(got, expected)


def test_fast_morton_matches_numpy():
    """r8: the Spark-side spread-bits morton builder (cells.morton_fast_sql
    over coordinate columns) is value-identical to the numpy encode (== the
    fingerprint-frozen per-bit SQL form, by test_sql_twin_matches_numpy) at
    every resolution the engine uses (6 = knn grid, 7 = pages key, 9/14 =
    pip_join coarse/fine, 24 = max fine). Evaluated through Spark in
    tests/test_pip_join_spark.py; here the pure-python builder is checked
    for well-formedness."""
    for res in (6, 7, 9, 14, 24):
        fast = cells.morton_fast_sql("_qx", "_qy", res)
        assert fast.count("(") == fast.count(")")
        assert f"* 32 + {res})" in fast
