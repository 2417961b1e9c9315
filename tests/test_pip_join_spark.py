"""End-to-end spine test: pages build → cell assign → PIP join → zonal agg,
cross-checked against DuckDB running the SAME generated SQL formulas."""

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from trefoil_spark.geometry import Polygon, pip_sql_expr, points_in_rings
from trefoil_spark.operators import pip_join as pip_join_mod
from trefoil_spark.operators.pip_join import (
    BOUNDARY,
    _covering_rows,
    build_covering_index,
    pip_join,
)
from trefoil_spark.operators.zonal import zonal_statistics
from trefoil_spark.sources.pages import build_pages, build_pages_scaled, pages_cte_sql
from trefoil_spark.sources.zones import ZONE_LAYER


@pytest.fixture(scope="module")
def pages(spark, sf_dir):
    return build_pages(spark, sf_dir).cache()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    con.execute(f"CREATE VIEW pages AS {pages_cte_sql('documents')}")
    return con


def test_pages_derivation_matches_oracle(pages, duck):
    got = (
        pages.select("doc_id", "url", "warc_epoch", "lat", "lon", "cell")
        .orderBy("doc_id")
        .toPandas()
    )
    want = duck.execute(
        "SELECT doc_id, url, warc_epoch, lat, lon, cell FROM pages ORDER BY doc_id"
    ).df()
    # bit-exact: same integer arithmetic + same IEEE double expression tree
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_cell_col_matches_sql_and_numpy(pages, duck):
    import numpy as np

    from trefoil_spark.grid import cells

    got = pages.select("doc_id", "lat", "lon", "cell").orderBy("doc_id").toPandas()
    expected = cells.latlon_to_cell(
        got["lat"].to_numpy(), got["lon"].to_numpy(), 7
    )
    assert np.array_equal(got["cell"].to_numpy(), expected)


def test_covering_rows_slot_arithmetic():
    """Every fine child lands in its parent's array at slot
    (c >> 5) & 1023, and every slot of every array is filled (no Spark)."""
    index = build_covering_index(ZONE_LAYER)
    rows = {c: (r1, fine) for c, r1, fine, _ in _covering_rows(index)}
    assert len(rows) == len(index["coarse"])
    filled = {}
    for c, r in index["fine"]:
        parent = ((c >> 5) >> 10 << 5) + index["res"]
        r1, fine = rows[parent]
        assert r1 == BOUNDARY and len(fine) == 1024
        slot = (c >> 5) & 1023
        assert fine[slot] == (BOUNDARY if r is None else r)
        filled.setdefault(parent, set()).add(slot)
    for c, _, r in index["coarse"]:
        r1, fine = rows[c]
        if r is None:
            assert filled[c] == set(range(1024))
        else:
            assert (r1, fine) == (r, None)
    assert len(filled) == 94 and len(index["fine"]) == 94 * 1024


def _star_layer() -> list[Polygon]:
    """A 500-vertex star with a rectangular hole and a few horizontal
    edges, and a higher fid overlapping its east arms (burn order)."""
    cx, cy = -100.1234567, 40.4567891
    ang = np.arange(500) * (2 * np.pi / 500) + 0.0123
    rad = np.where(np.arange(500) % 2 == 0, 2.01234, 1.20987)
    x, y = cx + rad * np.cos(ang), cy + 0.8 * rad * np.sin(ang)
    y[1:500:50] = y[0:500:50]  # ten horizontal edges
    hole = [(cx - 0.31234, cy - 0.21234), (cx + 0.29876, cy - 0.21234),
            (cx + 0.29876, cy + 0.18765), (cx - 0.31234, cy + 0.18765)]
    over = [(cx + 0.51234, cy - 1.01234), (cx + 2.61234, cy - 1.01234),
            (cx + 2.61234, cy + 0.71234), (cx + 1.31234, cy + 1.41234)]
    return [
        Polygon([np.column_stack([x, y]), hole], value="star"),
        Polygon([over], value="over"),
    ]


def _star_points(layer):
    """Every vertex, edge midpoint and quarter point of each horizontal
    edge, NULL coordinates, and random points over the layer."""
    xs, ys = [], []
    for poly in layer:
        for r in poly.rings:
            nxt = np.roll(r, -1, axis=0)
            flat = r[:, 1] == nxt[:, 1]
            xs += [r[:, 0], (r[:, 0] + nxt[:, 0]) / 2]
            ys += [r[:, 1], (r[:, 1] + nxt[:, 1]) / 2]
            for t in (0.25, 0.75):
                xs.append(r[flat, 0] + t * (nxt[flat, 0] - r[flat, 0]))
                ys.append(r[flat, 1])
    rng = np.random.default_rng(7)
    xs.append(rng.uniform(-102.6, -97.2, 20000))
    ys.append(rng.uniform(38.6, 42.3, 20000))
    lon, lat = np.concatenate(xs), np.concatenate(ys)
    # burn order, as the engine resolves it: the highest containing fid
    want = np.full(lon.size, -1)
    for fid in reversed(range(len(layer))):
        hit = (want < 0) & points_in_rings(lon, lat, layer[fid].rings)
        want[hit] = fid
    rows = [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(lon, lat))]
    n = len(rows)
    rows += [(n, None, 40.0), (n + 1, -100.0, None), (n + 2, None, None)]
    want = [None if w < 0 else int(w) for w in want] + [None] * 3
    return rows, want


@pytest.fixture(scope="module")
def star():
    layer = _star_layer()
    rows, want = _star_points(layer)
    return layer, rows, want


def _check_star(spark, layer, rows, want, how, lon="lon", lat="lat"):
    points = spark.createDataFrame(rows, f"id bigint, {lon} double, {lat} double")
    got = pip_join(points, layer, lon_col=lon, lat_col=lat, how=how)
    got = got.select("id", "feature_id", "zone_value").orderBy("id").collect()
    expect = [(i, w) for i, w in enumerate(want) if how == "left" or w is not None]
    assert [(r.id, r.feature_id) for r in got] == expect
    assert [r.zone_value for r in got] == [
        None if w is None else layer[w].value for _, w in expect
    ]


@pytest.mark.parametrize("how", ["inner", "left"])
def test_pip_join_exact_on_complex_layer(spark, star, how):
    """Row by row equal to burn-order points_in_rings, with points on
    vertices, edge midpoints and horizontal edges, under the session's
    default ANSI setting."""
    layer, rows, want = star
    assert 0 < sum(w == 1 for w in want) < sum(w is not None for w in want)
    _check_star(spark, layer, rows, want, how)


def test_pip_join_coordinate_columns_named_like_lambda_variables(spark, star):
    layer, rows, want = star
    _check_star(spark, layer, rows, want, "left", lon="p", lat="s")


def _edge_count(rows) -> int:
    return sum(len(e) for *_, cand in rows if cand for _, e in cand)


def test_edge_pruning_is_exact_and_shrinks_the_table(spark, star, monkeypatch):
    """Pruning each boundary cell's edges to its latitude band gives the
    same answers as carrying every edge, with several times fewer edges."""
    layer, rows, want = star
    index = build_covering_index(layer)
    pruned = _edge_count(_covering_rows(index))
    _check_star(spark, layer, rows, want, "left")
    monkeypatch.setattr(
        pip_join_mod, "_lat_band",
        lambda c, res, fine_res: (np.full(len(c), -np.inf), np.full(len(c), np.inf)),
    )
    full = _edge_count(_covering_rows(index))
    assert full >= 4 * pruned > 0, (full, pruned)

    def evict():  # the next pip_join rebuilds the session's table
        memo = index.pop("_session_df", None)
        if memo is not None:
            memo[1].unpersist()

    evict()
    try:
        _check_star(spark, layer, rows, want, "left")
    finally:
        evict()


@pytest.mark.parametrize("how", ["inner", "left"])
def test_pip_join_matches_oracle(pages, duck, how):
    joined = pip_join(pages, ZONE_LAYER, how=how)
    got = (
        joined.select("doc_id", "zone_value").orderBy("doc_id").toPandas()
    )

    # oracle: burn order = reversed CASE over the same generated PIP SQL
    cases = []
    for fid in reversed(range(len(ZONE_LAYER))):
        poly = ZONE_LAYER[fid]
        cases.append(f"WHEN {pip_sql_expr('lon', 'lat', poly)} THEN '{poly.value}'")
    want = duck.execute(
        f"""
        SELECT doc_id, CASE {' '.join(cases)} END AS zone_value
        FROM pages
        ORDER BY doc_id
        """
    ).df()
    if how == "inner":
        want = want[want["zone_value"].notna()].reset_index(drop=True)
        pd.testing.assert_frame_equal(got, want, check_dtype=False)
    else:
        # every input point exactly once; NULL exactly where no polygon
        # contains it, the burn-order winner everywhere else
        assert got["doc_id"].is_unique
        assert got["doc_id"].tolist() == want["doc_id"].tolist()
        miss = want["zone_value"].isna()
        assert got["zone_value"].isna().tolist() == miss.tolist()
        assert 0 < miss.sum() < len(want)
        assert got["zone_value"][~miss].tolist() == want["zone_value"][~miss].tolist()
    # urban polygon overrides east (burn order) — hot cluster present
    assert (got["zone_value"] == "urban").sum() > 0


def test_text_byte_identity_through_shuffles(pages, spark, sf_dir):
    """input_hint invariant: byte-identical text per url through every
    shuffle stage (join + repartition + groupBy path)."""
    joined = pip_join(pages, ZONE_LAYER)
    shuffled = joined.repartition(8, "zone_value")
    after = {
        r["url"]: r["text"]
        for r in shuffled.select("url", "text").collect()
    }
    before = {r["url"]: r["text"] for r in pages.select("url", "text").collect()}
    assert after  # non-empty
    for url, text in after.items():
        assert before[url] == text


def test_zonal_statistics_matches_oracle(pages, duck):
    joined = pip_join(pages, ZONE_LAYER).withColumn(
        "n_chars", F.length("text")
    )
    got = (
        zonal_statistics(joined, "zone_value", "n_chars")
        .orderBy("zone_value")
        .toPandas()
    )

    cases = []
    for fid in reversed(range(len(ZONE_LAYER))):
        poly = ZONE_LAYER[fid]
        cases.append(f"WHEN {pip_sql_expr('lon', 'lat', poly)} THEN '{poly.value}'")
    want = duck.execute(
        f"""
        WITH z AS (
            SELECT CASE {' '.join(cases)} END AS zone_value, LENGTH(text) AS n_chars
            FROM pages
        )
        SELECT zone_value,
               SUM(CAST(n_chars AS DOUBLE)) / COUNT(n_chars) AS mean,
               MIN(n_chars) AS min, MAX(n_chars) AS max,
               SQRT(SUM(CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE)) / COUNT(n_chars)
                    - (SUM(CAST(n_chars AS DOUBLE)) / COUNT(n_chars))
                      * (SUM(CAST(n_chars AS DOUBLE)) / COUNT(n_chars))) AS std,
               SUM(n_chars) AS sum, COUNT(n_chars) AS count
        FROM z WHERE zone_value IS NOT NULL
        GROUP BY zone_value ORDER BY zone_value
        """
    ).df()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def _duck_scaled(duck, factor: int) -> str:
    """DuckDB twin of build_pages_scaled: documents x range(factor)."""
    duck.execute(
        f"CREATE OR REPLACE VIEW documents_x{factor} AS "
        f"SELECT doc_id * {factor} + rep AS doc_id, text, lang, source "
        f"FROM documents, (SELECT range AS rep FROM range({factor}))"
    )
    duck.execute(
        f"CREATE OR REPLACE VIEW pages_x{factor} AS {pages_cte_sql(f'documents_x{factor}')}"
    )
    return f"pages_x{factor}"


@pytest.mark.parametrize("factor", [1, 3, 7, 45])
def test_build_pages_scaled_matches_oracle(spark, sf_dir, duck, factor):
    """The explode expansion yields exactly the documents x range(factor)
    pages, over min(factor, parallelism) partitions (45 reps make chunks
    of SCALE_CHUNK, fewer per partition than ceil(45 / 4))."""
    par = spark.sparkContext.defaultParallelism
    assert par == 4
    pages = build_pages_scaled(spark, sf_dir, factor)
    assert pages.rdd.getNumPartitions() == min(factor, par)
    cols = ["doc_id", "url", "warc_epoch", "text", "lang", "lat", "lon", "cell"]
    got = pages.select(*cols).orderBy("doc_id").toPandas()
    want = duck.execute(
        f"SELECT {', '.join(cols)} FROM {_duck_scaled(duck, factor)} ORDER BY doc_id"
    ).df()
    assert len(want) == factor * 500
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def _zone_case_sql() -> str:
    """Burn order as a DuckDB CASE over the generated PIP SQL."""
    cases = []
    for fid in reversed(range(len(ZONE_LAYER))):
        poly = ZONE_LAYER[fid]
        cases.append(f"WHEN {pip_sql_expr('lon', 'lat', poly)} THEN '{poly.value}'")
    return f"CASE {' '.join(cases)} END"


def _zonal_input(spark, sf_dir):
    """3,500 scaled pages; every 11th page has NULL lon/lat, every 13th
    a NULL value."""
    pages = build_pages_scaled(spark, sf_dir, 7)
    located = F.col("doc_id") % 11 != 0
    return pages.select(
        F.when(located, F.col("lat")).alias("lat"),
        F.when(located, F.col("lon")).alias("lon"),
        F.when(F.col("doc_id") % 13 != 0, F.length("text")).alias("n_chars"),
    )


@pytest.mark.parametrize("how", ["inner", "left"])
def test_zonal_of_pip_join_matches_oracle(spark, sf_dir, duck, how):
    """zonal_statistics straight over a pip_join result equals the DuckDB
    burn-order aggregate bit for bit, NULL values and NULL coordinates
    included, for all statistics and for a subset."""
    joined = pip_join(_zonal_input(spark, sf_dir), ZONE_LAYER, how=how)
    stats = zonal_statistics(joined, "zone_value", "n_chars")
    got = stats.orderBy("zone_value").toPandas()

    inner = "AND zone_value IS NOT NULL" if how == "inner" else ""
    want = duck.execute(
        f"""
        WITH p AS (
            SELECT CASE WHEN doc_id % 11 <> 0 THEN lon END AS lon,
                   CASE WHEN doc_id % 11 <> 0 THEN lat END AS lat,
                   CASE WHEN doc_id % 13 <> 0 THEN LENGTH(text) END AS n_chars
            FROM {_duck_scaled(duck, 7)}
        ), z AS (SELECT {_zone_case_sql()} AS zone_value, n_chars FROM p)
        SELECT zone_value,
               SUM(CAST(n_chars AS DOUBLE)) / COUNT(n_chars) AS mean,
               MIN(n_chars) AS min, MAX(n_chars) AS max,
               SQRT(SUM(CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE)) / COUNT(n_chars)
                    - (SUM(CAST(n_chars AS DOUBLE)) / COUNT(n_chars))
                      * (SUM(CAST(n_chars AS DOUBLE)) / COUNT(n_chars))) AS std,
               SUM(n_chars) AS sum, COUNT(n_chars) AS count
        FROM z WHERE n_chars IS NOT NULL {inner}
        GROUP BY zone_value ORDER BY zone_value NULLS FIRST
        """
    ).df()
    assert want["zone_value"].isna().sum() == (how == "left")
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    subset = zonal_statistics(joined, "zone_value", "n_chars", ["count", "max"])
    pd.testing.assert_frame_equal(
        subset.orderBy("zone_value").toPandas(),
        want[["zone_value", "count", "max"]],
        check_dtype=False,
    )


@pytest.mark.parametrize("how", ["inner", "left"])
def test_zonal_of_pip_join_empty_inputs(spark, sf_dir, how):
    """No rows, or no non-NULL value, give no zones (not a zone with
    count 0). The predicates are ones Catalyst cannot fold away."""
    slim = _zonal_input(spark, sf_dir)
    nowhere = F.col("lat") > 1000
    for points in (
        slim.filter(nowhere),
        slim.withColumn("n_chars", F.when(nowhere, F.col("n_chars"))),
    ):
        stats = zonal_statistics(pip_join(points, ZONE_LAYER, how=how), "zone_value", "n_chars")
        assert stats.collect() == []


def test_fast_cell_builders_match_per_bit_in_spark(spark):
    """r8: the form the engine runs — ix_sql_expr/iy_sql_expr into
    coordinate columns, then the spread-bits morton_fast_sql — equals the
    fingerprint-frozen per-bit morton_sql_expr for every engine
    resolution, on clamp-exercising out-of-domain coords."""
    from pyspark.sql import functions as F

    from trefoil_spark.grid import cells as C

    pts = spark.range(4000).selectExpr(
        "CAST((id * 2654435761) % 999983 AS DOUBLE) / 999983 * 380 - 190 AS lon",
        "CAST((id * 40503 + 9973) % 999979 AS DOUBLE) / 999979 * 190 - 95 AS lat",
    )
    for res in (6, 7, 9, 14, 24):
        coords = pts.select(
            F.expr(C.ix_sql_expr("lon", res)).alias("_qx"),
            F.expr(C.iy_sql_expr("lat", res)).alias("_qy"),
        )
        slow = C.morton_sql_expr("_qx", "_qy", res)
        fast = C.morton_fast_sql("_qx", "_qy", res)
        bad = coords.select(
            F.expr(slow).alias("a"), F.expr(fast).alias("b")
        ).filter("a <> b").count()
        assert bad == 0, res
