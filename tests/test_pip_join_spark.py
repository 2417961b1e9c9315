"""End-to-end spine test: pages build → cell assign → PIP join → zonal agg,
cross-checked against DuckDB running the SAME generated SQL formulas."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from trefoil_spark.geometry import pip_sql_expr
from trefoil_spark.operators.pip_join import (
    BOUNDARY,
    _covering_rows,
    build_covering_index,
    cell_col,
    pip_join,
)
from trefoil_spark.operators.zonal import zonal_statistics
from trefoil_spark.sources.pages import build_pages, pages_cte_sql
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
    # and the Column-builder variant equals the SQL-text variant
    df2 = pages.withColumn("cell2", cell_col("lon", "lat", 7))
    assert df2.filter(F.col("cell") != F.col("cell2")).count() == 0


def test_covering_rows_slot_arithmetic():
    """Every fine child lands in its parent's array at slot
    (c >> 5) & 1023, and every slot of every array is filled (no Spark)."""
    index = build_covering_index(ZONE_LAYER)
    rows = {c: (r1, fine) for c, r1, fine in _covering_rows(index)}
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


def test_fast_cell_builders_match_per_bit_in_spark(spark):
    """r8: spread-bits cell_fast_sql and function-shift morton_fn_sql
    equal the fingerprint-frozen per-bit morton_sql_expr for every
    engine resolution, on clamp-exercising out-of-domain coords."""
    from pyspark.sql import functions as F

    from trefoil_spark.grid import cells as C

    pts = spark.range(4000).selectExpr(
        "CAST((id * 2654435761) % 999983 AS DOUBLE) / 999983 * 380 - 190 AS lon",
        "CAST((id * 40503 + 9973) % 999979 AS DOUBLE) / 999979 * 190 - 95 AS lat",
    )
    for res in (6, 7, 9, 14, 24):
        slow = (
            f"({C.morton_sql_expr('_px', '_py', res)})"
            .replace("_px", f"({C.ix_sql_expr('lon', res)})")
            .replace("_py", f"({C.iy_sql_expr('lat', res)})")
        )
        fast = C.cell_fast_sql("lon", "lat", res)
        fn = (
            f"({C.morton_fn_sql('_px', '_py', res)})"
            .replace("_px", f"({C.ix_sql_expr('lon', res)})")
            .replace("_py", f"({C.iy_sql_expr('lat', res)})")
        )
        bad = pts.select(
            F.expr(slow).alias("a"), F.expr(fast).alias("b"), F.expr(fn).alias("c")
        ).filter("a <> b OR a <> c").count()
        assert bad == 0, res
