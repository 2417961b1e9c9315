"""Per-host boilerplate removal: hand-checked behavior + DuckDB twin
parity."""
import duckdb
import pytest

from tests.reference import boilerplate_sql_duckdb
from trefoil_spark.operators.cleaning import remove_host_boilerplate

NAV = "home | products | about us"
FOOT = "copyright example corp all rights reserved"


def _page(i, body_lines):
    return "\n".join([NAV] + body_lines + [FOOT])


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        # big.com: 5 pages sharing nav+footer; unique bodies
        (i, f"http://big.com/p{i}",
         _page(i, [f"unique body line {i} alpha",
                   f"unique body line {i} beta"]))
        for i in range(5)
    ] + [
        # small.com: 2 pages with the same template — below min_pages,
        # must pass through untouched
        (10, "http://small.com/a", _page(10, ["small body a"])),
        (11, "http://small.com/b", _page(11, ["small body b"])),
        # a line shared by only 1/5 of big.com pages stays
        (12, "http://big.com/p12",
         _page(12, ["rare shared line", "unique body line 12"])),
    ]
    return spark.createDataFrame(
        rows, "doc_id bigint, url string, text string"
    )


def test_template_lines_stripped_per_host(docs):
    out = {r["doc_id"]: r["text"]
           for r in remove_host_boilerplate(docs).collect()}
    # big.com (6 pages): nav + footer on 6/6 >= 1/2 -> stripped
    assert out[0] == "unique body line 0 alpha\nunique body line 0 beta"
    assert NAV not in out[3] and FOOT not in out[3]
    # the 1/6-frequency line survives
    assert "rare shared line" in out[12]
    # small.com below min_pages: untouched
    assert out[10] == _page(10, ["small body a"])
    # url column rides through
    assert len(out) == 8


def test_duckdb_twin(docs, tmp_path, spark):
    p = str(tmp_path / "docs.parquet")
    docs.write.parquet(p)
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW t AS SELECT * FROM read_parquet('{p}/*.parquet')"
    )
    oracle = dict(
        con.sql(
            "SELECT doc_id, text FROM ("
            + boilerplate_sql_duckdb("t") + ")"
        ).fetchall()
    )
    got = {r["doc_id"]: r["text"]
           for r in remove_host_boilerplate(docs).select(
               "doc_id", "text").collect()}
    assert got == oracle
