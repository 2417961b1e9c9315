"""dedup_latest (newest capture per URL): Spark max_by aggregation vs
the DuckDB QUALIFY-row_number twin, tie handling, schema identity."""

import duckdb

from tests.reference import dedup_latest_sql_duckdb
from trefoil_spark.operators.dedup import dedup_latest

ROWS = [
    # (doc_id, url, warc_ts, text) — url A captured 3x, B 2x (with a
    # ts tie), C once
    (1, "https://a.com/x", 100, "a v1"),
    (2, "https://a.com/x", 300, "a v3"),
    (3, "https://a.com/x", 200, "a v2"),
    (4, "https://b.org/y", 500, "b old-id"),
    (5, "https://b.org/y", 500, "b new-id"),  # ts tie -> max doc_id
    (6, "https://c.net/z", 50, "c only"),
]


def test_matches_duckdb_twin(spark):
    sdf = spark.createDataFrame(
        ROWS, "doc_id bigint, url string, warc_ts bigint, text string"
    )
    got = sorted(
        tuple(r) for r in dedup_latest(sdf).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE pages(doc_id BIGINT, url VARCHAR, "
        "warc_ts BIGINT, text VARCHAR)"
    )
    con.executemany("INSERT INTO pages VALUES (?, ?, ?, ?)", ROWS)
    want = sorted(
        tuple(r)
        for r in con.execute(dedup_latest_sql_duckdb("pages")).fetchall()
    )
    assert got == want
    assert [r[0] for r in got] == [2, 5, 6]


def test_schema_and_partition_stability(spark):
    sdf = spark.createDataFrame(
        ROWS, "doc_id bigint, url string, warc_ts bigint, text string"
    )
    out = dedup_latest(sdf.repartition(8))
    assert out.columns == sdf.columns
    assert sorted(r.doc_id for r in out.collect()) == [2, 5, 6]


def test_plan_is_single_aggregate_no_window(spark):
    sdf = spark.createDataFrame(
        ROWS, "doc_id bigint, url string, warc_ts bigint, text string"
    )
    plan = dedup_latest(sdf)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # partial + final HashAggregate pair = map-side combine happens
    assert plan.count("HashAggregate") >= 2 or "SortAggregate" in plan