"""URL canonicalization: hand-checked expected forms + string-equal
Spark/DuckDB twin parity over an adversarial URL set."""
import duckdb
import pytest

from tests.reference import canonical_url_sql_duckdb
from trefoil_spark.operators.urlnorm import canonical_url_col

URLS = [
    # tracking params drop; survivors sort; host/scheme lowercase
    "HTTP://Example.COM:80/a?utm_source=x&b=2&a=1",
    "http://example.com/a?a=1&b=2",
    # default https port drops, other ports kept
    "HTTPS://example.com:443/x",
    "https://example.com:8443/x",
    # empty path -> /
    "http://example.com",
    "http://example.com?gclid=abc",
    # fragment always drops, even unparseable
    "http://example.com/p#frag",
    "not a url #frag",
    # userinfo drops; trailing host dot drops
    "http://user:pw@example.com./p",
    # ipv6 passes through, port kept
    "http://[::1]:8080/p",
    # ref drops, refresh stays; bare tracking name drops
    "http://e.com/?ref=hn&refresh=1&ref",
    # empty params collapse; emptied query drops its ?
    "http://e.com/p?&&utm_campaign=z&",
    # mixed-case scheme only
    "FTP://Example.com/File",
    # percent-encoding untouched
    "http://e.com/a%2Fb?x=%41",
]

EXPECTED = {
    "HTTP://Example.COM:80/a?utm_source=x&b=2&a=1":
        "http://example.com/a?a=1&b=2",
    "http://example.com/a?a=1&b=2": "http://example.com/a?a=1&b=2",
    "HTTPS://example.com:443/x": "https://example.com/x",
    "https://example.com:8443/x": "https://example.com:8443/x",
    "http://example.com": "http://example.com/",
    "http://example.com?gclid=abc": "http://example.com/",
    "http://example.com/p#frag": "http://example.com/p",
    "not a url #frag": "not a url ",
    "http://user:pw@example.com./p": "http://example.com/p",
    "http://[::1]:8080/p": "http://[::1]:8080/p",
    "http://e.com/?ref=hn&refresh=1&ref": "http://e.com/?refresh=1",
    "http://e.com/p?&&utm_campaign=z&": "http://e.com/p",
    "FTP://Example.com/File": "ftp://example.com/File",
    "http://e.com/a%2Fb?x=%41": "http://e.com/a%2Fb?x=%41",
}


@pytest.fixture(scope="module")
def frame(spark):
    return spark.createDataFrame(
        [(i, u) for i, u in enumerate(URLS)], "doc_id bigint, url string"
    )


def test_expected_forms(frame):
    got = {
        r["url"]: r["canon"]
        for r in frame.select(
            "url", canonical_url_col().alias("canon")
        ).collect()
    }
    assert got == EXPECTED


def test_duckdb_twin_string_equal(frame, tmp_path):
    p = str(tmp_path / "urls.parquet")
    frame.write.parquet(p)
    sql = canonical_url_sql_duckdb("url")
    oracle = dict(
        duckdb.sql(
            f"SELECT url, {sql} AS canon FROM read_parquet('{p}/*.parquet')"
        ).fetchall()
    )
    spark_out = {
        r["url"]: r["canon"]
        for r in frame.select(
            "url", canonical_url_col().alias("canon")
        ).collect()
    }
    assert spark_out == oracle


def test_canonical_key_merges_dup_captures(spark):
    """The intended composition: canonicalize, then dedup_latest keyed
    on the canonical form merges tracking-tagged recrawls."""
    import datetime

    from pyspark.sql import functions as F

    from trefoil_spark.operators.dedup import dedup_latest

    ts = datetime.datetime(2026, 1, 1)
    rows = [
        (0, "http://example.com/a?utm_source=x", ts),
        (1, "HTTP://EXAMPLE.COM:80/a", ts + datetime.timedelta(days=1)),
        (2, "http://example.com/b", ts),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, url string, warc_ts timestamp"
    ).withColumn("curl", canonical_url_col())
    kept = sorted(
        r["doc_id"]
        for r in dedup_latest(df, key_col="curl").select("doc_id").collect()
    )
    assert kept == [1, 2]
