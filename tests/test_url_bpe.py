"""BPE-style token counting + URL ops (r6): Spark vs DuckDB twins on
adversarial inputs (unicode, contractions, ports, userinfo, SLD
extensions)."""

import duckdb
import pandas as pd

from tests.reference import url_sql_duckdb
from trefoil_spark.operators.textstats import (
    bpe_token_count_col,
    bpe_token_count_sql_duckdb,
    url_domain_col,
    url_host_col,
    url_path_col,
)

TEXTS = [
    "Hello world, it's 2026!",
    "don't stop—believing... 123abc",
    "naïve café résumé",
    "",
    "a    b\t\tc\nnew",
]

URLS = [
    "http://example.com/a/b?q=1",
    "https://sub.deep.example.co.uk/path/x.html#frag",
    "https://user:pw@host.net:8443/p",
    "ftp://just.host",
    "not a url at all",
    "http://single/",
]


def test_bpe_count_matches_duckdb(spark):
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(TEXTS)), "text": TEXTS}))
    want = [
        r[0] for r in con.execute(
            f"SELECT {bpe_token_count_sql_duckdb()} FROM t ORDER BY i"
        ).fetchall()
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "i bigint, text string"
    )
    got = [
        r["n"] for r in df.select(
            "i", bpe_token_count_col().alias("n")
        ).orderBy("i").collect()
    ]
    assert got == want
    # sanity on the semantics, not just parity
    assert got[0] == 7  # Hello | world | , | it | 's | 2026 | !
    assert want[3] == 0


def test_url_ops_match_duckdb(spark):
    con = duckdb.connect()
    con.register("u", pd.DataFrame({"i": range(len(URLS)), "url": URLS}))
    twins = url_sql_duckdb()
    want = con.execute(
        f"SELECT {twins['host']} AS host, {twins['domain']} AS domain, "
        f"{twins['path']} AS path FROM u ORDER BY i"
    ).fetchall()
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(URLS)], "i bigint, url string"
    )
    got = [
        (r["host"], r["domain"], r["path"])
        for r in df.select(
            "i", url_host_col().alias("host"),
            url_domain_col().alias("domain"),
            url_path_col().alias("path"),
        ).orderBy("i").collect()
    ]
    assert got == [tuple(w) for w in want]
    by = dict(zip(URLS, got))
    assert by["http://example.com/a/b?q=1"] == (
        "example.com", "example.com", "/a/b"
    )
    assert by["https://sub.deep.example.co.uk/path/x.html#frag"][1] == (
        "example.co.uk"
    )
    assert by["https://user:pw@host.net:8443/p"][0] == "host.net"
    assert by["not a url at all"] == ("", "", "")
