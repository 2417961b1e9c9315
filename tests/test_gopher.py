"""Gopher quality rules (r6): Spark Catalyst expressions vs the exact
DuckDB twins on adversarial docs, plus threshold semantics."""

import duckdb
import pandas as pd
import pytest

from trefoil_spark.operators.textstats import (
    gopher_exprs,
    gopher_pass_col,
    gopher_sql_duckdb,
)

DOCS = [
    # clean prose: 60+ distinct words (passes the word-count gate with
    # no repeated bigram; "the"/"of" satisfy the >=2-stopword rule)
    ("the story of " + " ".join(f"alpha{i} bridge{i} castle{i}" for i in range(20))),
    # bullet spam
    "- item one\n- item two\n- item three\n* item four\nprose line",
    # duplicate lines + trailing ellipsis
    "same line\nsame line\nsame line\nother...\nanother...",
    # repeated bigram (top-2gram coverage) + symbols
    "spam ham " * 30 + "# tag # tag ...",
    # unicode + single token
    "café",
    # clean shape but ZERO Gopher stop words: fails only the
    # >=2-stopword rule (Rae 2021 A1.1, added r7)
    (" ".join(f"delta{i} echo{i} fox{i}" for i in range(20))),
]


@pytest.fixture(scope="module")
def expected():
    con = duckdb.connect()
    con.register("docs", pd.DataFrame({"doc_id": range(len(DOCS)),
                                       "text": DOCS}))
    cols = ", ".join(
        f"{sql} AS {name}" for name, sql in gopher_sql_duckdb().items()
    )
    return con.execute(
        f"SELECT doc_id, {cols} FROM docs ORDER BY doc_id"
    ).fetchdf()


def gopher_stats(df):
    """Every Gopher feature plus the verdict, as the engine's filter
    composes them."""
    e = gopher_exprs("text")
    return df.select(
        "*", *[c.alias(n) for n, c in e.items()],
        gopher_pass_col("text").alias("gopher_pass"),
    )


def test_gopher_matches_duckdb_twins(spark, expected):
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(DOCS)], "doc_id bigint, text string"
    )
    out = (
        gopher_stats(df).orderBy("doc_id").toPandas()
    )
    for name in gopher_exprs():
        got = out[name].astype(float).tolist()
        want = expected[name].astype(float).tolist()
        assert got == pytest.approx(want, abs=0, rel=0), (
            f"{name}: spark={got} duckdb={want}"
        )


def test_gopher_thresholds(spark):
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(DOCS)], "doc_id bigint, text string"
    )
    verdicts = {
        r["doc_id"]: r["gopher_pass"]
        for r in gopher_stats(df).select("doc_id", "gopher_pass").collect()
    }
    assert verdicts[0] is True      # clean prose survives
    assert verdicts[1] is False     # bullet spam dropped
    assert verdicts[2] is False     # dup lines + ellipses dropped
    assert verdicts[3] is False     # bigram repetition dropped
    assert verdicts[4] is False     # single token: word-count gate
    assert verdicts[5] is False     # no stop words: A1.1 stopword rule
