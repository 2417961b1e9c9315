"""Naive-Bayes quality classifier: DuckDB full-pipeline twin parity
(centi-rounded scores), class separation, and the broadcast/shuffle
join modes agreeing."""
import duckdb
import pytest
from pyspark.sql import functions as F

from tests.reference import nb_sql_duckdb
from trefoil_spark.operators.classifier import score_nb_quality, train_nb_quality


def _prose(i, topic):
    words = {
        "good": "the study presents careful evidence about river basins",
        "bad": "buy cheap casino bonus pills online click here wins",
    }[topic]
    return " ".join(f"{words} s{i % 3}" for _ in range(2 + i % 3))


@pytest.fixture(scope="module")
def corpora(spark):
    pos = spark.createDataFrame(
        [(i, _prose(i, "good")) for i in range(8)],
        "doc_id bigint, text string",
    )
    neg = spark.createDataFrame(
        [(100 + i, _prose(i, "bad")) for i in range(8)],
        "doc_id bigint, text string",
    )
    docs = spark.createDataFrame(
        [(200, _prose(0, "good")), (201, _prose(1, "bad")),
         (202, "zzz unseen tokens only qqq"), (203, "")],
        "doc_id bigint, text string",
    )
    return pos, neg, docs


def test_separation_and_empty_doc(corpora):
    pos, neg, docs = corpora
    model, meta = train_nb_quality(pos, neg)
    out = {
        r["doc_id"]: r
        for r in score_nb_quality(docs, model, meta).collect()
    }
    assert out[200]["score"] > 0 > out[201]["score"]
    # all-unseen tokens: llr0 backoff, finite score
    assert out[202]["n_tokens"] == 5 and out[202]["score"] is not None
    # empty doc: no evidence -> NULL score, 0 tokens
    assert out[203]["score"] is None and out[203]["n_tokens"] == 0


def test_duckdb_twin_parity(corpora, tmp_path):
    pos, neg, docs = corpora
    for name, df in (("pos", pos), ("neg", neg), ("docs", docs)):
        df.write.parquet(str(tmp_path / name))
    con = duckdb.connect()
    for name in ("pos", "neg", "docs"):
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{tmp_path / name}/*.parquet')"
        )
    oracle = {
        r[0]: (r[1], r[2])
        for r in con.sql(
            "SELECT doc_id, n_tokens, "
            "CAST(ROUND(score * 100) AS BIGINT) AS sc FROM ("
            + nb_sql_duckdb("pos", "neg", "docs")
            + ")"
        ).fetchall()
    }
    model, meta = train_nb_quality(pos, neg)
    got = {
        r["doc_id"]: (r["n_tokens"], r["sc"])
        for r in score_nb_quality(docs, model, meta).select(
            "doc_id", "n_tokens",
            F.round(F.col("score") * 100).cast("bigint").alias("sc"),
        ).collect()
    }
    assert got == oracle


def test_broadcast_and_shuffle_modes_agree(corpora):
    pos, neg, docs = corpora
    model, meta = train_nb_quality(pos, neg)
    runs = {}
    for mode in (True, False):
        out = score_nb_quality(docs, model, meta, broadcast=mode)
        plan = out._jdf.queryExecution().executedPlan().toString()
        if mode:
            assert "BroadcastHashJoin" in plan
        runs[mode] = {
            r["doc_id"]: (r["n_tokens"],
                          None if r["score"] is None
                          else round(r["score"] * 100))
            for r in out.collect()
        }
    assert runs[True] == runs[False]
