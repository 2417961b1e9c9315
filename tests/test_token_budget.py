"""sample_to_token_budget: Spark two-phase scan vs the DuckDB
single-window twin (the equivalence of the two formulations is the
point of the parity test), per-key budgets, and stability under
repartitioning."""

import duckdb
import pytest
import pyspark.sql.functions as F

from tests.reference import token_budget_sql_duckdb
from trefoil_spark.operators.seqpack import sample_to_token_budget


def _mk_docs(n):
    # doc i: lang cycles en/de/fr, i+1 tokens (so totals are exact)
    return [
        (i, ["en", "de", "fr"][i % 3], " ".join(f"t{j}" for j in range(i + 1)))
        for i in range(n)
    ]


@pytest.fixture(scope="module")
def frames(spark):
    rows = _mk_docs(40)
    sdf = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs(doc_id BIGINT, lang VARCHAR, text VARCHAR)"
    )
    con.executemany("INSERT INTO docs VALUES (?, ?, ?)", rows)
    return sdf, con


def test_global_budget_matches_duckdb(frames):
    sdf, con = frames
    for budget in (0, 1, 10, 57, 100, 10_000):
        got = sorted(
            r.doc_id
            for r in sample_to_token_budget(sdf, budget).collect()
        )
        want = sorted(
            r[0]
            for r in con.execute(
                token_budget_sql_duckdb("docs", budget)
            ).fetchall()
        )
        assert got == want, f"budget={budget}"


def test_per_key_budget_matches_duckdb(frames):
    sdf, con = frames
    for budget in (5, 40, 200):
        got = sorted(
            r.doc_id
            for r in sample_to_token_budget(
                sdf, budget, by="lang"
            ).collect()
        )
        want = sorted(
            r[0]
            for r in con.execute(
                token_budget_sql_duckdb("docs", budget, by="lang")
            ).fetchall()
        )
        assert got == want, f"budget={budget}"


def test_exact_fill_and_order(frames):
    sdf, _ = frames
    # docs 0..4 hold 1+2+3+4+5 = 15 tokens: budget 15 keeps exactly
    # them; budget 14 drops doc 4 (whole docs only, id order)
    assert sorted(
        r.doc_id for r in sample_to_token_budget(sdf, 15).collect()
    ) == [0, 1, 2, 3, 4]
    assert sorted(
        r.doc_id for r in sample_to_token_budget(sdf, 14).collect()
    ) == [0, 1, 2, 3]


def test_schema_preserved_and_partition_stable(frames):
    sdf, _ = frames
    out = sample_to_token_budget(sdf.repartition(16), 57)
    assert out.columns == sdf.columns
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(
        r.doc_id
        for r in sample_to_token_budget(sdf.coalesce(1), 57).collect()
    )
    assert a == b


def test_per_key_budget_is_per_key(frames):
    sdf, _ = frames
    out = sample_to_token_budget(sdf, 30, by="lang")
    totals = (
        out.groupBy("lang")
        .agg(
            F.sum(
                F.size(
                    F.filter(
                        F.split("text", r"\s+"),
                        lambda t: F.length(t) > 0,
                    )
                )
            ).alias("n")
        )
        .collect()
    )
    assert len(totals) == 3
    assert all(row.n <= 30 for row in totals)
    # each language actually got tokens (budget fills per key)
    assert all(row.n > 0 for row in totals)
