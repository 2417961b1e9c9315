"""Spark <-> DuckDB parity for the full Gopher repetition-rule set
(Rae 2021 A1.1 Table A1: dup paragraphs, top 3/4-gram, dup 5..10-gram
char coverage). Reference behavior modeled on the published rule table,
not any reference-repo code (trefoil has no text pipeline)."""

import duckdb
import pytest
import pyspark.sql.functions as F

from trefoil_spark.operators.textstats import (
    DUP_NGRAM_THRESHOLDS,
    gopher_full_pass_col,
    gopher_full_pass_sql_duckdb,
    gopher_repetition_exprs,
    gopher_repetition_pass_col,
    gopher_repetition_pass_sql_duckdb,
    gopher_repetition_sql_duckdb,
)

DOCS = [
    # id 0: heavy 5-gram repetition, distinct lines (dup-line rule blind)
    "one two three four five one two three four five tail",
    # id 1: all-distinct tokens — every repetition feature 0
    "a b c d e f g h i j",
    # id 2: below every n — guards must kick in
    "short doc",
    # id 3: single token repeated — saturates every rule
    "x x x x x x x x x x",
    # id 4: repeated paragraphs, unique sentences inside
    "para one here\n\npara two there\n\npara one here\n\nclosing words",
    # id 5: dominant trigram
    "red green blue red green blue red green blue something else here",
    # id 6: empty text
    "",
    # id 7: unicode + multi-space (empty tokens from the double space)
    "café naïve  café naïve ☃ snowman",
    # id 8: a healthy doc that passes everything
    (
        "the quick brown fox jumps over a lazy dog and then runs be "
        "far away to have a quiet nap with all of that energy spent "
        "while birds sing songs near the old barn door every morning"
    ),
]

FEATURES = [
    "dup_para_frac",
    "dup_para_char_frac",
    "top_3gram_char_frac",
    "top_4gram_char_frac",
] + [f"dup_{n}gram_char_frac" for n in DUP_NGRAM_THRESHOLDS]


@pytest.fixture(scope="module")
def frames(spark):
    sdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(DOCS)], ["doc_id", "text"]
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO docs VALUES (?, ?)", list(enumerate(DOCS))
    )
    return sdf, con


def test_features_match_duckdb(frames):
    sdf, con = frames
    e = gopher_repetition_exprs("text")
    spark_rows = (
        sdf.select("doc_id", *[e[f].alias(f) for f in FEATURES])
        .orderBy("doc_id")
        .collect()
    )
    d = gopher_repetition_sql_duckdb("text")
    cols = ", ".join(f"{d[f]} AS {f}" for f in FEATURES)
    duck_rows = con.execute(
        f"SELECT doc_id, {cols} FROM docs ORDER BY doc_id"
    ).fetchall()
    for srow, drow in zip(spark_rows, duck_rows):
        assert srow.doc_id == drow[0]
        for f, dval in zip(FEATURES, drow[1:]):
            sval = srow[f]
            assert sval == pytest.approx(dval, abs=1e-12), (
                f"doc {srow.doc_id} feature {f}: spark={sval} duck={dval}"
            )


def test_known_values(frames):
    sdf, _ = frames
    e = gopher_repetition_exprs("text")
    rows = {
        r.doc_id: r
        for r in sdf.select(
            "doc_id", *[e[f].alias(f) for f in FEATURES]
        ).collect()
    }
    # doc 0: "one two three four five" dup 5-gram covers tokens 1..10
    # (38 token chars) of 42 total token chars
    assert rows[0]["dup_5gram_char_frac"] == pytest.approx(38 / 42)
    # doc 1: nothing repeats — dup features 0; the top-gram features
    # still count the (count=1) most frequent gram, as published:
    # trigram "a b c" = 5 chars, 4-gram = 7 chars, of 19 text chars
    for f in FEATURES:
        if f.startswith("dup_"):
            assert rows[1][f] == 0.0
    assert rows[1]["top_3gram_char_frac"] == pytest.approx(5 / 19)
    assert rows[1]["top_4gram_char_frac"] == pytest.approx(7 / 19)
    # doc 2: two tokens — below every n; one paragraph, no dups
    assert all(rows[2][f] == 0.0 for f in FEATURES)
    # doc 3: ten identical tokens — full coverage for n = 5..9; the
    # 10-gram spans the whole doc exactly once, so no duplicate
    for n in DUP_NGRAM_THRESHOLDS:
        expected = 1.0 if n < 10 else 0.0
        assert rows[3][f"dup_{n}gram_char_frac"] == expected
    # doc 4: paragraphs = [p1, p2, p1, closing]; 1 dup of 4; dup chars
    # = 2 * len("para one here") = 26 of 13+14+13+13 = 53
    assert rows[4]["dup_para_frac"] == pytest.approx(1 / 4)
    assert rows[4]["dup_para_char_frac"] == pytest.approx(26 / 53)
    # doc 5: trigram "red green blue" x3 = 42 chars of len(text)=64
    assert rows[5]["top_3gram_char_frac"] == pytest.approx(42 / 64)
    # doc 6: empty string -> one empty paragraph, no repetition
    assert all(rows[6][f] == 0.0 for f in FEATURES)
    # doc 7: "café naïve" bigram repeats; the 5-gram window catches it
    # only if a dup 5-gram exists — here none (7 tokens incl. empty)
    assert rows[7]["dup_5gram_char_frac"] == 0.0


def test_pass_verdicts(frames):
    sdf, con = frames
    spark_pass = {
        r.doc_id: (r.rep, r.full)
        for r in sdf.select(
            "doc_id",
            gopher_repetition_pass_col("text").alias("rep"),
            gopher_full_pass_col("text").alias("full"),
        ).collect()
    }
    duck_pass = dict(
        con.execute(
            f"SELECT doc_id, {gopher_repetition_pass_sql_duckdb('text')} "
            "FROM docs ORDER BY doc_id"
        ).fetchall()
    )
    duck_full = dict(
        con.execute(
            f"SELECT doc_id, {gopher_full_pass_sql_duckdb('text')} "
            "FROM docs ORDER BY doc_id"
        ).fetchall()
    )
    for i in range(len(DOCS)):
        assert spark_pass[i][0] == duck_pass[i], f"rep verdict doc {i}"
        assert spark_pass[i][1] == duck_full[i], f"full verdict doc {i}"
    # the saturated docs fail, the clean doc's repetition gate passes
    assert spark_pass[0][0] is False  # dup 5-gram 0.90 >= 0.15
    assert spark_pass[3][0] is False
    assert spark_pass[5][0] is False  # top trigram 0.68 >= 0.18
    assert spark_pass[8][0] is True
    # full gate = base AND repetition: doc 8 is too short for the
    # 50-word Gopher floor, so full still drops it
    assert spark_pass[8][1] is False


def test_gate_selection():
    from trefoil_spark.operators.curation import _gopher_gate
    from trefoil_spark.operators.textstats import gopher_pass_col

    assert _gopher_gate("base") is gopher_pass_col
    assert _gopher_gate("full") is gopher_full_pass_col
    assert _gopher_gate("off") is None


def test_stats_frame(frames):
    sdf, _ = frames
    e = gopher_repetition_exprs("text")
    out = sdf.filter(F.col("doc_id") == 0).select(
        "*", *[c.alias(n) for n, c in e.items()],
        gopher_repetition_pass_col("text").alias("gopher_repetition_pass"),
    )
    row = out.collect()[0]
    assert row.gopher_repetition_pass is False
    assert set(FEATURES) <= set(out.columns)
