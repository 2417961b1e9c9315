"""DSIR importance-resampling selection (Xie 2023): Spark <-> DuckDB
parity on the full featurize->train->score chain, behavioral checks
(target-like docs outscore off-distribution docs), and deterministic
Gumbel-top-k resampling."""

import duckdb
import pytest
import pyspark.sql.functions as F

from tests.reference import dsir_sql_duckdb
from trefoil_spark.operators.dsir import (
    featurize_dsir,
    resample_dsir,
    score_dsir,
    train_dsir,
)

# target distribution: clean English prose about weather
TARGET = [
    (0, "the rain fell softly on the green hills all morning"),
    (1, "clouds gathered over the valley before the storm arrived"),
    (2, "a cold wind moved through the trees after the rain"),
    (3, "sunshine returned to the hills once the clouds had gone"),
]
# raw pool: two weather-like docs, two spam-like docs, one empty
RAW = [
    (10, "rain and wind over the green hills before the storm"),
    (11, "the clouds and the rain moved over the valley"),
    (12, "buy cheap pills online casino bonus click here now win"),
    (13, "free offer casino click buy now cheap bonus pills win"),
    (14, ""),
]
BUCKETS = 512  # small so target/raw collide in-test


@pytest.fixture(scope="module")
def frames(spark):
    t = spark.createDataFrame(TARGET, ["doc_id", "text"])
    r = spark.createDataFrame(RAW, ["doc_id", "text"])
    con = duckdb.connect()
    con.execute("CREATE TABLE tgt(doc_id BIGINT, text VARCHAR)")
    con.execute("CREATE TABLE raw(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO tgt VALUES (?, ?)", TARGET)
    con.executemany("INSERT INTO raw VALUES (?, ?)", RAW)
    return t, r, con


def test_featurize_counts(spark):
    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    feats = featurize_dsir(df, buckets=BUCKETS).collect()
    # 3 unigrams + 2 bigrams
    assert len(feats) == 5
    assert all(0 <= r.bucket < BUCKETS for r in feats)
    empty = featurize_dsir(
        spark.createDataFrame([(1, "")], ["doc_id", "text"]),
        buckets=BUCKETS,
    ).collect()
    assert empty == []


def test_score_matches_duckdb(frames):
    t, r, con = frames
    w = train_dsir(t, r, buckets=BUCKETS)
    scored = {
        row.doc_id: row
        for row in score_dsir(r, w, buckets=BUCKETS).collect()
    }
    duck = con.execute(
        dsir_sql_duckdb("tgt", "raw", buckets=BUCKETS)
    ).fetchall()
    assert len(duck) == len(scored) == len(RAW)
    for doc_id, n_grams, logw in duck:
        s = scored[doc_id]
        assert s.n_grams == n_grams
        if logw is None:
            assert s.logw is None
        else:
            assert s.logw == pytest.approx(logw, abs=1e-9)


def test_target_like_docs_outscore_spam(frames):
    t, r, _ = frames
    w = train_dsir(t, r, buckets=BUCKETS)
    scored = {
        row.doc_id: row.logw
        for row in score_dsir(r, w, buckets=BUCKETS).collect()
    }
    # per-gram normalized so doc length doesn't dominate
    ng = {
        row.doc_id: row.n_grams
        for row in score_dsir(r, w, buckets=BUCKETS).collect()
    }
    weather = min(scored[i] / ng[i] for i in (10, 11))
    spam = max(scored[i] / ng[i] for i in (12, 13))
    assert weather > spam
    assert scored[14] is None  # empty doc: no evidence


def test_resample_deterministic(frames):
    t, r, _ = frames
    w = train_dsir(t, r, buckets=BUCKETS)
    scored = score_dsir(r, w, buckets=BUCKETS)
    # plain top-k: the two weather docs win
    top2 = resample_dsir(scored, 2).collect()
    assert sorted(row.doc_id for row in top2) == [10, 11]
    # seeded Gumbel: identical across invocations and repartitionings
    a = [row.doc_id for row in resample_dsir(scored, 3, seed=7).collect()]
    b = [
        row.doc_id
        for row in resample_dsir(
            scored.repartition(8), 3, seed=7
        ).collect()
    ]
    assert a == b
    assert len(a) == 3
    # NULL-logw docs never selected even at k >= pool size
    all_sel = resample_dsir(scored, 10, seed=7).collect()
    assert 14 not in {row.doc_id for row in all_sel}


def test_topk_plan_is_take_ordered(frames):
    t, r, _ = frames
    w = train_dsir(t, r, buckets=BUCKETS)
    scored = score_dsir(r, w, buckets=BUCKETS)
    plan = resample_dsir(scored, 2)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_weight_table_bounded(frames):
    t, r, _ = frames
    w = train_dsir(t, r, buckets=BUCKETS)
    assert w.count() <= BUCKETS
