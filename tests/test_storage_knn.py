"""Adaptive kNN + k-means."""

import pandas as pd
from pyspark.sql import functions as F


def test_adaptive_knn_is_complete(spark, sf_dir):
    from trefoil_spark.operators.knn import knn_join_adaptive, knn_join_bruteforce
    from trefoil_spark.sources.pages import build_pages

    pages = build_pages(spark, sf_dir, with_html=False).select("doc_id", "lon", "lat")
    queries = pages.filter(F.col("doc_id") % 40 == 0)
    # start at a res/ring that is NOT sufficient at ring 1 for all queries
    got = (
        knn_join_adaptive(pages, queries, k=4, res=9, max_ring=64)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    want = (
        knn_join_bruteforce(pages, queries, k=4)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_adaptive_knn_metrics_report_escalation_and_cap(spark):
    """The adaptive loop's metrics hook reports ring depth, per-ring
    escalation counts and the number of queries emitted at max_ring
    without the completeness guarantee (VERDICT r5 item 9).

    Fixture forces escalation at res=7 (cells 2.8125° lon × 1.40625°
    lat, guarantee unit 1.40625°): one near neighbor plus one 3° away,
    k=2 — ring 1 can't see the far point, ring 2 sees it but its
    distance (9 deg²) exceeds the ring-2 guarantee (7.91 deg²), ring 4
    proves it."""
    from trefoil_spark.operators.knn import knn_join_adaptive

    points = spark.createDataFrame(
        [(1, 1.41, 0.71), (2, 1.4, 3.7), (10, 1.4, 0.7)],
        "doc_id bigint, lon double, lat double",
    )
    queries = points.filter(F.col("doc_id") == 10)

    metrics = {}
    got = knn_join_adaptive(
        points, queries, k=2, res=7, max_ring=8, metrics=metrics
    ).collect()
    assert {(r["neighbor_id"], r["rank"]) for r in got} == {(1, 1), (2, 2)}
    assert metrics["rings_used"] == 4
    assert metrics["escalated_per_ring"] == {1: 1, 2: 1, 4: 0}
    assert metrics["cap_queries"] == 0

    # cap hit: same fixture, max_ring=2 — the query is emitted unproven
    m2 = {}
    got2 = knn_join_adaptive(
        points, queries, k=2, res=7, max_ring=2, metrics=m2
    ).collect()
    assert {(r["neighbor_id"], r["rank"]) for r in got2} == {(1, 1), (2, 2)}
    assert m2["rings_used"] == 2
    assert m2["escalated_per_ring"] == {1: 1}
    assert m2["cap_queries"] == 1


def test_kmeans_lloyd_quantized_matches_numpy(spark, sf_dir):
    """Distributed quantized Lloyd's equals a numpy replay of the same
    quantized algorithm, and iterating reduces total within-cluster
    distance."""
    import numpy as np

    from trefoil_spark.operators.similarity import kmeans_lloyd_quantized

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = sorted(
        (r["vec_id"], np.round(np.asarray(r["embedding"], dtype=np.float64) * 1e6)
         .astype(np.int64))
        for r in emb.select("vec_id", "embedding").collect()
    )
    X = np.stack([v for _, v in rows])
    K = 4

    def replay(n_iters):
        cents = X[:K].copy()
        for _ in range(n_iters):
            d = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)  # argmin ties -> smallest k, same rule
            dist = d[np.arange(len(X)), assign]
            new = []
            for k in range(K):  # empty clusters keep the previous centroid
                sel = X[assign == k]
                if len(sel):
                    new.append(np.floor(sel.sum(axis=0) / len(sel)).astype(np.int64))
                else:
                    new.append(cents[k])
            cents = np.stack(new)
        return assign, dist

    for iters in (1, 2):
        got = {r["cid"]: (r["n_points"], r["sum_dist"]) for r in
               kmeans_lloyd_quantized(emb, n_centroids=K, n_iters=iters).collect()}
        assign, dist = replay(iters)
        want = {}
        for k in sorted(set(assign.tolist())):
            sel = assign == k
            want[k] = (int(sel.sum()), int(dist[sel].sum()))
        assert got == want
    _, d1 = replay(1)
    _, d2 = replay(2)
    assert d2.sum() <= d1.sum()  # Lloyd monotonicity (quantization-tolerant)


def test_kmeans_empty_cluster_keeps_centroid(spark):
    """A cluster that attracts zero points must keep its previous
    centroid — K stays fixed and cid labels keep their meaning
    (r3 advice: sorted(by_cid.items()) silently dropped empty clusters
    and shifted every higher id)."""
    from trefoil_spark.operators.similarity import kmeans_lloyd_quantized

    # ids 0,1 are the init centroids; id 1's vector is a far outlier that
    # every point (including nothing else) avoids after iteration 1:
    # all remaining points sit near vector 0, so cluster 1 goes empty
    rows = [(0, [0.0, 0.0]), (1, [1000.0, 1000.0])] + [
        (i, [0.001 * i, 0.0]) for i in range(2, 12)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = {r["cid"]: r["n_points"] for r in
           kmeans_lloyd_quantized(df, n_centroids=2, n_iters=2).collect()}
    # cluster 1 still exists as a label and still owns its outlier point
    assert out == {0: 11, 1: 1}


def test_kmeans_plan_stays_literal_free_at_production_k(spark):
    """K=256, dim=128: the centroid matrix (32k bigints) must ride as
    broadcast DATA, not as SQL literal text — the analyzed plan of the
    assignment stage stays small (the r2 IVF CASE-chain lesson: literal
    megabytes poison codegen for the whole stage)."""
    from pyspark.sql import functions as F

    from trefoil_spark.operators.similarity import _KMEANS_BEST_EXPR

    K, dim = 256, 128
    cents = [[(k * dim + j) % 997 for j in range(dim)] for k in range(K)]
    cent_df = spark.createDataFrame([(cents,)], "cents array<array<bigint>>")
    pts = spark.range(2000).select(
        F.col("id").alias("vec_id"),
        F.expr("transform(sequence(1, 128), j -> CAST((id * 31 + j) % 997 AS BIGINT))").alias("e"),
    )
    assigned = (
        pts.crossJoin(F.broadcast(cent_df))
        .withColumn("best", F.expr(_KMEANS_BEST_EXPR))
        .select("vec_id", F.col("best.k").alias("cid"), F.col("best.d").alias("dist"))
    )
    plan_text = assigned._jdf.queryExecution().analyzed().toString()
    assert len(plan_text) < 20_000, f"plan text {len(plan_text)} bytes — literals leaked"
    # and it actually computes: every row lands in a valid cluster
    agg = assigned.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("cid").alias("cmin"), F.max("cid").alias("cmax"),
    ).collect()[0]
    assert agg["n"] == 2000 and 0 <= agg["cmin"] <= agg["cmax"] < K
