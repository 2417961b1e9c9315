"""Adaptive kNN + k-means."""

import numpy as np
import pandas as pd
import pytest
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
    """A query whose second neighbour sits two cell rows away still gets
    it, both with the proven ring and when ``max_ring`` cuts the ring.

    Fixture at res=7 (cells 2.8125° lon × 1.40625° lat): one near
    neighbor plus one 3° away, k=2. The count table needs a 2-ring box
    to hold k+1 points, which proves ring 7; ``max_ring=2`` cuts it to
    2, which still reaches the far point's row."""
    from trefoil_spark.operators.knn import knn_join_adaptive

    points = spark.createDataFrame(
        [(1, 1.41, 0.71), (2, 1.4, 3.7), (10, 1.4, 0.7)],
        "doc_id bigint, lon double, lat double",
    )
    queries = points.filter(F.col("doc_id") == 10)

    got = knn_join_adaptive(points, queries, k=2, res=7, max_ring=8).collect()
    assert {(r["neighbor_id"], r["rank"]) for r in got} == {(1, 1), (2, 2)}

    got2 = knn_join_adaptive(points, queries, k=2, res=7, max_ring=2).collect()
    assert {(r["neighbor_id"], r["rank"]) for r in got2} == {(1, 1), (2, 2)}


def _numpy_knn(points, queries, k):
    """Brute-force kNN in numpy: squared degrees, ties by neighbor id,
    the query's own id excluded; rows without coordinates never match."""
    located = [(i, x, y) for i, x, y in points if x is not None and y is not None]
    ids = np.array([i for i, _, _ in located], dtype=np.int64)
    lon = np.array([x for _, x, _ in located], dtype=np.float64)
    lat = np.array([y for _, _, y in located], dtype=np.float64)
    out = set()
    for qid, qx, qy in queries:
        if qx is None or qy is None:
            continue
        other = ids != qid
        dx, dy = qx - lon[other], qy - lat[other]
        d = dx * dx + dy * dy
        for rank, j in enumerate(np.lexsort((ids[other], d))[:k], start=1):
            out.add((qid, int(ids[other][j]), rank))
    return out


def _layout(name):
    """(points, queries) as lists of (id, lon, lat); ids >= 10_000 are
    queries that are not points."""
    rng = np.random.default_rng(7)
    if name == "pocket":
        # one dense pocket, a thin scatter far away, empty elsewhere
        pocket = rng.uniform([10.0, 10.0], [10.5, 10.4], size=(300, 2))
        scatter = rng.uniform([-120.0, -60.0], [-60.0, -20.0], size=(12, 2))
        xy = np.vstack([pocket, scatter])
        points = [(i, float(x), float(y)) for i, (x, y) in enumerate(xy)]
        queries = points[::25] + [(10_000, 150.0, 70.0), (10_001, -170.0, -85.0),
                                  (10_002, 12.0, 10.2)]
    elif name == "poles_antimeridian":
        xy = [(180.0, 0.0), (-180.0, 0.0), (179.9, 1.0), (-179.9, -1.0), (179.5, 0.5),
              (-179.5, -0.5), (0.0, 90.0), (90.0, 90.0), (-90.0, 90.0), (0.0, -90.0),
              (45.0, -90.0), (179.99, 89.99), (-179.99, -89.99), (0.0, 89.5),
              (181.0, 0.2)]  # outside the domain: clamped into the last column
        points = [(i, x, y) for i, (x, y) in enumerate(xy)]
        queries = points + [(10_000, 179.95, 0.0), (10_001, -179.95, 0.0),
                            (10_002, 0.0, 90.0), (10_003, 180.0, -90.0),
                            (10_004, 185.0, 0.0), (10_005, 0.0, 95.0)]
    elif name == "duplicates":
        xy = [(5.0, 5.0)] * 9 + [(5.0, 5.5)] * 4 + [(-40.0, 30.0)] * 3
        points = [(i, x, y) for i, (x, y) in enumerate(xy)]
        queries = points + [(10_000, 5.0, 5.0), (10_001, -40.0, 31.0)]
    elif name == "tight_bound":
        # at res 5 (cells 11.25° × 5.625°): query 0 sits at the top-left
        # corner of a cell whose other 4 points sit at the bottom-right,
        # so the cell alone holds k+1 and D = hypot(11.25, 5.625); point
        # 5, three rows up, is nearer than all of them and lies outside
        # ring floor(D / 5.625) = 2. Query 10's cell holds only k points,
        # itself included; its 4th neighbour, point 14, is 7 rows up.
        xy = [(0.01, 5.62), (11.2, 0.01), (11.21, 0.02), (11.22, 0.03), (11.23, 0.04),
              (0.01, 16.88), (-150.0, 1.0), (-150.1, 1.1), (-150.2, 1.2), (-150.3, 1.3),
              (-150.0, 40.0)]
        points = [(i if i < 6 else i + 4, x, y) for i, (x, y) in enumerate(xy)]
        queries = points
    elif name == "fewer_than_k":
        points = [(0, -100.0, 40.0), (1, 120.0, -30.0), (2, 0.0, 0.0)]
        queries = points + [(10_000, 60.0, 60.0)]
    elif name == "null_coords":
        xy = rng.uniform([-30.0, -30.0], [30.0, 30.0], size=(40, 2))
        points = [(i, float(x), float(y)) for i, (x, y) in enumerate(xy)]
        points += [(40, None, 1.0), (41, 2.0, None), (42, None, None)]
        queries = points[::5] + [(40, None, 1.0), (10_000, 0.5, None)]
    return points, queries


@pytest.mark.parametrize(
    "name",
    ["pocket", "poles_antimeridian", "duplicates", "tight_bound", "fewer_than_k", "null_coords"],
)
def test_adaptive_knn_exact_on_adversarial_layouts(spark, name):
    """The per-cell count bound is exact against numpy brute force on
    layouts built to break a grid kNN: empty regions around one dense
    pocket, points on the poles and both sides of the antimeridian,
    duplicate coordinates, neighbours just outside a too-small ring,
    fewer than k+1 points, NULL coordinates."""
    from trefoil_spark.operators.knn import knn_join_adaptive

    points, queries = _layout(name)
    schema = "doc_id bigint, lon double, lat double"
    got = knn_join_adaptive(
        spark.createDataFrame(points, schema), spark.createDataFrame(queries, schema),
        k=4, res=5, max_ring=64,
    ).collect()
    assert {(r["query_id"], r["neighbor_id"], r["rank"]) for r in got} == _numpy_knn(
        points, queries, 4
    )


def test_knn_kernels_drop_null_coordinates(spark):
    """Every kernel skips an unlocated point (its distance is NULL, which
    the ranking window would otherwise order first) and returns nothing
    for an unlocated query."""
    from trefoil_spark.operators.knn import (
        knn_join_adaptive,
        knn_join_bruteforce,
        knn_join_cells,
    )

    schema = "doc_id bigint, lon double, lat double"
    points = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 0.1, 0.1), (3, 0.2, 0.2), (4, None, 5.0)], schema
    )
    for queries in (
        points.filter("doc_id = 1"),
        points.filter("doc_id = 1 OR doc_id = 4").unionByName(
            spark.createDataFrame([(5, 1.0, None)], schema)
        ),
    ):
        for run in (
            lambda q: knn_join_bruteforce(points, q, k=2),
            lambda q: knn_join_cells(points, q, k=2, res=6, ring=1),
            lambda q: knn_join_adaptive(points, q, k=2, res=6),
        ):
            got = sorted(
                (r["query_id"], r["rank"], r["neighbor_id"])
                for r in run(queries).collect()
            )
            assert got == [(1, 1, 2), (1, 2, 3)]


def test_adaptive_knn_job_count_is_fixed(spark):
    """One pass: the same number of Spark jobs whether every query finds
    its neighbours in its own cell or needs a wide ring."""
    from trefoil_spark.operators.knn import knn_join_adaptive

    rng = np.random.default_rng(3)
    schema = "doc_id bigint, lon double, lat double"

    def jobs(xy, group):
        pts = spark.createDataFrame(
            [(i, float(x), float(y)) for i, (x, y) in enumerate(xy)], schema
        )
        sc = spark.sparkContext
        sc.setJobGroup(group, "knn job count")
        try:
            rows = knn_join_adaptive(pts, pts.filter("doc_id % 10 = 0"), k=3, res=6).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert rows
        return len(sc.statusTracker().getJobIdsForGroup(group))

    dense = rng.uniform([0.0, 0.0], [1.0, 1.0], size=(500, 2))
    sparse = rng.uniform([-180.0, -90.0], [180.0, 90.0], size=(40, 2))
    assert jobs(dense, "knn-dense") == jobs(sparse, "knn-sparse")


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
