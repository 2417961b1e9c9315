"""kNN/dedup/similarity/timeseries operator tests: scale paths must agree
with their exact baselines; tile ops must match numpy oracles."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_knn_cells_matches_bruteforce(spark, sf_dir):
    from trefoil_spark.operators.knn import knn_join_bruteforce, knn_join_cells
    from trefoil_spark.sources.pages import build_pages

    pages = build_pages(spark, sf_dir, with_html=False).select("doc_id", "lon", "lat")
    queries = pages.filter(F.col("doc_id") % 50 == 0)
    # ring chosen generous enough to contain the true k-th neighbor
    brute = knn_join_bruteforce(pages, queries, k=3).toPandas()
    cells = knn_join_cells(pages, queries, k=3, res=5, ring=2).toPandas()
    b = brute.sort_values(["query_id", "rank"]).reset_index(drop=True)
    c = cells.sort_values(["query_id", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(b, c)


def test_lsh_ann_subset_of_exact_ranking(spark, sf_dir):
    """LSH top-k is the exact ranking restricted to the bucket — every
    returned neighbor must appear in the exact top-k of its bucket; recall
    vs global exact top-k is reported, not asserted (approximation)."""
    from trefoil_spark.operators.similarity import cosine_topk, lsh_ann_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    from trefoil_spark.operators.similarity import bucket_expr, hyperplanes

    exact = cosine_topk(emb, queries, k=emb.count()).toPandas()
    approx = lsh_ann_topk(emb, queries, k=5).toPandas()
    assert len(approx) > 0

    # structural: every returned neighbor shares the query's bucket...
    be = bucket_expr("embedding", hyperplanes(64), "spark")
    buckets = {
        r["vec_id"]: r["b"]
        for r in emb.selectExpr("vec_id", f"{be} AS b").collect()
    }
    for q, n in zip(approx.query_id, approx.neighbor_id):
        assert buckets[q] == buckets[n]
    # ...and the within-bucket ranking preserves the exact global order
    exact_rank = {
        (q, n): r
        for q, n, r in zip(exact.query_id, exact.neighbor_id, exact["rank"])
    }
    for q in approx.query_id.unique():
        sub = approx[approx.query_id == q].sort_values("rank")
        global_ranks = [exact_rank[(q, n)] for n in sub.neighbor_id]
        assert global_ranks == sorted(global_ranks)


def test_dedup_finds_planted_duplicates(spark, sf_dir):
    from trefoil_spark.operators.dedup import (
        exact_duplicate_groups,
        minhash_near_duplicates,
        simhash_near_duplicates,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    planted = docs.unionByName(
        docs.filter(F.col("doc_id") % 10 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1000000
        )
    )
    n_planted = docs.filter(F.col("doc_id") % 10 == 0).count()

    groups = exact_duplicate_groups(planted).collect()
    assert len(groups) == n_planted
    assert all(g["n_dups"] == 2 for g in groups)
    assert all(g["keep_id"] < 1000000 for g in groups)  # min-id wins

    near = minhash_near_duplicates(planted, threshold=0.99).toPandas()
    found = set(zip(near.id_a, near.id_b))
    for d in range(0, n_planted * 10, 10):
        assert (d, d + 1000000) in found

    sim = simhash_near_duplicates(planted, max_hamming=0).toPandas()
    simfound = set(zip(sim.id_a, sim.id_b))
    for d in range(0, n_planted * 10, 10):
        assert (d, d + 1000000) in simfound


def test_interval_statistic_tiles(spark):
    """A5 parity: tile-grain interval mean equals the reference reshape
    semantics (summary.py:87-112) computed in numpy."""
    from trefoil_spark.grid.bbox import BBox
    from trefoil_spark.raster.gridspec import GridSpec
    from trefoil_spark.raster.synth import block_values, synthetic_tiles
    from trefoil_spark.raster.timeseries import statistic_by_interval

    spec = GridSpec.from_bbox(BBox((-125.0, 32.0, -113.0, 38.0), "EPSG:4326"), 512, 256)
    tiles = synthetic_tiles(spark, spec, timesteps=4)
    out = statistic_by_interval(tiles, 2, "mean").collect()
    assert len(out) == 2 * 2  # 2 intervals x (1x2 tiles)
    by_key = {(r["t"], r["ty"], r["tx"]): r for r in out}
    cube = np.stack([block_values(spec, t, 0, 0) for t in range(4)])
    want = np.ma.masked_invalid(cube).reshape(2, 2, 256, 256).mean(axis=1)
    got0 = np.frombuffer(by_key[(0, 0, 0)]["block"], dtype=np.float32).reshape(256, 256)
    assert np.allclose(got0, want[0].filled(np.nan), equal_nan=True, atol=1e-4)


def test_linear_regression_rows_matches_lstsq(spark):
    """A11 parity: the row-grain OLS over pixel rows equals numpy lstsq
    per pixel (reference timeseries.py:79-133 semantics)."""
    from trefoil_spark.grid.bbox import BBox
    from trefoil_spark.raster.gridspec import GridSpec
    from trefoil_spark.raster.synth import block_values
    from trefoil_spark.raster.timeseries import linear_regression_rows

    spec = GridSpec.from_bbox(BBox((-125.0, 32.0, -113.0, 38.0), "EPSG:4326"), 256, 256)
    cube = np.stack([block_values(spec, t, 0, 0) for t in range(4)]).astype(np.float64)
    pixels = [(0, 0), (5, 7), (100, 200)]
    rows = [
        (i, t, None if np.isnan(cube[t, py, px]) else float(cube[t, py, px]))
        for i, (py, px) in enumerate(pixels) for t in range(4)
    ]
    df = spark.createDataFrame(rows, "pix int, t int, v double")
    out = {r["pix"]: r for r in linear_regression_rows(df, "pix", "t", "v").collect()}

    ts = np.arange(4, dtype=np.float64)
    for i, (py, px) in enumerate(pixels):
        vals = cube[:, py, px]
        if np.isnan(vals).any():
            continue
        A = np.vstack([ts, np.ones(4)]).T
        want_slope, want_icpt = np.linalg.lstsq(A, vals, rcond=None)[0]
        assert out[i]["slope"] == pytest.approx(want_slope, rel=1e-9)
        assert out[i]["intercept"] == pytest.approx(want_icpt, rel=1e-9, abs=1e-9)


def test_calculate_delta(spark):
    from trefoil_spark.grid.bbox import BBox
    from trefoil_spark.raster.gridspec import GridSpec
    from trefoil_spark.raster.synth import block_values, synthetic_tiles
    from trefoil_spark.raster.timeseries import calculate_delta

    spec = GridSpec.from_bbox(BBox((-125.0, 32.0, -113.0, 38.0), "EPSG:4326"), 256, 256)
    t0 = synthetic_tiles(spark, spec, timesteps=1, var="a")
    t1 = synthetic_tiles(spark, spec, timesteps=1, var="b").withColumn(
        "block", F.col("block")  # same values; delta vs itself = 0
    )
    out = calculate_delta(t0, t1).collect()
    blk = np.frombuffer(out[0]["block"], dtype=np.float32)
    assert np.nanmax(np.abs(blk)) == 0.0


def test_text_fingerprint_order_sensitivity(spark, sf_dir):
    """Fingerprint must differ when token order changes (rolling hash)."""
    from trefoil_spark.operators.textstats import fingerprint_col

    df = spark.createDataFrame(
        [("a b c",), ("c b a",), ("a b c",)], "text string"
    ).select(fingerprint_col("text").alias("fp"))
    fps = [r["fp"] for r in df.collect()]
    assert fps[0] == fps[2]
    assert fps[0] != fps[1]


def test_multimodal_real_decode_roundtrip(spark, sf_dir):
    """Real PNG/BMP/WebP/ICO/GIF/TIFF/lossy-VP8 bytes through a repartition,
    decoded with the own codecs: lossless per-channel sums equal the
    closed-form generator; lossy sums equal the engine's reference
    decode of the same flat source (determinism, not exactness)."""
    import numpy as np
    from pyspark.sql import functions as F

    from trefoil_spark.functions.vp8 import encode_webp_lossy
    from trefoil_spark.functions.webp import decode_webp
    from trefoil_spark.operators.multimodal import (
        LOSSY_QI,
        attach_real_images,
        decode_image_features,
        lossy_flat_image,
        synth_image,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id").limit(40)
    out = decode_image_features(
        attach_real_images(docs).repartition(4, "doc_id")
    ).collect()
    assert len(out) == 40
    fmts = set()
    for r in out:
        if r["doc_id"] % 4 == 3:
            ref = decode_webp(
                encode_webp_lossy(lossy_flat_image(r["doc_id"] % 256), qi=LOSSY_QI)
            )
            sums = ref[..., :3].astype(np.int64).sum(axis=(0, 1))
        else:
            sums = synth_image(r["doc_id"]).astype(np.int64).sum(axis=(0, 1))
        assert (r["sum_r"], r["sum_g"], r["sum_b"]) == tuple(int(s) for s in sums)
        want_fmt = {
            0: "png", 1: "webp", 2: "gif", 3: "webp_lossy",
            4: "bmp", 5: "ico", 6: "tiff",  # r6: DEFLATE RGB TIFF leg
            7: "webp_x",  # VP8X + ALPH wrapped lossy payload
        }[r["doc_id"] % 8]
        assert r["fmt"] == want_fmt
        assert (r["width"], r["height"]) == (16, 16)
        fmts.add(r["fmt"])
    assert fmts == {"png", "bmp", "webp", "ico", "gif", "tiff",
                    "webp_lossy", "webp_x"}


def test_html_extract_recovers_bytes(spark, sf_dir):
    """Extraction chain inverts the markup construction exactly, and the
    in-body script removal is load-bearing (its literal contains </p>)."""
    from pyspark.sql import functions as F

    from trefoil_spark.operators.textstats import (
        build_rich_html_col,
        extract_text_col,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "source"
    ).limit(50)
    out = (
        docs.withColumn("html", build_rich_html_col())
        .withColumn("extracted", extract_text_col("html"))
        .withColumn("same", F.col("extracted") == F.col("text"))
    )
    rows = out.collect()
    assert len(rows) == 50 and all(r["same"] for r in rows)
    # without script removal the extraction corrupts: prove the noise bites
    naive = docs.withColumn("html", build_rich_html_col()).withColumn(
        "bad",
        F.regexp_replace(
            F.regexp_extract("html", r"(?s)<body[^>]*>(.*)</body>", 1),
            r"(?s)<[^>]*>", "",
        ),
    )
    bad = naive.withColumn("same", F.col("bad") == F.col("text")).collect()
    assert not any(r["same"] for r in bad)


def test_audio_wav_roundtrip():
    """Own WAV codec: int16 mono and stereo round-trip byte-exactly."""
    import numpy as np

    from trefoil_spark.functions.wav import decode_wav, encode_wav

    rng = np.random.default_rng(5)
    mono = rng.integers(-32768, 32768, 777, dtype=np.int16)
    arr, rate = decode_wav(encode_wav(mono, 8000))
    assert rate == 8000 and arr.shape == (777, 1)
    assert np.array_equal(arr[:, 0], mono)
    stereo = rng.integers(-32768, 32768, (100, 2), dtype=np.int16)
    arr2, rate2 = decode_wav(encode_wav(stereo, 44100))
    assert rate2 == 44100 and np.array_equal(arr2, stereo)


def test_embedding_neardup_hot_bucket_cap(spark):
    """The hot-bucket guard keeps a deterministic cap-row stratified
    sample of over-populated LSH keys instead of going quadratic: 200
    identical vectors (one degenerate bucket) plus two planted
    near-dups elsewhere.  r6: was a wholesale drop (recall_hot == 0);
    now exactly C(cap, 2) pairs survive inside the hot bucket and the
    surviving ids are the Knuth-scramble sample, replayable in SQL."""
    import numpy as np

    from trefoil_spark.operators.dedup import (
        _SCRAMBLE_MOD,
        _SCRAMBLE_MULT,
        embedding_near_duplicates,
    )

    rng = np.random.default_rng(4)
    base = rng.standard_normal(16)
    rows = [(i, (base * 0.0 + 1.0).tolist()) for i in range(200)]  # one bucket
    va = rng.standard_normal(16)
    rows += [(1000, va.tolist()), (1001, (va + 0.001).tolist())]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    # uncapped: the degenerate bucket alone yields 19900 pairs
    full = embedding_near_duplicates(df, threshold=0.99, n_planes=6,
                                     max_bucket=None)
    assert full.count() >= 19900
    capped = embedding_near_duplicates(df, threshold=0.99, n_planes=6,
                                       max_bucket=50)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (1000, 1001) in got          # planted pair survives
    hot_pairs = {(a, b) for a, b in got if a < 1000}
    # bounded work: exactly C(50, 2) pairs, never the 19900 quadratic
    assert len(hot_pairs) == 50 * 49 // 2
    # and the survivors are exactly the deterministic scramble sample
    sample = set(sorted(range(200),
                        key=lambda i: ((i * _SCRAMBLE_MULT) % _SCRAMBLE_MOD, i))[:50])
    hot_ids = {i for pair in hot_pairs for i in pair}
    assert hot_ids == sample


def test_lsh_hot_key_guard_63bit_ids(spark):
    """ADVICE r6 (high): the hot-key scramble used to compute
    id*2654435761 in raw int64 — a 63-bit hashed doc_id (the WARC
    source mints those) overflowed under Spark 4's default ANSI mode
    and crashed every minhash/simhash/embedding dedup over crawl data.
    The pmod(id, 2^31) pre-fold keeps the product < 2^63; this test
    plants a degenerate bucket of 63-bit ids and checks (a) no
    ARITHMETIC_OVERFLOW, (b) the cap holds, (c) the DuckDB twin
    expression ranks the ids bit-identically."""
    import duckdb

    from trefoil_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        scramble_expr,
        scramble_sql_duckdb,
    )

    base = (1 << 62) + (1 << 61)  # well past 2^63 / 2654435761
    rows = [(base + i, "the same boilerplate text repeated verbatim")
            for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    sigs = minhash_signatures(df)
    pairs = lsh_candidate_pairs(sigs, max_bucket=5).collect()  # was: crash
    ids = {r["id_a"] for r in pairs} | {r["id_b"] for r in pairs}
    assert len(ids) == 5  # cap held: only the 5 sampled ids pair up

    # twin check: Spark scramble_expr == DuckDB scramble_sql_duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    test_ids = [0, 1, 7, (1 << 31) - 1, 1 << 31, (1 << 40) + 3,
                (1 << 62) + 12345, (1 << 63) - 1]
    sdf = spark.createDataFrame([(i,) for i in test_ids], "doc_id bigint")
    got_spark = [r[0] for r in
                 sdf.select(scramble_expr("doc_id")).collect()]
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"doc_id": test_ids}))
    got_duck = [r[0] for r in con.execute(
        f"SELECT {scramble_sql_duckdb('doc_id')} FROM t").fetchall()]
    assert got_spark == got_duck
