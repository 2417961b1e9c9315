"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an implemented operator from SURVEY.md §2,
expressed through the trefoil_spark engine; ``oracle_sql()`` gives the
DuckDB-equivalent ANSI SQL over the same parquet views. Column names are
aliased identically on both sides (the driver hash-compares values after
sorting columns by name).

Float-parity policy: every checked aggregate is either exact (counts,
sums of integers, min/max) or an IEEE-deterministic expression over exact
partial sums (mean/std written as SUM/COUNT expression trees that are
identical in both engines), so value hashes match bit-for-bit.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))  # defensive

from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trefoil_spark.geometry import pip_sql_expr
from trefoil_spark.operators.dedup import DEFAULT_MAX_BUCKET as _MAX_BUCKET
from trefoil_spark.operators.dedup import scramble_sql_duckdb as _scr_sql
from trefoil_spark.grid.bbox import BBox
from trefoil_spark.operators.pip_join import pip_join
from trefoil_spark.operators.zonal import zonal_statistics
from trefoil_spark.raster.classify import classify_block, classify_sql, equal_interval_breaks
from trefoil_spark.raster.gridspec import GridSpec
from trefoil_spark.raster.rasterize import rasterize_zones
from trefoil_spark.raster.synth import synthetic_tiles, value_sql
from trefoil_spark.raster.window_ops import extract_window_pixels, tile_histogram
from trefoil_spark.raster.zonal import tile_zonal_statistics
from trefoil_spark.sources.pages import build_pages, pages_cte_sql
from trefoil_spark.sources.zones import ZONE_LAYER

# the raster fixture grid: dyadic pixels over the fixture region so pixel
# centers are exact IEEE doubles in Spark, numpy, and DuckDB alike
REGION = BBox((-125.0, 32.0, -113.0, 38.0), "EPSG:4326")
SPEC = GridSpec.from_bbox(REGION, width=1024, height=512)
BREAKS = equal_interval_breaks(0.0, 999.0, 5)
QUERY_BBOX = BBox((-122.3, 33.1, -115.7, 36.9), "EPSG:4326")
_DST_SPEC = GridSpec.from_bbox(REGION.project("EPSG:3857"), width=1024, height=512)

# F20 warp targets: a Lambert Conformal Conic grid covering the fixture
# region (corners projected once, deterministically, with our own Snyder
# forward) and the 2× mode-downsample grid
_LCC_CRS = "+proj=lcc +lat_1=33 +lat_2=37 +lat_0=32 +lon_0=-119 +ellps=WGS84"


def _make_lcc_spec() -> GridSpec:
    from trefoil_spark.grid import proj as _proj

    xs, ys = _proj.transform(
        "EPSG:4326", _LCC_CRS,
        np.array([-125.0, -113.0, -125.0, -113.0, -119.0]),
        np.array([32.0, 32.0, 38.0, 38.0, 38.0]),
    )
    return GridSpec(
        x0=float(xs.min()), y0=float(ys.max()),
        dx=(float(xs.max()) - float(xs.min())) / 1024.0,
        dy=(float(ys.max()) - float(ys.min())) / 512.0,
        width=1024, height=512, crs=_LCC_CRS,
    )


_LCC_SPEC = _make_lcc_spec()
_PNG_MD5_FIXTURE = (
    (0, 0, '5691af84f8a565f292a209d45042f3e8'),
    (0, 1, '032ed547d8acccfb07e873eea56586f4'),
    (0, 2, '9ff53dd345d18960f521d06e22628ae1'),
    (0, 3, '82b9a6c74b3b11584ab1b32326677f72'),
    (1, 0, 'f9e720aa7baa4c44ef7c3cc087c9eb1f'),
    (1, 1, '7aaefbb29621f9a81c56f09e44a4fc48'),
    (1, 2, '1e39041e5871e5450e1b715a8841b3b9'),
    (1, 3, '0a470b5018e6bbdcb6fc0da1c0b314b7'),
)  # regenerate: python tools/freeze_png_md5.py (spark-free numpy path)
_MODE_DST_SPEC = GridSpec.from_bbox(REGION, width=512, height=256)
# bilinear dst grid: width 1000 (not 1024) ON PURPOSE — the dyadic
# 1024-wide grid puts every dst column exactly on a src half-pixel, i.e.
# floor(gx-0.5) sits ON a knife edge where a 1-ulp engine difference
# (DuckDB fuses x0+(x+0.5)*dx into an FMA) flips the gather; with
# 1024/1000 = 128/125, (2x+1)*128/125 = k+1/2 has no integer solution,
# so every fx is provably bounded away from the flip boundary
_BILIN_DST_SPEC = GridSpec.from_bbox(REGION.project("EPSG:3857"), width=1000, height=500)


# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------

def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_pages(spark, sf_dir, with_html=False)


def _osort(df: DataFrame, *cols: str) -> DataFrame:
    """orderBy with a materialization barrier before the range exchange.

    r8 (guide §2.4/§7.2): a global sort range-partitions its input, and
    the boundary-sampling job EXECUTES THE CHILD PLAN a second time.
    AQE's materialized shuffle stages shield queries whose child ends in
    an exchange, but a narrow chain (scan → codegen projections →
    Arrow/pandas eval) runs twice — for md5-fingerprint or decode-heavy
    chains that doubled the query (text_stats measured 1.30 s → ~0.7 s).
    The lazy localCheckpoint materializes the (small, final) result once
    per invocation inside the same job cascade; sampling and the sort
    then read the cached blocks. Blocks are freed when the DataFrame is
    GC'd; nothing persists across invocations (each call builds a fresh
    plan), so every run still computes from the parquet inputs.
    """
    return df.localCheckpoint(eager=False).orderBy(*cols)


def _zone_case_sql() -> str:
    """Burn-order zone assignment as a CASE over generated PIP SQL."""
    cases = []
    for fid in reversed(range(len(ZONE_LAYER))):
        poly = ZONE_LAYER[fid]
        cases.append(f"WHEN {pip_sql_expr('lon', 'lat', poly)} THEN '{poly.value}'")
    return f"CASE {' '.join(cases)} END"


_PAGES_CTE = pages_cte_sql("documents")


# ---------------------------------------------------------------------------
# queries (spark side)
# ---------------------------------------------------------------------------

def q_cell_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 P1-P4 analog at record grain: geotag → qcell key (pure
    Catalyst integer expressions, codegen; the partition key of the engine)."""
    # plain orderBy (no _osort): the chain is cheap codegen — paying it
    # twice in the range-sampling pass costs less than a checkpoint write
    return _pages(spark, sf_dir).select("doc_id", "lat", "lon", "cell").orderBy("doc_id")


def q_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 J1/J2: broadcast covering-index PIP join with burn-order
    overlap resolution (rasterize-centroid semantics)."""
    joined = pip_join(_pages(spark, sf_dir), ZONE_LAYER)
    return _osort(joined.select("doc_id", "url", "zone_value"), "doc_id")


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 A1: zonal statistics {mean,min,max,std,sum,count} over the
    PIP-join result — the flagship zonal-stats pipeline (one shuffle).
    The wide text column is reduced to n_chars BEFORE the join: every
    column alive across pip_join's refine Project (which does not
    codegen) is copied out of the scan stage per row."""
    slim = _pages(spark, sf_dir).select(
        "lat", "lon", F.length("text").cast("bigint").alias("n_chars")
    )
    joined = pip_join(slim, ZONE_LAYER)
    return zonal_statistics(joined, "zone_value", "n_chars").orderBy("zone_value")


def q_shp_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 S3 (vector file source): the zone layer round-trips
    through an actual ESRI .shp/.dbf file (pure-numpy writer+reader,
    record-level bbox pushdown) before driving the same zonal pipeline —
    a reference user's bring-your-own-shapefile path, end to end."""
    import os
    import tempfile

    from trefoil_spark.sources.shapefile import (
        read_polygon_layer,
        write_polygon_shapefile,
    )

    d = tempfile.mkdtemp(prefix="trefoil_shp_")
    path = os.path.join(d, "zones.shp")
    write_polygon_shapefile(path, ZONE_LAYER)
    polys = read_polygon_layer(path)  # bit-exact vertex round-trip
    slim = _pages(spark, sf_dir).select(
        "lat", "lon", F.length("text").cast("bigint").alias("n_chars")
    )
    joined = pip_join(slim, polys)
    return zonal_statistics(joined, "zone_value", "n_chars").orderBy("zone_value")


def q_count_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 A2 (count by category) over pages."""
    return (
        _pages(spark, sf_dir)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy("lang")
    )


def q_tile_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 J1+J3+A1: the full trefoil zonal_stats pipeline on the tile
    engine — rasterize polygons to zone tiles (PIP of pixel centers, burn
    order), join value tiles, per-tile numpy partials, final agg."""
    tiles = synthetic_tiles(spark, SPEC)
    ztiles = rasterize_zones(spark, SPEC, ZONE_LAYER)
    return tile_zonal_statistics(tiles, ztiles).orderBy("zone")


def q_render_stretch_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 F5/F6/S8 (render core): the StretchedRenderer's palette
    INDICES — the image content; PNG encode is packaging — histogrammed
    over the synthetic grid through the production `_indices` path
    (trunc-toward-zero × factor, clip), with an exact integer oracle."""
    from trefoil_spark.functions.color import Color
    from trefoil_spark.raster.render import StretchedRenderer
    from trefoil_spark.raster.window_ops import tile_histogram

    renderer = StretchedRenderer(
        [(0.0, Color(0, 0, 0)), (999.0, Color(255, 255, 255))],
        colorspace="rgb",
        palette_size=90,
    )
    tiles = synthetic_tiles(spark, SPEC)
    hist = tile_histogram(
        tiles, transform=lambda blk: renderer._indices(blk).astype(np.float64)
    )
    return hist.select(
        F.col("value").cast("bigint").alias("palette_idx"), "count"
    ).orderBy("palette_idx")


def q_albers_zone_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 A3/F25 area-true variant: per-zone ellipsoid (WGS84)
    area in m² via the authalic q function — the quantity the reference's
    --albers local-projection workflow measures — with BIGINT-exact
    per-pixel integer areas shared with the DuckDB oracle."""
    from trefoil_spark.raster.zonal import zone_true_area

    ztiles = rasterize_zones(spark, SPEC, ZONE_LAYER)
    return zone_true_area(ztiles, SPEC).orderBy("zone")


def q_masked_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 P9/J5: mask dataset OR-ed onto the data mask before the
    zonal pipeline (reference render_netcdf.py:306-322 semantics) — the
    mask rides as a tile table, co-keyed (ty,tx) join, masked pixels →
    NaN, zonal stats unchanged downstream."""
    from trefoil_spark.raster.mask import apply_mask, synthetic_mask_tiles

    tiles = apply_mask(synthetic_tiles(spark, SPEC), synthetic_mask_tiles(spark, SPEC))
    ztiles = rasterize_zones(spark, SPEC, ZONE_LAYER)
    return tile_zonal_statistics(tiles, ztiles).orderBy("zone")


def q_autocrop_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 P10 (data-window autocrop): all-nodata borders are
    blanked by a border mask, then the global non-nodata bounding window
    is found with per-tile numpy partials + one exact integer min/max
    agg (reference convert.py:140-152 semantics). The full crop operator
    (tile trim + re-based GridSpec) is asserted in pytest."""
    from trefoil_spark.raster.autocrop import data_window_df
    from trefoil_spark.raster.mask import apply_mask, border_mask_tiles

    bm = border_mask_tiles(spark, SPEC, top=7, bottom=3, left=5, right=11)
    tiles = apply_mask(synthetic_tiles(spark, SPEC), bm)
    return data_window_df(tiles, SPEC)


def q_tile_delta_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 J4/F1 (grid-alignment delta join): t=1 tiles ⨝ t=0 tiles
    on (ty,tx), elementwise difference, histogram of delta values (exact
    integer-valued float32 deltas → portable)."""
    from trefoil_spark.raster.timeseries import calculate_delta
    from trefoil_spark.raster.window_ops import tile_histogram

    tiles = synthetic_tiles(spark, SPEC, timesteps=2)
    base = tiles.filter(F.col("t") == 0)
    comp = tiles.filter(F.col("t") == 1).withColumn("t", F.lit(0))
    delta = calculate_delta(base, comp)
    hist = tile_histogram(delta)
    return hist.select(
        F.col("value").cast("bigint").alias("delta"), "count"
    ).orderBy("delta")


def q_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 A8/F23 (describe/info): per-variable time extent, value
    min/max, valid-pixel count over a 2-timestep tile table."""
    from trefoil_spark.sources.ingest import describe_tiles_df

    tiles = synthetic_tiles(spark, SPEC, timesteps=2)
    return describe_tiles_df(tiles).orderBy("var")


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized kNN join (SURVEY §2 J— north rule): ALL THREE
    strategies in one driver row — 'adaptive' (ring-expansion grid kNN,
    proven-complete DataFrame-only done/remaining split), 'brute' (the
    declared exactness baseline), 'cells' (cell-neighborhood candidates,
    the scale path; exact at this (res, ring) for the fixture density,
    also asserted vs brute in tests). Each strategy is exact here, so
    ONE brute-force SQL replicated per strategy label is the oracle."""
    from trefoil_spark.operators.knn import (
        knn_join_adaptive,
        knn_join_bruteforce,
        knn_join_cells,
    )

    pages = _pages(spark, sf_dir).select("doc_id", "lon", "lat")
    queries = pages.filter(F.col("doc_id") % 100 == 0)
    outs = [
        ("adaptive", knn_join_adaptive(pages, queries, k=5, res=6, max_ring=64)),
        ("brute", knn_join_bruteforce(pages, queries, k=5)),
        ("cells", knn_join_cells(pages, queries, k=5, res=6, ring=1)),
    ]
    u = None
    for name, out in outs:
        o = out.select(
            F.lit(name).alias("strategy"),
            "query_id",
            "neighbor_id",
            F.col("rank").cast("bigint").alias("rank"),
        )
        u = o if u is None else u.unionByName(o)
    return u.orderBy("strategy", "query_id", "rank")


def q_tile_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 P3/P5: bbox → Window (half-pixel-inset reference semantics)
    → tile pruning → intra-tile slice; aggregated so the oracle is stable."""
    tiles = synthetic_tiles(spark, SPEC)
    px = extract_window_pixels(tiles, SPEC, QUERY_BBOX)
    return px.groupBy().agg(
        F.sum("v").alias("sum"),
        F.count("v").alias("count"),
        F.min("y").alias("ymin"),
        F.max("y").alias("ymax"),
        F.min("x").alias("xmin"),
        F.max("x").alias("xmax"),
    )


def q_tile_classify_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 F2+A2: digitize-classify tiles, count per class."""
    tiles = synthetic_tiles(spark, SPEC)
    hist = tile_histogram(tiles, transform=lambda b: classify_block(b, BREAKS))
    return hist.withColumn("class", F.col("value").cast("bigint")).select(
        "class", "count"
    ).orderBy("class")


# ---------------------------------------------------------------------------
# text / dedup / similarity / knn / analytic queries
# ---------------------------------------------------------------------------

def _docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ exact copies (doc_id%10==0, id+1e6) ∪ near copies with
    the last token dropped (doc_id%7==0, id+2e6) — deterministic in both
    engines; the dedup fixtures."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    docs.createOrReplaceTempView("_docs0")
    return spark.sql(_DOCS_DUPS_SQL_SPARK)


_DOCS_DUPS_SQL_SPARK = """
    SELECT doc_id, text FROM _docs0
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM _docs0 WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id,
           array_join(slice(split(text, ' '), 1, size(split(text, ' ')) - 1), ' ') AS text
    FROM _docs0 WHERE doc_id % 7 = 0
"""

_DOCS_DUPS_SQL_DUCK = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id,
           array_to_string(list_slice(string_split(text, ' '), 1,
                           len(string_split(text, ' ')) - 1), ' ') AS text
    FROM documents WHERE doc_id % 7 = 0
"""


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline text analysis: token counts, quality features,
    lang-ID heuristic, rolling-hash fingerprint — all codegen, no Python."""
    from trefoil_spark.operators.textstats import text_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    out = text_stats(docs)
    out = out.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_distinct_tokens").cast("bigint").alias("n_distinct_tokens"),
        "type_token_ratio", "mean_token_len", "fingerprint", "lang_pred",
    )
    return _osort(out, "doc_id")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trefoil_spark.operators.dedup import exact_duplicate_groups

    return (
        exact_duplicate_groups(_docs_with_dups(spark, sf_dir))
        .orderBy("text_hash")
    )


def q_dedup_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup strategies consolidated in ONE driver row (r7 frees two
    registry slots for the curation-stack rows — VERDICT r6 item 1):

    - method='minhash': MinHash+LSH candidate pairs, exact-Jaccard
      verified >= 0.5, over the planted-duplicates fixture;
    - method='ngram': bigram-set Jaccard verify over planted pairs;
    - method='simhash': Hamming <= 3 pairs via 4x15-bit pigeonhole
      bands over the raw documents table (pure-Catalyst 60-bit
      bit-majority signature), inter = hamming, union_size = 0."""
    from trefoil_spark.operators.dedup import (
        jaccard_pairs,
        minhash_near_duplicates,
        simhash_near_duplicates,
    )

    docs = _docs_with_dups(spark, sf_dir)
    mh = minhash_near_duplicates(docs, threshold=0.5).select(
        F.lit("minhash").alias("method"),
        "id_a", "id_b",
        F.col("inter").cast("bigint").alias("inter"),
        F.col("union_size").cast("bigint").alias("union_size"),
    )
    pairs = (
        docs.filter(F.col("doc_id") >= 2000000)
        .select((F.col("doc_id") - 2000000).alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    ng = jaccard_pairs(docs, pairs, ngram=2).select(
        F.lit("ngram").alias("method"),
        "id_a", "id_b",
        F.col("inter").cast("bigint").alias("inter"),
        F.col("union_size").cast("bigint").alias("union_size"),
    )
    plain = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    sh = simhash_near_duplicates(plain, max_hamming=3).select(
        F.lit("simhash").alias("method"),
        "id_a", "id_b",
        F.col("hamming").cast("bigint").alias("inter"),
        F.lit(0).cast("bigint").alias("union_size"),
    )
    return (
        mh.unionByName(ng).unionByName(sh)
        .orderBy("method", "id_a", "id_b")
    )


_EMB_DUP_SHIFT = "CAST(0.01 AS DOUBLE)"
_EMB_DUP_TAU = "CAST(0.99 AS DOUBLE)"


# dedup_embedding recall fixture constants (shared with the oracle):
# 250 identical vectors form one degenerate bucket > the 200 cap with
# 125 planted pairs inside it — the guard keeps a deterministic
# 200-row stratified sample (r6: was a wholesale drop, recall_hot == 0;
# now a pair survives iff both endpoints rank inside the sample, so
# recall_hot > 0 at the same bounded cost — both driver-measured)
_EMB_HOT_N = 250
_EMB_HOT_PAIRS = _EMB_HOT_N // 2
_EMB_RECALL_CAP = 200


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup (the fifth dedup modality) WITH the
    hot-key guard's recall contract made measurable (r5).

    Fixture: every 10th vector gets a planted +0.01-shifted variant
    (cos ≈ 0.997 vs a 0.51 background max) — the 'normal' planted set —
    plus 250 identical constant vectors holding 125 planted pairs inside
    ONE degenerate LSH bucket that exceeds the 200-row cap, so the guard
    keeps its deterministic 200-row stratified sample (r6 — previously a
    wholesale drop). Output sections:

    - 'pair': the found near-dup pairs (LSH buckets → exact cosine
      >= 0.99), as before
    - 'recall_normal': id_a = planted normal pairs, id_b = found
    - 'recall_hot': id_a = planted hot-bucket pairs, id_b = found (> 0:
      a planted pair survives iff both endpoints rank inside the
      Knuth-scramble sample — the cap's recall cost AND the sampling
      recovery are both driver-measured)

    The oracle replays the identical planes, fold arithmetic, cap and
    planted sets, so the recall numbers are hash-gated, not asserted."""
    from trefoil_spark.operators.dedup import embedding_near_duplicates

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )
    planted = base.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.expr(
            f"transform(embedding, x -> x + {_EMB_DUP_SHIFT})"
        ).alias("embedding"),
    )
    hot = spark.range(_EMB_HOT_N).select(
        (F.col("id") + 3000000).alias("vec_id"),
        F.expr("array_repeat(CAST(0.5 AS DOUBLE), 64)").alias("embedding"),
    )
    pairs = embedding_near_duplicates(
        base.unionByName(planted).unionByName(hot),
        threshold=0.99,
        n_planes=8,
        dim=64,
        max_bucket=_EMB_RECALL_CAP,
    )
    planted_normal = base.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("id_a"),
        (F.col("vec_id") + 1000000).alias("id_b"),
    )
    planted_hot = spark.range(_EMB_HOT_PAIRS).select(
        (F.lit(3000000) + 2 * F.col("id")).alias("id_a"),
        (F.lit(3000000) + 2 * F.col("id") + 1).alias("id_b"),
    )

    def recall_row(name: str, planted_df: DataFrame) -> DataFrame:
        found = planted_df.join(pairs, ["id_a", "id_b"], "left_semi")
        return (
            planted_df.agg(F.count("*").alias("id_a"))
            .crossJoin(found.agg(F.count("*").alias("id_b")))
            .select(F.lit(name).alias("section"), "id_a", "id_b")
        )

    return (
        pairs.select(F.lit("pair").alias("section"), "id_a", "id_b")
        .unionByName(recall_row("recall_normal", planted_normal))
        .unionByName(recall_row("recall_hot", planted_hot))
        .orderBy("section", "id_a", "id_b")
    )


def q_similarity_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized ANN search — all three strategies in one driver row:
    'exact' (brute-force cosine top-5, the declared baseline), 'lsh'
    (random-hyperplane bucket equi-join), 'ivf' (posting-list ANN on a
    FIXED centroid fixture trained once on the sf0.01 sample — like
    ZONE_LAYER and the LSH planes — so query and static oracle agree at
    every sf; assignment is a portable JVM argmin with a bit-identical
    DuckDB twin baked from the same array)."""
    from trefoil_spark.operators.similarity import (
        cosine_topk,
        fixture_centroids,
        ivf_ann_topk,
        lsh_ann_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    cents = fixture_centroids("/root/testdata/sf0.01", n_centroids=8)
    outs = [
        ("exact", cosine_topk(emb, queries, k=5)),
        ("ivf", ivf_ann_topk(emb, queries, k=5, centroids=cents)),
        ("lsh", lsh_ann_topk(emb, queries, k=5)),
    ]
    u = None
    for name, out in outs:
        o = out.select(
            F.lit(name).alias("strategy"),
            "query_id",
            "neighbor_id",
            F.col("rank").cast("bigint").alias("rank"),
        )
        u = o if u is None else u.unionByName(o)
    return u.orderBy("strategy", "query_id", "rank")


def q_weighted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 A4 (weighted MEAN/STD incl. the reference's v*w-std quirk)."""
    from trefoil_spark.operators.zonal import weighted_statistics

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return weighted_statistics(li, "l_quantity", "l_linenumber")


def q_mean_of_file_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 A7: global min/max but mean-of-per-group-means quirk."""
    from trefoil_spark.operators.zonal import mean_of_file_means

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return mean_of_file_means(li, "l_returnflag", "l_quantity")


def q_interval_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 A5/A6 row grain: 6-hour tumbling bins over events
    (sum kept exact via integer cents)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    binned = ev.withColumn(
        "interval", F.floor(F.unix_timestamp("ts") / 21600).cast("bigint")
    ).withColumn("cents", F.round(F.col("value") * 100).cast("bigint"))
    return (
        binned.groupBy("interval")
        .agg(
            F.count(F.lit(1)).alias("count"),
            (F.sum("cents").cast("double") / 100).alias("value_sum"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
        .orderBy("interval")
    )


# per-tile (floor_sum, count) of the reference's NetCDF-4 fixture, frozen
# from the DRIVER-side whole-array decode (NC4File.read + numpy slice) —
# the checked query runs the DISTRIBUTED chunk→fragment→tile path, so the
# gate certifies the distribution logic against an independent assembly.
# Regenerate with tools/freeze_nc4.py if the fixture ever changes.
# repo-local copy of the reference's tmin.nc (data fixture, not code) so
# the correctness gate has no runtime dependency on the reference checkout
_NC4_FIXTURE_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "tests", "data", "tmin.nc"
)
_NC4_TILE_FIXTURE = [
    (0, 0, 604819, 65536),
    (0, 1, 795469, 65536),
    (0, 2, 208986, 15360),
    (1, 0, 734273, 59950),
    (1, 1, 1047876, 65536),
    (1, 2, 265821, 15360),
    (2, 0, 116037, 8728),
    (2, 1, 356327, 21686),
    (2, 2, 99884, 5340),
]


def q_nc4_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 S1 at the NetCDF-4/HDF5 container level: the reference's
    own HDF5 fixture (tmin.nc — superblock v2, OHDR headers, dense
    attributes, shuffle+deflate chunked data, DIMENSION_LIST dims) is
    ingested via the from-scratch HDF5 subset reader
    (sources/hdf5.py): metadata + chunk B-tree on the driver, per-CHUNK
    byte-range decode in tasks, one shuffle to assemble north-first
    tiles. Reduced to exact per-tile (Σ floor, count)."""
    from trefoil_spark.sources.netcdf3 import ingest_netcdf3

    tiles, _spec = ingest_netcdf3(spark, _NC4_FIXTURE_PATH, "tmin")
    return _floor_count_reduce(tiles.drop("t"))


def _nc4_ingest_oracle() -> str:
    rows = ", ".join(
        f"({ty}, {tx}, {fs}, {cnt})" for ty, tx, fs, cnt in _NC4_TILE_FIXTURE
    )
    return f"""
        SELECT CAST(ty AS INT) AS ty, CAST(tx AS INT) AS tx,
               CAST(floor_sum AS BIGINT) AS floor_sum,
               CAST(count AS BIGINT) AS count
        FROM (VALUES {rows}) AS t(ty, tx, floor_sum, count)
        ORDER BY ty, tx
    """


def q_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 A11 with the reference's `full=True` tail: closed-form
    OLS per group (events value vs time) + r² and the two-sided p-value
    (exact integer-df Student-t, A&S 26.7.3/4 — scipy-free), all four
    outputs bit-identical to the DuckDB twin (shared fold arithmetic)."""
    from trefoil_spark.raster.timeseries import linear_regression_rows

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = ev.select(
        "event_type",
        F.unix_timestamp("ts").alias("t_sec"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    ).withColumn("t_rel", F.col("t_sec") - 1704067200)
    return linear_regression_rows(
        df, "event_type", "t_rel", "cents", exact_ints=True, full=True
    ).orderBy("event_type")


def q_lag_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 W1 (consecutive-delta detection): per-user distinct
    inter-event gaps via lag window."""
    from pyspark.sql.window import Window as W

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))  # parquet ts is NTZ
    gaps = ev.withColumn("gap_us", us - F.lag(us).over(w)).filter(
        F.col("gap_us").isNotNull()
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            F.countDistinct("gap_us").alias("distinct_gaps"),
            F.count(F.lit(1)).alias("n_gaps"),
            F.min("gap_us").alias("min_gap_us"),
        )
        .orderBy("user_id")
    )


def _reduce_warp_sum_count(warped: DataFrame) -> DataFrame:
    """Per-tile (sum, count) over non-NaN pixels — exact for the
    integer-valued synth fixture, so the hash gate holds."""
    import numpy as np
    import pandas as pd

    def reduce_tiles(batches):
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                v = np.frombuffer(row.block, dtype=np.float32).astype(np.float64)
                ok = ~np.isnan(v)
                rows.append((int(row.ty), int(row.tx), float(v[ok].sum()), int(ok.sum())))
            yield pd.DataFrame(rows, columns=["ty", "tx", "sum", "count"])

    return _osort(
        warped.mapInPandas(
            reduce_tiles, schema="ty int, tx int, sum double, count bigint"
        ),
        "ty", "tx",
    )


def q_warp_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 R1/R2/J6/F20: nearest-neighbor warp into TWO destination
    grids in one driver row — 'webmerc' (4326→3857 template-domain join +
    inverse-mapping gather) and 'lcc' (Lambert Conformal Conic: the
    Catalyst corner math runs the Snyder lcc inverse — 8-point sampling +
    slack, non-separable pair — the gather kernel its numpy twin; the
    DuckDB oracle recomputes the whole gather through the SQL-text
    backend, grid/projections.py). Reduced to per-tile sum/count."""
    from trefoil_spark.raster.warp import warp_tiles

    tiles = synthetic_tiles(spark, SPEC)
    u = None
    for name, dst in (("lcc", _LCC_SPEC), ("webmerc", _DST_SPEC)):
        o = _reduce_warp_sum_count(warp_tiles(spark, tiles, SPEC, dst)).select(
            F.lit(name).alias("dst"), "ty", "tx", "sum", "count"
        )
        u = o if u is None else u.unionByName(o)
    return u.orderBy("dst", "ty", "tx")


def q_warp_kernels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 R1 kernel surface in ONE driver row — 'bilinear' (1px
    halo, NaN-propagating), 'cubic' (4×4 Keys a=-0.5, GDAL's cubic, 2px
    halo), 'lanczos' (6×6 windowed sinc a=3, GDAL's lanczos, 3px halo;
    reference choice list trefoil/cli/warp.py:21-23), and 'mode'
    (majority vote of a CLASSIFIED grid downsampled 2×, ties → smallest
    class, nodata doesn't vote). Every kernel reduces to per-tile
    (Σ floor(v), count) — exact integers, order-free, so the DuckDB
    per-kernel recomputes hash-match bit-exactly."""
    from trefoil_spark.raster.warp import warp_tiles

    tiles = synthetic_tiles(spark, SPEC)
    u = None
    for name in ("bilinear", "cubic", "lanczos"):
        warped = warp_tiles(spark, tiles, SPEC, _BILIN_DST_SPEC, method=name)
        o = _floor_count_reduce(warped).select(
            F.lit(name).alias("kernel"), "ty", "tx", "floor_sum", "count"
        )
        u = o if u is None else u.unionByName(o)
    mode_warped = warp_tiles(
        spark, _classified_tiles(spark), SPEC, _MODE_DST_SPEC, method="mode"
    )
    u = u.unionByName(
        _floor_count_reduce(mode_warped).select(
            F.lit("mode").alias("kernel"), "ty", "tx", "floor_sum", "count"
        )
    )
    return u.orderBy("kernel", "ty", "tx")


def _floor_count_reduce(warped: DataFrame) -> DataFrame:
    """Per-tile (Σ floor(v), count of non-NaN) — exact integers,
    order-free, so DuckDB kernel recomputes hash-match."""
    import numpy as np
    import pandas as pd

    def reduce_tiles(batches):
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                v = np.frombuffer(row.block, dtype=np.float32)
                ok = ~np.isnan(v)
                rows.append(
                    (int(row.ty), int(row.tx),
                     int(np.floor(v[ok]).astype(np.int64).sum()), int(ok.sum()))
                )
            yield pd.DataFrame(rows, columns=["ty", "tx", "floor_sum", "count"])

    return _osort(
        warped.mapInPandas(
            reduce_tiles, schema="ty int, tx int, floor_sum bigint, count bigint"
        ),
        "ty", "tx",
    )


def _classified_tiles(spark: SparkSession) -> DataFrame:
    """Synth tiles classified by the shared BREAKS rule (float32 class
    ids, NaN preserved) — the categorical-warp fixture."""
    import numpy as np
    import pandas as pd

    def classify(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                blk = np.frombuffer(r.block, dtype=np.float32).reshape(r.h, r.w)
                cls = classify_block(blk, BREAKS).astype(np.float32)
                cls[np.isnan(blk)] = np.nan
                rows.append((r.var, r.t, r.ty, r.tx, r.cell, cls.tobytes(), r.h, r.w))
            yield pd.DataFrame(
                rows, columns=["var", "t", "ty", "tx", "cell", "block", "h", "w"]
            )

    return synthetic_tiles(spark, SPEC).mapInPandas(
        classify,
        schema="var string, t int, ty int, tx int, cell bigint, block binary, h int, w int",
    )


def q_png_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 F10/S8 byte-stability: md5 of every rendered tile PNG vs
    a frozen-literal oracle — locks the own-zlib encoder's byte output
    into the driver gate (any encoder drift breaks the hash)."""
    from trefoil_spark.functions.color import Color
    from trefoil_spark.raster.render import StretchedRenderer, render_tiles

    renderer = StretchedRenderer(
        [(0.0, Color(0, 0, 0)), (999.0, Color(255, 255, 255))],
        colorspace="rgb",
        palette_size=90,
    )
    rendered = render_tiles(synthetic_tiles(spark, SPEC), renderer)
    return rendered.select(
        "ty", "tx", F.md5("png").alias("png_md5")
    ).orderBy("ty", "tx")


def q_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 R4: rasterize zones → vectorize to polygons → merged
    global components; checked output = exact per-class pixel coverage."""
    from trefoil_spark.raster.vectorize import merge_components, vectorize_tiles

    ztiles = rasterize_zones(spark, SPEC, ZONE_LAYER)
    merged = merge_components(vectorize_tiles(ztiles, SPEC))
    return (
        merged.groupBy("class")
        .agg(F.sum("pixel_count").alias("pixels"))
        .orderBy("class")
    )


def q_area_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 A9: categorical area time series (events: type x day)."""
    from trefoil_spark.operators.zonal import categorical_area_timeseries

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 86400).alias("day"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    out = categorical_area_timeseries(ev, "event_type", "day", "cents")
    return out.orderBy("event_type", "day")


def q_weighted_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 A10: weighted stats per timestep (lineitem by linestatus
    proxy-time; integer v/w keep sums exact)."""
    from trefoil_spark.operators.zonal import weighted_statistics_timeseries

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.year("l_shipdate").cast("bigint").alias("t"), "l_quantity", "l_linenumber"
    )
    return weighted_statistics_timeseries(li, "t", "l_quantity", "l_linenumber").orderBy("t")


def _pack_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 F14 (folded into the nc_export row): scale/offset
    packing — pack l_quantity to uint16, exact packed-code bounds."""
    from trefoil_spark.functions.packing import get_pack_atts, pack_col

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    lo, hi = 1.0, 50.0
    scale, offset = get_pack_atts("uint16", lo, hi)
    packed = li.withColumn("code", pack_col("l_quantity", scale, offset))
    return packed.groupBy().agg(
        F.min("code").alias("min_code"),
        F.max("code").alias("max_code"),
        F.count("code").alias("pack_count"),
        F.sum("code").alias("sum_code"),
    )


_NC_H, _NC_W, _NC_T = 300, 520, 2  # partial tiles + record axis on purpose


def q_nc_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 S5/S10 in the reference's NATIVE format: the synthetic
    tile table is window-stitched and written to a classic NetCDF file
    (CF coordinate variables, descending latitudes) by the own writer,
    then re-ingested by the own header-parse + byte-range reader and
    reduced to exact integers. The oracle recomputes the window directly
    from the pixel generator — a full export→import identity proof.
    The F14 pack/quantize check (formerly its own `pack_roundtrip` row)
    rides along as four cross-joined columns — the .nc export path is
    where packing is used for real, so one row proves both."""
    import os
    import shutil
    import tempfile

    from trefoil_spark.sources.netcdf3 import export_netcdf3, ingest_netcdf3

    tiles = synthetic_tiles(spark, SPEC)
    d = tempfile.mkdtemp(prefix="trefoil_ncx_")
    path = os.path.join(d, "window.nc")
    try:
        h, w = export_netcdf3(tiles, SPEC, QUERY_BBOX, path, variable="synth")
        re_tiles, _re_spec = ingest_netcdf3(spark, path, "synth")
        row = _floor_count_reduce(re_tiles).groupBy().agg(
            F.sum("floor_sum").cast("bigint").alias("floor_sum"),
            F.sum("count").cast("bigint").alias("count"),
        ).collect()[0]  # materialize before the tmp file goes away
        nc = spark.createDataFrame(
            [(row["floor_sum"], row["count"], h, w)],
            "floor_sum bigint, count bigint, height bigint, width bigint",
        )
        return nc.crossJoin(_pack_agg(spark, sf_dir))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_nc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 S1/S2 at the FORMAT level: a classic NetCDF (CDF-1)
    file — written by the own pure-python writer with ascending
    latitudes, a record time axis, _FillValue nodata and CF coordinate
    metadata — is ingested via header-only driver parse + per-tile
    byte-range reads (the y-flip and fill masking run distributed),
    reduced to exact per-(t,tile) sums."""
    import os
    import tempfile

    import numpy as np
    import pandas as pd

    from trefoil_spark.sources.netcdf3 import ingest_netcdf3, write_netcdf3

    h, w, nt = _NC_H, _NC_W, _NC_T
    d = tempfile.mkdtemp(prefix="trefoil_nc_")
    path = os.path.join(d, "grid.nc")
    # grid row g (north-first) carries the synth fixture formula; the
    # FILE stores ascending latitudes, i.e. file row fr = grid row
    # h-1-fr — the ingest flip must undo this exactly
    gy = np.arange(h, dtype=np.int64)[::-1][:, None]
    gx = np.arange(w, dtype=np.int64)[None, :]
    frames = []
    for t in range(nt):
        v = ((gy * 37 + gx * 17 + t * 101) % 1000).astype(np.float32)
        v[np.broadcast_to((gy * 131 + gx * 7) % 97 == 0, v.shape)] = -9999.0
        frames.append(v)
    lats = 38.0 - (np.arange(h, dtype=np.float64)[::-1] + 0.5) * 0.01  # ascending
    lons = -125.0 + (np.arange(w, dtype=np.float64) + 0.5) * 0.01
    write_netcdf3(
        path,
        dims={"time": None, "lat": h, "lon": w},
        variables={
            "lat": (("lat",), {"standard_name": "latitude"}, lats),
            "lon": (("lon",), {"standard_name": "longitude"}, lons),
            "tmin": (("time", "lat", "lon"),
                     {"_FillValue": np.float32(-9999.0)}, np.stack(frames)),
        },
        global_attrs={"Conventions": "CF-1.6"},
    )
    tiles, spec = ingest_netcdf3(spark, path, "tmin")

    def reduce_tiles(batches):
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                v = np.frombuffer(row.block, dtype=np.float32).astype(np.float64)
                ok = ~np.isnan(v)
                rows.append(
                    (int(row.t), int(row.ty), int(row.tx),
                     float(v[ok].sum()), int(ok.sum()))
                )
            yield pd.DataFrame(rows, columns=["t", "ty", "tx", "sum", "count"])

    return _osort(
        tiles.mapInPandas(
            reduce_tiles, schema="t int, ty int, tx int, sum double, count bigint"
        ),
        "t", "ty", "tx",
    )


def _nc_ingest_oracle() -> str:
    h, w, nt = _NC_H, _NC_W, _NC_T
    return f"""
        WITH px AS (
            SELECT CAST(i // {h * w} AS BIGINT) AS t,
                   CAST((i % {h * w}) // {w} AS BIGINT) AS y,
                   CAST(i % {w} AS BIGINT) AS x
            FROM (SELECT UNNEST(range({nt * h * w})) AS i)
        ), v AS (
            SELECT CAST(t AS INT) AS t,
                   CAST(y // 256 AS INT) AS ty, CAST(x // 256 AS INT) AS tx,
                   {value_sql('y', 'x', 't')} AS val
            FROM px
        )
        SELECT t, ty, tx, CAST(SUM(val) AS DOUBLE) AS sum, COUNT(val) AS count
        FROM v GROUP BY t, ty, tx ORDER BY t, ty, tx
    """


def q_quantile_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 F4 (north-star quantile classification; absent in the
    reference — TODO at render_netcdf.py:181): rank-based quartile classes
    over event values (deterministic tie-break) + per-class stats.
    The engine also exposes sketch-based breaks via
    raster/classify.py::quantile_breaks (approxQuantile) for the
    scale path; the checked query uses exact ntile semantics."""
    from pyspark.sql.window import Window as W

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", F.round(F.col("value") * 100).cast("bigint").alias("cents")
    )
    w = W.orderBy("cents", "event_id")
    classed = ev.withColumn("q", F.ntile(4).over(w).cast("bigint"))
    return (
        classed.groupBy("q")
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("q")
    )


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule skew handling: two-phase salted aggregation over the
    deliberately-skewed cell key (hot urban cluster) — equals plain
    groupBy exactly (integer-valued sums)."""
    from trefoil_spark.plans.salting import salted_sum_count

    pages = _pages(spark, sf_dir).withColumn("n_chars", F.length("text"))
    return salted_sum_count(
        pages, "cell", "n_chars", n_salts=8, salt_source="doc_id"
    ).orderBy("cell")


def q_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule resumability, driver-checked end to end: a first job
    writes HALF the documents through checkpointed_write (per-key ledger
    rows with row counts + partition lineage), then a 'restarted' job
    submits the FULL table — resume_filter anti-joins the done keys so
    only the missing half recomputes, and dynamic partition overwrite
    makes any replay idempotent. Output is the merged ledger + the
    re-read output table: n_keys/ledger_rows/output_rows must equal the
    DuckDB recomputation from documents alone — duplicated or dropped
    work breaks the hash."""
    import shutil
    import tempfile

    from trefoil_spark.plans.checkpointing import checkpointed_write

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "lang", (F.col("doc_id") % 16).alias("bucket"))
    )
    d = tempfile.mkdtemp(prefix="trefoil_ckpt_")
    out, cp = f"{d}/out", f"{d}/ledger"
    try:
        checkpointed_write(docs.filter(F.col("bucket") < 8), out, cp, "s1", ["bucket"])
        r2 = checkpointed_write(docs, out, cp, "s1", ["bucket"])  # restart
        row = (
            spark.read.parquet(cp)
            .groupBy("stage")
            .agg(
                F.countDistinct("key").cast("bigint").alias("n_keys"),
                F.count(F.lit(1)).cast("bigint").alias("ledger_rows"),
                F.sum("row_count").cast("bigint").alias("ledger_row_total"),
            )
            .collect()[0]  # one stage — materialize before the tmpdir goes
        )
        output_rows = spark.read.parquet(out).count()
        return spark.createDataFrame(
            [
                (
                    row["stage"],
                    row["n_keys"],
                    row["ledger_rows"],
                    row["ledger_row_total"],
                    int(r2["skipped_keys"]),
                    output_rows,
                )
            ],
            "stage string, n_keys bigint, ledger_rows bigint, "
            "ledger_row_total bigint, skipped_keys bigint, output_rows bigint",
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_proj_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 F20 breadth, driver-checked: forward→inverse round trips
    for EVERY supported projection family (lcc, tmerc, utm, polar stere,
    laea, ellipsoidal aea, web mercator) run as pure Catalyst column
    expressions over 64 deterministic in-domain points per family
    (reference surface: trefoil/netcdf/crs.py:44-179, round-tripped by
    trefoil/netcdf/tests/test_crs.py:12-176). A point counts as converged
    when the round trip lands within 1e-7° (the reference tests'
    tolerance, 5+ orders above the series error). The oracle is the
    frozen all-points-converge contract: any broken inverse drops n_ok
    and breaks the hash."""
    from trefoil_spark.grid import projections as pj
    from trefoil_spark.grid.proj import transform_cols

    fams = [
        ("aea", "+proj=aea +lat_1=29.5 +lat_2=45.5 +lat_0=37.5 +lon_0=-96 "
         "+x_0=0 +y_0=0 +ellps=GRS80", -110.0, 4.0, 25.0, 3.0),
        ("laea", "+proj=laea +lat_0=45 +lon_0=-100 +x_0=0 +y_0=0 +ellps=GRS80",
         -130.0, 8.0, 20.0, 6.0),
        ("lcc", "+proj=lcc +lat_1=33 +lat_2=45 +lat_0=40 +lon_0=-96 "
         "+x_0=0 +y_0=0 +ellps=GRS80", -110.0, 4.0, 25.0, 3.0),
        ("stere", "+proj=stere +lat_0=90 +lat_ts=70 +lon_0=-45 "
         "+x_0=0 +y_0=0 +ellps=GRS80", -170.0, 45.0, 62.0, 3.0),
        ("tmerc", "+proj=tmerc +lat_0=0 +lon_0=-93 +k=0.9996 +x_0=500000 "
         "+y_0=0 +ellps=GRS80", -95.8, 0.8, 22.0, 6.0),
        ("utm", "+proj=utm +zone=15 +ellps=GRS80", -95.8, 0.8, 22.0, 6.0),
        ("webmerc", "EPSG:3857", -170.0, 45.0, -60.0, 17.0),
    ]
    parts = []
    for name, crs, lon0, dlon, lat0, dlat in fams:
        pts = spark.range(64).select(
            (F.lit(lon0) + (F.col("id") % 8) * F.lit(dlon)).alias("lon"),
            (F.lit(lat0) + (F.col("id") / 8).cast("int") * F.lit(dlat)).alias("lat"),
        )
        if name in ("aea", "webmerc"):
            dst = crs if name == "webmerc" else crs
            x, y = transform_cols("EPSG:4326", dst, F.col("lon"), F.col("lat"))
            pts = pts.withColumn("x", x).withColumn("y", y)
            lo, la = transform_cols(dst, "EPSG:4326", F.col("x"), F.col("y"))
        else:
            be = pj.COL()
            x, y = pj.forward(be, crs, F.col("lon"), F.col("lat"))
            pts = pts.withColumn("x", x).withColumn("y", y)
            lo, la = pj.inverse(be, crs, F.col("x"), F.col("y"))
        err = F.greatest(F.abs(lo - F.col("lon")), F.abs(la - F.col("lat")))
        parts.append(
            pts.select(F.lit(name).alias("family"), err.alias("err")).groupBy(
                "family"
            ).agg(
                F.count(F.lit(1)).cast("bigint").alias("n_points"),
                F.sum(F.when(F.col("err") < 1e-7, 1).otherwise(0))
                .cast("bigint")
                .alias("n_ok"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("family")


def q_pages_text_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule per-row invariant: byte-identical extracted text per url
    through every shuffle stage. The pages table (html binary payload)
    rides a deliberately shuffle-heavy plan — hash repartition by the
    skewed cell key, per-cell count aggregation, join back on cell — and
    only THEN is the text re-extracted from the html bytes (tag strip)
    and digested. The DuckDB oracle digests the pristine text column
    directly: a single corrupted byte in any exchange, spill, or Arrow
    batch breaks the md5 hash match."""
    pages = build_pages(spark, sf_dir, with_html=True).select(
        "doc_id", "url", "cell", "html"
    )
    shuffled = pages.repartition("cell")  # exchange 1 (skewed key)
    counts = shuffled.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("cell_rows")
    )  # exchange 2 (partial+final agg)
    back = shuffled.join(counts, "cell")  # exchange 3 (join both sides)
    extracted = back.withColumn(
        "page_text",
        F.expr(
            "regexp_extract(decode(html, 'UTF-8'),"
            " '(?s)^<html><body>(.*)</body></html>$', 1)"
        ),
    )
    return _osort(
        extracted.select(
            "url",
            F.md5(F.encode("page_text", "UTF-8")).alias("text_md5"),
            "cell_rows",
        ),
        "url",
    )


def q_streaming_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming zonal stats: geotagged pages drained through a file
    stream → stream-static PIP join (broadcast covering index, the same
    JVM ladder + Arrow refine plan as the batch path) → running per-zone
    count + integer sum. Must equal the batch/DuckDB zonal recompute
    exactly (streaming/batch unification)."""
    import tempfile

    from trefoil_spark.sources.zones import ZONE_LAYER
    from trefoil_spark.streaming.interval import run_available_now
    from trefoil_spark.streaming.zonal import streaming_zonal_stats

    slim = _pages(spark, sf_dir).select(
        "lon", "lat", F.length("text").cast("bigint").alias("n_chars")
    )
    tmp = tempfile.mkdtemp(prefix="trefoil_szonal_")
    slim.write.mode("overwrite").parquet(tmp)
    stream = streaming_zonal_stats(
        spark, tmp, "lon double, lat double, n_chars bigint", ZONE_LAYER
    )
    res = run_available_now(stream, "q_streaming_zonal")
    return res.orderBy("zone_value")


def q_streaming_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling-window agg (A5 analog) — drains the
    events table through a file-source stream. Output projected to exact
    integers (interval id + cents sum) so it hash-matches the DuckDB
    batch-twin oracle; double-sum streaming variant tested in pytest."""
    import tempfile

    from trefoil_spark.streaming.interval import (
        run_available_now,
        streaming_interval_stats,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("ts", "value")
    tmp = tempfile.mkdtemp(prefix="trefoil_stream_")
    ev.write.mode("overwrite").parquet(tmp)
    stream = streaming_interval_stats(
        spark, tmp, "ts timestamp, value double", exact_cents=True
    )
    res = run_available_now(stream, "q_streaming_interval")
    return res.select(
        F.floor(F.unix_timestamp("window_start") / 21600).cast("bigint").alias("interval"),
        "count",
        "sum_cents",
    ).orderBy("interval")


def q_streaming_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming rows consolidated in ONE driver row (r7, frees
    registry slots — VERDICT r6 item 1): section='zonal' is the
    stream-static PIP zonal pipeline, section='interval' the tumbling-
    window agg, section='dedup' (late r7, freeing the slot the
    `pagerank` row takes) the applyInPandasWithState cross-batch exact
    dedup — all drained AvailableNow and projected to exact integers
    (key, count, val) so the batch DuckDB twins hash-gate them
    unchanged."""
    zonal = q_streaming_zonal(spark, sf_dir).select(
        F.lit("zonal").alias("section"),
        F.col("zone_value").cast("string").alias("key"),
        F.col("count").cast("bigint").alias("count"),
        F.col("value_sum").cast("bigint").alias("val"),
    )
    interval = q_streaming_interval(spark, sf_dir).select(
        F.lit("interval").alias("section"),
        F.col("interval").cast("string").alias("key"),
        F.col("count").cast("bigint").alias("count"),
        F.col("sum_cents").cast("bigint").alias("val"),
    )
    dedup = q_streaming_dedup(spark, sf_dir).select(
        F.lit("dedup").alias("section"),
        F.col("text_hash").cast("string").alias("key"),
        F.lit(1).cast("bigint").alias("count"),
        F.col("doc_id").cast("bigint").alias("val"),
    )
    return (
        zonal.unionByName(interval).unionByName(dedup)
        .orderBy("section", "key")
    )


def _cf360_sql(epoch_col_sql: str) -> dict[str, str]:
    """Shared Spark/DuckDB fragments: epoch seconds → CF 360_day calendar
    fields, 'days since 2024-01-01'. Every month has 30 days and every
    year 360, so from d whole days: year = 2024 + floor(d / 360),
    month = floor((d % 360) / 30) + 1, day = (d % 360) % 30 + 1."""
    days = f"CAST(FLOOR(({epoch_col_sql} - 1704067200) / 86400) AS BIGINT)"
    return {
        "days": days,
        "year": f"(2024 + CAST(FLOOR({days} / 360) AS BIGINT))",
        "month": f"(CAST(FLOOR(({days} % 360) / 30) AS BIGINT) + 1)",
        "day": f"(({days} % 360) % 30 + 1)",
    }


def q_cf_360day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 F16/F17/W3 at row grain: events bucketed by CF 360_day
    calendar (year, month) — the fixed-calendar integer codec as pure
    Catalyst expressions, exact twin in DuckDB."""
    frag = _cf360_sql("unix_timestamp(ts)")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.selectExpr(
            f"{frag['year']} AS cf_year",
            f"{frag['month']} AS cf_month",
            f"{frag['day']} AS cf_day",
            "CAST(ROUND(value * 100) AS BIGINT) AS cents",
        )
        .groupBy("cf_year", "cf_month", "cf_day")
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("cf_year", "cf_month", "cf_day")
    )


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    cross-batch exact dedup, first-seen/min-id winner — drained with
    AvailableNow so the result is deterministic and equals the batch
    min-id-per-hash twin (the DuckDB oracle)."""
    import tempfile

    from trefoil_spark.streaming.interval import run_available_now
    from trefoil_spark.streaming.stateful import streaming_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="trefoil_sdedup_")
    docs.write.mode("overwrite").parquet(tmp)
    stream = spark.readStream.schema("doc_id bigint, text string").parquet(tmp)
    out = run_available_now(
        streaming_dedup(stream), "q_streaming_dedup", output_mode="append"
    )
    return out.select("text_hash", "doc_id").orderBy("text_hash")


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level PageRank (r7, operators/linkgraph.py) hash-gated by
    the driver: a deterministic synthetic host graph derived from the
    documents table (src = h(doc_id % 97), dst = h((doc_id*31+7) % 89),
    self-loops dropped, distinct) runs three damped iterations of the
    join/agg rank loop; the oracle replays the identical edge CTE
    through the unrolled-CTE SQL twin (pagerank_sql_duckdb). Ranks
    publish as ROUND(rank*1e9) so per-dst summation-order ulps can't
    break hash equality. Href extraction from real html is
    pytest-gated with its own twin (tests/test_linkgraph.py)."""
    from trefoil_spark.operators.linkgraph import pagerank_hosts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    edges = (
        docs.select(
            F.concat(
                F.lit("h"), (F.col("doc_id") % 97).cast("string")
            ).alias("src"),
            F.concat(
                F.lit("h"), ((F.col("doc_id") * 31 + 7) % 89).cast("string")
            ).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    ranks = pagerank_hosts(edges, iters=3)
    return ranks.select(
        "node",
        F.round(
            F.col("rank") * F.lit(1000000000).cast("double")
        ).cast("bigint").alias("rank_n"),
    ).orderBy("node")


def _pagerank_oracle() -> str:
    from trefoil_spark.operators.linkgraph import pagerank_sql_duckdb

    inner = pagerank_sql_duckdb("e", iters=3).replace("WITH ", ", ", 1)
    return f"""
        SELECT node,
               CAST(ROUND(rank * CAST(1000000000 AS DOUBLE)) AS BIGINT)
                   AS rank_n
        FROM (
            WITH e AS (
                SELECT DISTINCT
                       'h' || CAST(doc_id % 97 AS VARCHAR) AS src,
                       'h' || CAST((doc_id * 31 + 7) % 89 AS VARCHAR) AS dst
                FROM documents
                WHERE 'h' || CAST(doc_id % 97 AS VARCHAR)
                      <> 'h' || CAST((doc_id * 31 + 7) % 89 AS VARCHAR)
            ){inner}
        ) ORDER BY node
    """


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary media + typed metadata → Arrow-batched
    feature extraction (decode deterministically stubbed). The 'digest'
    method is engine-portable, and the array explodes to scalar rows so
    the driver can hash the values (array columns are unhashable)."""
    from trefoil_spark.operators.multimodal import attach_fake_media, extract_features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    feats = extract_features(attach_fake_media(docs), method="digest")
    return (
        feats.select("doc_id", F.posexplode("features").alias("feature_idx", "value"))
        .withColumn("feature_idx", F.col("feature_idx").cast("bigint"))
        .orderBy("doc_id", "feature_idx")
    )


def q_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means TRAINING (not just assignment): two Lloyd
    iterations over the full embeddings table in quantized integer
    space — assignment via linear struct-sort argmin, update via exact
    (cid, dim) integer sums with floor-means; only the K×dim centroid
    matrix touches the driver. The DuckDB oracle replays the identical
    training (CTE per iteration) — counts AND squared-distance sums
    hash-match bit-for-bit, something float k-means cannot offer."""
    from trefoil_spark.operators.similarity import kmeans_lloyd_quantized

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return kmeans_lloyd_quantized(emb, n_centroids=8, n_iters=2)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup pipeline completion: verified near-dup PAIRS become
    CLUSTERS via the engine's distributed connected components (the same
    large-star/small-star operator the raster vectorizer uses —
    raster/vectorize.py:connected_components), and each cluster elects
    its min-id canonical document. Ids ride as zero-padded strings so the
    operator's lexicographic-min global id IS the numeric min. The
    oracle recomputes the clustering with a recursive-CTE transitive
    closure in DuckDB."""
    from trefoil_spark.operators.dedup import minhash_near_duplicates
    from trefoil_spark.raster.vectorize import connected_components

    pairs = minhash_near_duplicates(_docs_with_dups(spark, sf_dir), threshold=0.5)
    edges = pairs.select(
        F.lpad(F.col("id_a").cast("string"), 9, "0").alias("node_a"),
        F.lpad(F.col("id_b").cast("string"), 9, "0").alias("node_b"),
    )
    mapping = connected_components(edges)
    comp = mapping.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("global_id").cast("bigint").alias("gid"),
    )
    return (
        comp.groupBy("gid")
        .agg(
            F.min("node").cast("bigint").alias("canonical_id"),
            F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
            F.sum("node").cast("bigint").alias("member_sum"),
        )
        .select("canonical_id", "cluster_size", "member_sum")
        .orderBy("canonical_id")
    )


def q_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio with REAL codecs: deterministic int16 waveforms
    are encoded by doc_id%4 to actual RIFF/WAVE PCM (0/2), native FLAC
    (1 — RFC 9639 codec incl. MD5 verification), or big-endian AIFF
    (3 — r6, 80-bit extended sample rate parsed exactly) bytes,
    repartitioned, and decoded back executor-side by magic-sniffed
    dispatch into exact integer amplitude stats. All three codecs are
    lossless, so one closed-form oracle covers the trio — a hash match
    proves every container round-trips through the shuffle."""
    from trefoil_spark.operators.multimodal import (
        attach_real_audio,
        decode_audio_features,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    media = attach_real_audio(docs).repartition(16, "doc_id")
    out = decode_audio_features(media)
    return _osort(
        out.select(
            "doc_id", "fmt",
            F.col("sample_rate").cast("bigint").alias("sample_rate"),
            F.col("n_samples").cast("bigint").alias("n_samples"),
            "sum_amp", "sum_abs",
        ),
        "doc_id",
    )


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Webtext payload core: realistic page markup (head/title, style, an
    adversarial in-body script whose string literal contains '</p>') is
    built around each document, then stripped back to text with the
    extraction chain (script/style removal → body extract → tag strip),
    all pure Catalyst regexp expressions. The oracle digests the pristine
    text: extraction must recover the original BYTES exactly."""
    from trefoil_spark.operators.textstats import (
        build_rich_html_col,
        extract_text_col,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    html = docs.withColumn("html", build_rich_html_col())
    out = html.withColumn("extracted", extract_text_col("html"))
    return _osort(
        out.select(
            "doc_id",
            F.md5(F.encode("extracted", "UTF-8")).alias("text_md5"),
            F.length("extracted").cast("bigint").alias("n_chars"),
        ),
        "doc_id",
    )


_CURATE_EVAL_MOD = 50  # doc_id % MOD == 7 -> eval-set member


def _curate_reshape_spark() -> str:
    """Spark SQL expr: synthetic single-line docs -> terminal-punctuated
    10-token lines + a per-doc stopword/PII tail line. The synthetic
    corpus is one unpunctuated line with no Gopher stop words, which C4
    would drop wholesale and the A1.1 stopword rule would zero out; the
    reshape makes the full published rule set meaningful while staying
    string-equal replayable in DuckDB (_curate_reshape_duckdb)."""
    toks = "split(text, ' ')"
    lines = (
        f"transform(sequence(0, (size({toks}) + 9) div 10 - 1), "
        f"i -> concat(array_join(slice({toks}, i * 10 + 1, 10), ' '), ' .'))"
    )
    tail = (
        "concat('of the data and that doc', CAST(doc_id AS STRING), "
        "' mail u', CAST(doc_id AS STRING), '@ex.com .')"
    )
    return f"concat(array_join({lines}, '\n'), '\n', {tail})"


def _curate_reshape_duckdb() -> str:
    toks = "string_split(text, ' ')"
    lines = (
        f"list_transform(range(0, (len({toks}) + 9) // 10), "
        f"i -> array_to_string(list_slice({toks}, i * 10 + 1, i * 10 + 10), ' ') "
        f"|| ' .')"
    )
    tail = (
        "'of the data and that doc' || CAST(doc_id AS VARCHAR) || "
        "' mail u' || CAST(doc_id AS VARCHAR) || '@ex.com .'"
    )
    return f"array_to_string({lines}, chr(10)) || chr(10) || {tail}"


def q_corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation-stack composition as ONE hash-gated driver row
    (r7, VERDICT r6 item 1 — previously DuckDB-twinned only in pytest):

      reshape -> FULL Gopher gate (every A1.1 rule incl. the r7
      repetition set: dup paragraphs, top 2/3/4-gram, dup 5..10-gram
      coverage) -> C4 line/page rules -> PII redaction -> exact dedup
      -> corpus-wide line dedup -> 13-gram decontamination vs an
      in-corpus eval set (doc_id %% 50 == 7 of the reshaped corpus)

    Output is the surviving curated text verbatim: the oracle replays
    every stage in DuckDB (string-equal twins), so text bytes, n_chars
    and the kept/dropped set are all hash-gated. Scale shape: narrow
    Catalyst chain until the single digest shuffle, two line-dedup
    shuffles, broadcast-only decontamination (operators/cleaning.py)."""
    from trefoil_spark.operators.cleaning import (
        c4_clean,
        decontaminate,
        dedup_paragraphs,
        redact_pii_col,
    )
    from trefoil_spark.operators.textstats import gopher_full_pass_col

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    # persist = a hard plan barrier after fixture construction: without
    # it CollapseProject inlines the reshape expression into every one
    # of the ~50 text references inside the Gopher/C4 rule expressions
    # (the rules are per-row O(G^2) in a doc's own bigram count, so an
    # O(reshape) blowup per reference turns 500 docs into minutes). A
    # real pipeline reads text as a parquet ATTRIBUTE — this barrier
    # reproduces that shape; the oracle mirrors it with a MATERIALIZED
    # CTE.
    # repartition BEFORE the barrier: sf0.01 documents.parquet is one
    # small file -> one scan partition, which would serialize the
    # per-doc O(G log G) rule evaluation onto a single core
    reshaped = docs.repartition(32).withColumn(
        "text", F.expr(_curate_reshape_spark())
    ).persist()
    eval_df = reshaped.filter(F.col("doc_id") % _CURATE_EVAL_MOD == 7)
    kept = reshaped.filter(gopher_full_pass_col("text"))
    kept = c4_clean(kept)
    kept = kept.withColumn("text", redact_pii_col("text"))
    digested = kept.withColumn("digest", F.md5(F.encode("text", "UTF-8")))
    winners = digested.groupBy("digest").agg(F.min("doc_id").alias("doc_id"))
    deduped = digested.join(winners, ["digest", "doc_id"], "inner")
    paras = dedup_paragraphs(
        deduped.select("doc_id", "text"), split_pat=r"\n+", join_sep="\n"
    )
    out = decontaminate(paras, eval_df, n=13)
    return out.select(
        "doc_id", "text", F.length("text").cast("bigint").alias("n_chars")
    ).orderBy("doc_id")


def _corpus_curate_oracle() -> str:
    from trefoil_spark.operators.cleaning import c4_sql_duckdb, pii_sql_duckdb
    from trefoil_spark.operators.textstats import gopher_full_pass_sql_duckdb

    c4 = c4_sql_duckdb("text")
    grams13 = (
        "list_transform(range(0, len(t) - 12), "
        "i -> array_to_string(list_slice(t, i + 1, i + 13), ' '))"
    )
    lower_toks = (
        "list_filter(string_split_regex(lower(text), '\\s+'), "
        "x -> length(x) > 0)"
    )
    return f"""
        WITH resh AS MATERIALIZED (
            SELECT doc_id, {_curate_reshape_duckdb()} AS text
            FROM documents
        ),
        ev AS (
            SELECT doc_id, text FROM resh
            WHERE doc_id % {_CURATE_EVAL_MOD} = 7
        ),
        g AS MATERIALIZED (
            SELECT doc_id, text FROM resh
            WHERE {gopher_full_pass_sql_duckdb("text")}
        ),
        c4 AS MATERIALIZED (
            SELECT doc_id, {c4["cleaned"]} AS text FROM g
            WHERE {c4["page_pass"]}
        ),
        pii AS MATERIALIZED (
            SELECT doc_id, {pii_sql_duckdb("text")} AS text FROM c4
        ),
        ded AS MATERIALIZED (
            SELECT doc_id, text FROM (
                SELECT doc_id, text, ROW_NUMBER() OVER (
                    PARTITION BY md5(text) ORDER BY doc_id) AS rn
                FROM pii
            ) WHERE rn = 1
        ),
        paras AS (
            SELECT doc_id, para, para_idx FROM (
                SELECT doc_id,
                       unnest(string_split_regex(text, '\n+')) AS para,
                       unnest(range(1, len(string_split_regex(text, '\n+')) + 1))
                           AS para_idx
                FROM ded
            ) WHERE length(trim(para)) > 0
        ),
        pk AS (
            SELECT doc_id, para_idx, para FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY md5(para) ORDER BY doc_id, para_idx) AS rn
                FROM paras
            ) WHERE rn = 1
        ),
        joined AS MATERIALIZED (
            SELECT doc_id,
                   string_agg(para, chr(10) ORDER BY para_idx) AS text
            FROM pk GROUP BY doc_id
        ),
        evg AS (
            SELECT DISTINCT unnest({grams13}) AS gram
            FROM (SELECT {lower_toks} AS t FROM ev)
        ),
        docg AS (
            SELECT doc_id, unnest({grams13}) AS gram
            FROM (SELECT doc_id, {lower_toks} AS t FROM joined)
        ),
        contaminated AS (
            SELECT DISTINCT docg.doc_id FROM docg JOIN evg USING (gram)
        )
        SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars
        FROM joined
        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
        ORDER BY doc_id
    """


def q_lm_bpe_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity (CCNet-style, Wenzek 2020) + BPE-regex token
    counts as ONE hash-gated driver row (r7, VERDICT r6 item 1 — the
    pytest 1e-12 SQL twin promoted to the driver). The LM trains on the
    documents table and scores it; ppl is published as ROUND(ppl*100)
    cents so the <=1e-12 cross-engine float slack cannot flip the hash
    (boundary probability ~1e-4 across 500 rows). broadcast=True: the
    model is tiny here; the size-guard path is plan-shape-tested in
    pytest (test_lm.py)."""
    from trefoil_spark.operators.lm import score_perplexity, train_bigram_lm
    from trefoil_spark.operators.textstats import bpe_token_count_col

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    model, uni = train_bigram_lm(docs)
    scored = score_perplexity(docs, model, uni, broadcast=True)
    bpe = docs.select(
        "doc_id", bpe_token_count_col("text").cast("bigint").alias("bpe_tokens")
    )
    return (
        scored.join(bpe, "doc_id")
        .select(
            "doc_id",
            F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
            F.round(F.col("ppl") * 100).cast("bigint").alias("ppl_c"),
            "bpe_tokens",
        )
        .orderBy("doc_id")
    )


def _lm_bpe_score_oracle() -> str:
    from trefoil_spark.operators.textstats import bpe_token_count_sql_duckdb

    return f"""
        WITH ctoks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\\s+'),
                               t -> length(t) > 0) AS t
            FROM documents
        ),
        cbg AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t)),
                                         i -> {{'w1': t[i], 'w2': t[i+1]}})) AS s
            FROM ctoks WHERE len(t) >= 2
        ),
        bgf AS (SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM cbg),
        uni AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM bgf GROUP BY w1),
        vocab AS (
            SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v
            FROM (SELECT unnest(t) AS w FROM ctoks)
        ),
        model AS (
            SELECT w1, w2,
                   ln((c12 + CAST(1 AS DOUBLE)) / CAST(c1 + v AS DOUBLE)) AS logp
            FROM (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
                  FROM bgf GROUP BY w1, w2)
            JOIN uni USING (w1) CROSS JOIN vocab
        ),
        scored AS (
            SELECT doc_id,
                   coalesce(
                       model.logp,
                       ln(CAST(1 AS DOUBLE) / CAST(uni.c1 + vocab.v AS DOUBLE)),
                       ln(CAST(1 AS DOUBLE) / CAST(vocab.v AS DOUBLE))
                   ) AS lp
            FROM bgf CROSS JOIN vocab
            LEFT JOIN uni USING (w1)
            LEFT JOIN model USING (w1, w2)
        ),
        ppl AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   CAST(ROUND(exp(-(SUM(lp) / COUNT(*))) * 100) AS BIGINT)
                       AS ppl_c
            FROM scored GROUP BY doc_id
        )
        SELECT ppl.doc_id, n_bigrams, ppl_c,
               CAST({bpe_token_count_sql_duckdb("text")} AS BIGINT) AS bpe_tokens
        FROM ppl JOIN documents ON ppl.doc_id = documents.doc_id
        ORDER BY ppl.doc_id
    """


VIDEO_DOC_OFFSET = 1_000_000


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal with REAL codecs (r3; r6 adds GIF, lossy VP8, BMP,
    ICO, TIFF, and VIDEO): deterministic RGB images are encoded to
    actual PNG
    (doc_id%8==0) / 24-bit BMP (==4) / lossless WebP (==1) / ICO
    favicon (==5, 32-bit BMP entry + AND mask) / GIF89a (==2) /
    striped DEFLATE RGB TIFF (==6, the geotiff encoder twin) /
    lossy-VP8 WebP (%4==3, RFC 6386 key frame via functions/vp8.py;
    the %8==7 half wrapped in an extended VP8X container with a raw
    ALPH alpha plane) bytes with the
    engine's own encoders, ride the binary column through a hash
    repartition, and are
    decoded back executor-side by magic-sniffed dispatch into exact
    per-channel pixel sums. The DuckDB oracle recomputes the lossless
    sums from the closed-form pixel generator and carries a 256-row
    expectation table (engine-computed reference decode of the flat
    lossy sources) for the VP8 leg — a hash match proves byte-exact
    round trips for the lossless codecs and deterministic,
    reference-identical decode for the lossy one.

    r6 VIDEO section (rows at doc_id + 1,000,000, keeping the driver's
    50-row window): each doc also rides a real RIFF/AVI container
    (functions/avi.py) — even docs 4 uncompressed BI_RGB DIB frames of
    the closed-form generator (fmt 'avi_dib', lossless-exact), odd docs
    4 MJPEG frames (in-house T.81, no-DHT MJPEG convention; fmt
    'avi_mjpeg') of flat sources covered by a second 256-row
    expectation table summed over the frame walk. Pixel sums are over
    ALL frames; frame count / fps assertions live in pytest
    (tests/test_multimodal_video.py)."""
    from trefoil_spark.operators.multimodal import (
        attach_real_images,
        attach_real_video,
        decode_image_features,
        decode_video_features,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    media = attach_real_images(docs).repartition(16, "doc_id")
    out = decode_image_features(media)
    images = out.select(
        "doc_id", "fmt",
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        "sum_r", "sum_g", "sum_b",
    )
    vmedia = attach_real_video(docs).repartition(16, "doc_id")
    videos = decode_video_features(vmedia).select(
        (F.col("doc_id") + F.lit(VIDEO_DOC_OFFSET)).alias("doc_id"),
        F.concat(F.lit("avi_"), F.col("codec")).alias("fmt"),
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        "sum_r", "sum_g", "sum_b",
    )
    return _osort(images.unionByName(videos), "doc_id")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: zonal stats over the PIP join at sf0.001."""
    return q_zonal_stats(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- formerly outside the driver's 50-row window: lead the list
        "audio_decode": q_audio_decode,
        "dedup_clusters": q_dedup_clusters,
        "kmeans_train": q_kmeans_train,
        "area_timeseries": q_area_timeseries,
        "weighted_timeseries": q_weighted_timeseries,
        "quantile_classify": q_quantile_classify,
        # --- consolidated multi-strategy rows (r4): one row per family
        "knn_join": q_knn_join,
        "similarity_ann": q_similarity_ann,
        "warp_nearest": q_warp_nearest,
        "warp_kernels": q_warp_kernels,
        "nc_export": q_nc_export,  # includes the F14 pack columns
        # --- the rest of the surface
        "cell_assign": q_cell_assign,
        "pip_join": q_pip_join,
        "zonal_stats": q_zonal_stats,
        "shp_zonal_stats": q_shp_zonal_stats,
        "count_by_lang": q_count_by_lang,
        "tile_zonal_stats": q_tile_zonal_stats,
        "masked_zonal_stats": q_masked_zonal_stats,
        "albers_zone_area": q_albers_zone_area,
        "render_stretch_hist": q_render_stretch_hist,
        "autocrop_window": q_autocrop_window,
        "tile_delta_hist": q_tile_delta_hist,
        "describe": q_describe,
        "tile_window_stats": q_tile_window_stats,
        "tile_classify_histogram": q_tile_classify_histogram,
        "text_stats": q_text_stats,
        "dedup_exact": q_dedup_exact,
        "dedup_neardup": q_dedup_neardup,
        "dedup_embedding": q_dedup_embedding,
        "weighted_stats": q_weighted_stats,
        "mean_of_file_means": q_mean_of_file_means,
        "interval_stats": q_interval_stats,
        "regression": q_regression,
        "lag_intervals": q_lag_intervals,
        "png_stability": q_png_stability,
        "nc_ingest": q_nc_ingest,
        "nc4_ingest": q_nc4_ingest,
        "vectorize": q_vectorize,
        "salted_agg": q_salted_agg,
        "pages_text_invariant": q_pages_text_invariant,
        "proj_roundtrip": q_proj_roundtrip,
        "checkpoint_resume": q_checkpoint_resume,
        "streaming_agg": q_streaming_agg,
        "pagerank": q_pagerank,
        "cf_360day": q_cf_360day,
        "multimodal_features": q_multimodal_features,
        "multimodal_decode": q_multimodal_decode,
        "html_extract": q_html_extract,
        "corpus_curate": q_corpus_curate,
        "lm_bpe_score": q_lm_bpe_score,
    }


def _pixel_cte() -> str:
    """DuckDB pixel-grain twin of the synthetic tile grid."""
    n = SPEC.width * SPEC.height
    return f"""
        px AS (
            SELECT CAST(i // {SPEC.width} AS BIGINT) AS y,
                   CAST(i % {SPEC.width} AS BIGINT) AS x
            FROM (SELECT UNNEST(range({n})) AS i)
        ), geo AS (
            SELECT y, x, {SPEC.lon_sql('x')} AS lon, {SPEC.lat_sql('y')} AS lat,
                   {value_sql('y', 'x')} AS v
            FROM px
        )
    """


def oracle_sql() -> dict[str, str]:
    zone_case = _zone_case_sql()
    zonal_sql = f"""
            WITH pages AS ({_PAGES_CTE}),
            z AS (
                SELECT {zone_case} AS zone_value, LENGTH(text) AS n_chars
                FROM pages
            )
            SELECT zone_value,
                   SUM(CAST(n_chars AS DOUBLE)) / COUNT(n_chars) AS mean,
                   MIN(n_chars) AS min, MAX(n_chars) AS max,
                   SQRT(SUM(CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE)) / COUNT(n_chars)
                        - (SUM(CAST(n_chars AS DOUBLE)) / COUNT(n_chars))
                          * (SUM(CAST(n_chars AS DOUBLE)) / COUNT(n_chars))) AS std,
                   CAST(SUM(n_chars) AS BIGINT) AS sum, COUNT(n_chars) AS count
            FROM z WHERE zone_value IS NOT NULL
            GROUP BY zone_value ORDER BY zone_value
        """
    return {
        "cell_assign": f"""
            WITH pages AS ({_PAGES_CTE})
            SELECT doc_id, lat, lon, cell FROM pages ORDER BY doc_id
        """,
        "pip_join": f"""
            WITH pages AS ({_PAGES_CTE})
            SELECT doc_id, url, {zone_case} AS zone_value
            FROM pages WHERE {zone_case} IS NOT NULL
            ORDER BY doc_id
        """,
        "zonal_stats": zonal_sql,
        "shp_zonal_stats": zonal_sql,
        "count_by_lang": f"""
            WITH pages AS ({_PAGES_CTE})
            SELECT lang, COUNT(*) AS count FROM pages GROUP BY lang ORDER BY lang
        """,
        "tile_zonal_stats": _tile_zonal_oracle(),
        "masked_zonal_stats": _tile_zonal_oracle(masked=True),
        "albers_zone_area": _albers_area_oracle(),
        "render_stretch_hist": f"""
            WITH {_pixel_cte()},
            ix AS (
                SELECT LEAST(GREATEST(CAST(FLOOR(COALESCE(v, CAST(0 AS DOUBLE))
                       * CAST({89.0 / 999.0!r} AS DOUBLE)) AS BIGINT), 0), 89)
                       AS palette_idx
                FROM geo
            )
            SELECT palette_idx, COUNT(*) AS count
            FROM ix GROUP BY palette_idx ORDER BY palette_idx
        """,
        "autocrop_window": _autocrop_oracle(),
        "tile_delta_hist": f"""
            WITH px AS (
                SELECT CAST(i // {SPEC.width} AS BIGINT) AS y,
                       CAST(i % {SPEC.width} AS BIGINT) AS x
                FROM (SELECT UNNEST(range({SPEC.width * SPEC.height})) AS i)
            ), d AS (
                SELECT {value_sql('y', 'x', '1')} - {value_sql('y', 'x', '0')}
                       AS delta
                FROM px
            )
            SELECT CAST(delta AS BIGINT) AS delta, COUNT(*) AS count
            FROM d WHERE delta IS NOT NULL
            GROUP BY delta ORDER BY delta
        """,
        "describe": f"""
            WITH px AS (
                SELECT CAST(i // {SPEC.width} AS BIGINT) AS y,
                       CAST(i % {SPEC.width} AS BIGINT) AS x, t
                FROM (SELECT UNNEST(range({SPEC.width * SPEC.height})) AS i),
                     (SELECT UNNEST(range(2)) AS t)
            ), g AS (
                SELECT t, {value_sql('y', 'x', 't')} AS v FROM px
            )
            SELECT 'synth' AS var,
                   CAST(MIN(t) AS INT) AS t_min, CAST(MAX(t) AS INT) AS t_max,
                   MIN(v) AS min, MAX(v) AS max,
                   COUNT(v) AS valid_pixels
            FROM g
        """,
        "tile_window_stats": _tile_window_oracle(),
        "nc_export": f"""
            SELECT * FROM ({_nc_export_oracle()}) AS ncx
            CROSS JOIN (
                WITH p AS (
                    SELECT CAST(ROUND((l_quantity - CAST(1.0 AS DOUBLE))
                           / CAST({(50.0 - 1.0) / 65534!r} AS DOUBLE)) AS BIGINT) AS code
                    FROM lineitem
                )
                SELECT MIN(code) AS min_code, MAX(code) AS max_code,
                       COUNT(code) AS pack_count, CAST(SUM(code) AS BIGINT) AS sum_code
                FROM p
            ) AS pk
        """,
        "tile_classify_histogram": f"""
            WITH {_pixel_cte()}
            SELECT CAST({classify_sql('v', BREAKS)} AS BIGINT) AS class,
                   COUNT(*) AS count
            FROM geo WHERE v IS NOT NULL
            GROUP BY class ORDER BY class
        """,
        "text_stats": _text_stats_oracle(),
        "dedup_exact": f"""
            WITH d AS ({_DOCS_DUPS_SQL_DUCK})
            SELECT md5(text) AS text_hash, COUNT(*) AS n_dups,
                   MIN(doc_id) AS keep_id
            FROM d GROUP BY text_hash HAVING COUNT(*) > 1 ORDER BY text_hash
        """,
        "dedup_neardup": _dedup_neardup_oracle(),
        "corpus_curate": _corpus_curate_oracle(),
        "lm_bpe_score": _lm_bpe_score_oracle(),
        "dedup_clusters": _dedup_clusters_oracle(),
        "kmeans_train": """
            WITH emb AS (
              SELECT vec_id, list_transform(embedding,
                x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS e
              FROM embeddings
            ),
            init AS (
              SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS k, e
              FROM (SELECT vec_id, e FROM emb ORDER BY vec_id LIMIT 8)
            ),
            d1 AS (
              SELECT emb.vec_id, emb.e, init.k,
                     list_sum(list_transform(list_zip(emb.e, init.e),
                       s -> (s[1] - s[2]) * (s[1] - s[2]))) AS d
              FROM emb CROSS JOIN init
            ),
            a1 AS (
              SELECT vec_id, e, k, d FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                             ORDER BY d, k) AS rn FROM d1
              ) WHERE rn = 1
            ),
            u1 AS (
              SELECT k, i AS pos,
                     CAST(FLOOR(CAST(SUM(e[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
              FROM a1, (SELECT UNNEST(range(1, 65)) AS i) GROUP BY k, i
            ),
            c1 AS (
              -- empty clusters keep their previous centroid: ids never
              -- shift (mirrors kmeans_lloyd_quantized's range(K) update)
              SELECT init.k, COALESCE(upd.e, init.e) AS e
              FROM init LEFT JOIN (
                SELECT k, list(cv ORDER BY pos) AS e FROM u1 GROUP BY k
              ) AS upd USING (k)
            ),
            d2 AS (
              SELECT emb.vec_id, emb.e, c1.k,
                     list_sum(list_transform(list_zip(emb.e, c1.e),
                       s -> (s[1] - s[2]) * (s[1] - s[2]))) AS d
              FROM emb CROSS JOIN c1
            ),
            a2 AS (
              SELECT vec_id, k, d FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                             ORDER BY d, k) AS rn FROM d2
              ) WHERE rn = 1
            )
            SELECT CAST(k AS BIGINT) AS cid, CAST(COUNT(*) AS BIGINT) AS n_points,
                   CAST(SUM(d) AS BIGINT) AS sum_dist
            FROM a2 GROUP BY k ORDER BY cid
        """,
        "dedup_embedding": _dedup_embedding_oracle(),
        "knn_join": _knn_strategies_oracle(),
        "similarity_ann": _similarity_ann_oracle(),
        "weighted_stats": """
            SELECT SUM(CAST(l_quantity AS DOUBLE) * CAST(l_linenumber AS DOUBLE))
                       / SUM(CAST(l_linenumber AS DOUBLE)) AS weighted_mean,
                   SQRT(SUM((CAST(l_quantity AS DOUBLE) * CAST(l_linenumber AS DOUBLE))
                            * (CAST(l_quantity AS DOUBLE) * CAST(l_linenumber AS DOUBLE)))
                            / COUNT(*)
                        - (SUM(CAST(l_quantity AS DOUBLE) * CAST(l_linenumber AS DOUBLE)) / COUNT(*))
                          * (SUM(CAST(l_quantity AS DOUBLE) * CAST(l_linenumber AS DOUBLE)) / COUNT(*)))
                       AS weighted_std
            FROM lineitem
            WHERE l_quantity IS NOT NULL AND l_linenumber IS NOT NULL
        """,
        "mean_of_file_means": """
            WITH g AS (
                SELECT l_returnflag,
                       MIN(l_quantity) AS fmin, MAX(l_quantity) AS fmax,
                       SUM(CAST(l_quantity AS DOUBLE)) / COUNT(l_quantity) AS fmean
                FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY l_returnflag
            )
            SELECT MIN(fmin) AS min, MAX(fmax) AS max,
                   list_reduce(list_prepend(CAST(0 AS DOUBLE),
                       list(fmean ORDER BY fmean)), (a, x) -> a + x)
                       / COUNT(fmean) AS mean
            FROM g
        """,
        "interval_stats": """
            WITH b AS (
                SELECT CAST(FLOOR(epoch(ts) / 21600) AS BIGINT) AS interval,
                       CAST(ROUND(value * 100) AS BIGINT) AS cents
                FROM events
            )
            SELECT interval, COUNT(*) AS count,
                   CAST(SUM(cents) AS DOUBLE) / 100 AS value_sum,
                   MIN(cents) AS min_cents, MAX(cents) AS max_cents
            FROM b GROUP BY interval ORDER BY interval
        """,
        "regression": _regression_oracle(),
        "warp_nearest": _warp_nearest_oracle(),
        "warp_kernels": _warp_kernels_oracle(),
        "png_stability": _png_stability_oracle(),
        "nc_ingest": _nc_ingest_oracle(),
        "nc4_ingest": _nc4_ingest_oracle(),
        "area_timeseries": """
            SELECT event_type,
                   CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS area
            FROM events
            GROUP BY event_type, day ORDER BY event_type, day
        """,
        "weighted_timeseries": """
            SELECT EXTRACT(year FROM l_shipdate) AS t,
                   SUM(CAST(l_quantity AS DOUBLE) * CAST(l_linenumber AS DOUBLE))
                       / SUM(CAST(l_linenumber AS DOUBLE)) AS weighted_mean,
                   SQRT(SUM((CAST(l_quantity AS DOUBLE) * CAST(l_linenumber AS DOUBLE))
                            * (CAST(l_quantity AS DOUBLE) * CAST(l_linenumber AS DOUBLE)))
                            / COUNT(*)
                        - (SUM(CAST(l_quantity AS DOUBLE) * CAST(l_linenumber AS DOUBLE)) / COUNT(*))
                          * (SUM(CAST(l_quantity AS DOUBLE) * CAST(l_linenumber AS DOUBLE)) / COUNT(*)))
                       AS weighted_std
            FROM lineitem
            WHERE l_quantity IS NOT NULL AND l_linenumber IS NOT NULL
            GROUP BY t ORDER BY t
        """,
        "quantile_classify": """
            WITH e AS (
                SELECT event_id, CAST(ROUND(value * 100) AS BIGINT) AS cents
                FROM events
            ), c AS (
                SELECT cents, ntile(4) OVER (ORDER BY cents, event_id) AS q FROM e
            )
            SELECT q, COUNT(*) AS count, MIN(cents) AS min_cents,
                   MAX(cents) AS max_cents,
                   CAST(SUM(cents) AS BIGINT) AS sum_cents
            FROM c GROUP BY q ORDER BY q
        """,
        "salted_agg": f"""
            WITH pages AS ({_PAGES_CTE})
            SELECT cell, CAST(SUM(LENGTH(text)) AS DOUBLE) AS sum,
                   COUNT(*) AS count
            FROM pages GROUP BY cell ORDER BY cell
        """,
        "checkpoint_resume": """
            SELECT 's1' AS stage,
                   CAST(16 AS BIGINT) AS n_keys,
                   CAST(16 AS BIGINT) AS ledger_rows,
                   CAST(COUNT(*) AS BIGINT) AS ledger_row_total,
                   CAST(8 AS BIGINT) AS skipped_keys,
                   CAST(COUNT(*) AS BIGINT) AS output_rows
            FROM documents
        """,
        "proj_roundtrip": """
            SELECT family, CAST(n_points AS BIGINT) AS n_points,
                   CAST(n_ok AS BIGINT) AS n_ok
            FROM (VALUES
                ('aea', 64, 64), ('laea', 64, 64), ('lcc', 64, 64),
                ('stere', 64, 64), ('tmerc', 64, 64), ('utm', 64, 64),
                ('webmerc', 64, 64)
            ) AS t(family, n_points, n_ok) ORDER BY family
        """,
        "pages_text_invariant": f"""
            WITH pages AS ({_PAGES_CTE}),
            counts AS (SELECT cell, COUNT(*) AS cell_rows FROM pages GROUP BY cell)
            SELECT url, md5(text) AS text_md5,
                   CAST(cell_rows AS BIGINT) AS cell_rows
            FROM pages JOIN counts USING (cell) ORDER BY url
        """,
        "vectorize": f"""
            WITH {_pixel_cte()},
            z AS (SELECT CASE {_zone_fid_case_sql()} END AS class FROM geo)
            SELECT CAST(class AS BIGINT) AS class, COUNT(*) AS pixels
            FROM z WHERE class IS NOT NULL
            GROUP BY class ORDER BY class
        """,
        "lag_intervals": """
            WITH g AS (
                SELECT user_id,
                       CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER
                            (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
                           AS gap_us
                FROM events
            )
            SELECT user_id, COUNT(DISTINCT gap_us) AS distinct_gaps,
                   COUNT(*) AS n_gaps, MIN(gap_us) AS min_gap_us
            FROM g WHERE gap_us IS NOT NULL
            GROUP BY user_id ORDER BY user_id
        """,
        "streaming_agg": f"""
            WITH pages AS ({_PAGES_CTE}),
            z AS (
                SELECT {zone_case} AS zone_value, LENGTH(text) AS n_chars
                FROM pages
            ),
            zonal AS (
                SELECT 'zonal' AS section,
                       CAST(zone_value AS VARCHAR) AS key,
                       CAST(COUNT(*) AS BIGINT) AS count,
                       CAST(SUM(n_chars) AS BIGINT) AS val
                FROM z WHERE zone_value IS NOT NULL
                GROUP BY zone_value
            ),
            b AS (
                SELECT CAST(FLOOR(epoch(ts) / 21600) AS BIGINT) AS interval,
                       CAST(ROUND(value * 100) AS BIGINT) AS cents
                FROM events
            ),
            iv AS (
                SELECT 'interval' AS section,
                       CAST(interval AS VARCHAR) AS key,
                       CAST(COUNT(*) AS BIGINT) AS count,
                       CAST(SUM(cents) AS BIGINT) AS val
                FROM b GROUP BY interval
            )
            SELECT * FROM zonal UNION ALL SELECT * FROM iv
            UNION ALL
            SELECT 'dedup' AS section, md5(text) AS key,
                   CAST(1 AS BIGINT) AS count,
                   CAST(MIN(doc_id) AS BIGINT) AS val
            FROM documents GROUP BY md5(text)
            ORDER BY section, key
        """,
        "pagerank": _pagerank_oracle(),
        "cf_360day": _cf360_oracle(),
        "audio_decode": """
            WITH sm AS (
                SELECT doc_id, ((doc_id * 9176 + i * 37) % 65536) - 32768 AS s
                FROM documents, (SELECT UNNEST(range(1024)) AS i)
            )
            SELECT doc_id,
                   CASE doc_id % 4 WHEN 1 THEN 'flac' WHEN 3 THEN 'aiff'
                        ELSE 'wav' END AS fmt,
                   CAST(16000 AS BIGINT) AS sample_rate,
                   CAST(1024 AS BIGINT) AS n_samples,
                   CAST(SUM(s) AS BIGINT) AS sum_amp,
                   CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs
            FROM sm GROUP BY doc_id ORDER BY doc_id
        """,
        "html_extract": """
            SELECT doc_id, md5(text) AS text_md5,
                   CAST(LENGTH(text) AS BIGINT) AS n_chars
            FROM documents ORDER BY doc_id
        """,
        "multimodal_decode": _multimodal_decode_oracle(),
        "multimodal_features": f"""
            SELECT doc_id, i AS feature_idx,
                   CAST(('0x' || substr(md5(text), CAST(2 * i + 1 AS INT), 2))
                        AS BIGINT) / CAST(255 AS DOUBLE) AS value
            FROM documents, (SELECT UNNEST(range(16)) AS i)
            ORDER BY doc_id, feature_idx
        """,
    }


def _multimodal_decode_oracle() -> str:
    """Oracle for multimodal_decode. Lossless legs (doc_id%4 in 0,1,2:
    png/bmp/webp/ico/gif) are closed-form sums of the synth_image
    generator; the lossy-VP8 leg
    (==3) joins a 256-row VALUES expectation table produced by the
    engine's own reference encode→decode of the flat sources
    (operators/multimodal.py lossy_expectation_table) — the driver hash
    then gates that executor-side decode is deterministic and identical
    to this reference evaluation.

    r6 video section (doc_id + 1,000,000): the DIB leg is the same
    closed-form generator summed over the 4-frame walk (lossless —
    byte-exact); the MJPEG leg joins a second 256-row VALUES table
    (mjpeg_expectation_table — the engine's reference JPEG
    encode→decode of the flat sources) keyed by (doc_id + frame) % 256
    and sums it over the frames."""
    from trefoil_spark.operators.multimodal import (
        VIDEO_FRAMES,
        lossy_expectation_table,
        mjpeg_expectation_table,
    )

    values = ",\n                ".join(
        f"({v}, {r}, {g}, {b})" for v, r, g, b in lossy_expectation_table()
    )
    mj_values = ",\n                ".join(
        f"({v}, {r}, {g}, {b})" for v, r, g, b in mjpeg_expectation_table()
    )
    video_sql = f"""
        , fr AS (
            SELECT doc_id, f
            FROM documents, (SELECT UNNEST(range({VIDEO_FRAMES})) AS f)
        ), vpx AS (
            SELECT doc_id, f, i
            FROM fr, (SELECT UNNEST(range(256)) AS i)
        ), dib AS (
            SELECT doc_id,
                   CAST(SUM(((doc_id + f) * 31 + i) % 256) AS BIGINT) AS sum_r,
                   CAST(SUM(((doc_id + f) * 57 + i) % 256) AS BIGINT) AS sum_g,
                   CAST(SUM(((doc_id + f) * 89 + i) % 256) AS BIGINT) AS sum_b
            FROM vpx GROUP BY doc_id
        ), mj(v, er, eg, eb) AS (
            VALUES {mj_values}
        ), mjs AS (
            SELECT fr.doc_id,
                   CAST(SUM(m.er) AS BIGINT) AS sum_r,
                   CAST(SUM(m.eg) AS BIGINT) AS sum_g,
                   CAST(SUM(m.eb) AS BIGINT) AS sum_b
            FROM fr JOIN mj m ON m.v = (fr.doc_id % 256 + fr.f) % 256
            GROUP BY fr.doc_id
        ), video AS (
            SELECT d.doc_id + 1000000 AS doc_id,
                   CASE d.doc_id % 2 WHEN 0 THEN 'avi_dib'
                        ELSE 'avi_mjpeg' END AS fmt,
                   CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
                   CASE WHEN d.doc_id % 2 = 0 THEN dib.sum_r
                        ELSE mjs.sum_r END AS sum_r,
                   CASE WHEN d.doc_id % 2 = 0 THEN dib.sum_g
                        ELSE mjs.sum_g END AS sum_g,
                   CASE WHEN d.doc_id % 2 = 0 THEN dib.sum_b
                        ELSE mjs.sum_b END AS sum_b
            FROM documents d
            LEFT JOIN dib ON dib.doc_id = d.doc_id
            LEFT JOIN mjs ON mjs.doc_id = d.doc_id
        )
    """
    return f"""
        WITH px AS (
            SELECT doc_id, i
            FROM documents, (SELECT UNNEST(range(256)) AS i)
        ), s AS (
            SELECT doc_id,
                   CAST(SUM((doc_id * 31 + i) % 256) AS BIGINT) AS sum_r,
                   CAST(SUM((doc_id * 57 + i) % 256) AS BIGINT) AS sum_g,
                   CAST(SUM((doc_id * 89 + i) % 256) AS BIGINT) AS sum_b
            FROM px GROUP BY doc_id
        ), lossy(v, er, eg, eb) AS (
            VALUES {values}
        ){video_sql}
        SELECT * FROM (
        SELECT s.doc_id,
               CASE s.doc_id % 8 WHEN 0 THEN 'png' WHEN 4 THEN 'bmp'
                    WHEN 1 THEN 'webp' WHEN 5 THEN 'ico'
                    WHEN 2 THEN 'gif' WHEN 6 THEN 'tiff'
                    WHEN 7 THEN 'webp_x'
                    ELSE 'webp_lossy' END AS fmt,
               CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
               CASE WHEN s.doc_id % 4 = 3 THEN CAST(l.er AS BIGINT)
                    ELSE s.sum_r END AS sum_r,
               CASE WHEN s.doc_id % 4 = 3 THEN CAST(l.eg AS BIGINT)
                    ELSE s.sum_g END AS sum_g,
               CASE WHEN s.doc_id % 4 = 3 THEN CAST(l.eb AS BIGINT)
                    ELSE s.sum_b END AS sum_b
        FROM s JOIN lossy l ON l.v = s.doc_id % 256
        UNION ALL
        SELECT doc_id, fmt, width, height, sum_r, sum_g, sum_b FROM video
        ) ORDER BY doc_id
    """


def _text_stats_oracle() -> str:
    from trefoil_spark.operators.textstats import (
        STOPWORDS,
        fingerprint_sql_duckdb,
        stopword_count_sql_duckdb,
    )

    langs = list(STOPWORDS)
    counts = ", ".join(
        f"{stopword_count_sql_duckdb(lang)} AS _c_{lang}" for lang in langs
    )
    best = f"GREATEST({', '.join(f'_c_{lang}' for lang in langs)})"
    case = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN _c_{lang} = {best} THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
        WITH t AS (
            SELECT doc_id, LENGTH(text) AS n_chars,
                   len(string_split(text, ' ')) AS n_tokens,
                   len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
                   {fingerprint_sql_duckdb('text')} AS fingerprint,
                   {counts}
            FROM documents
        )
        SELECT doc_id, n_chars, n_tokens, n_distinct_tokens,
               CAST(n_distinct_tokens AS DOUBLE) / n_tokens AS type_token_ratio,
               CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens AS mean_token_len,
               fingerprint, {case} AS lang_pred
        FROM t ORDER BY doc_id
    """


def _dedup_simhash_oracle() -> str:
    from trefoil_spark.operators.dedup import simhash_sql_duckdb

    toks, sig = simhash_sql_duckdb()
    return f"""
        WITH s AS (
            SELECT doc_id, {sig} AS simhash
            FROM (SELECT doc_id, {toks} AS _th FROM documents)
        ),
        c0 AS (
            SELECT doc_id, simhash, ck AS chunk,
                   (simhash >> CAST(15 * ck AS INT)) & 32767 AS key
            FROM s, (SELECT UNNEST(range(4)) AS ck)
        ),
        c AS (
            -- hot-key guard mirror (dedup.DEFAULT_MAX_BUCKET): keep the
            -- deterministic Knuth-scramble stratified sample per key (r6)
            SELECT doc_id, simhash, chunk, key FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY chunk, key
                    ORDER BY {_scr_sql('doc_id')}, doc_id
                ) AS _rn FROM c0
            ) WHERE _rn <= {_MAX_BUCKET}
        ),
        p AS (
            SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
                   bit_count(xor(l.simhash, r.simhash)) AS hamming
            FROM c l JOIN c r
              ON l.chunk = r.chunk AND l.key = r.key AND l.doc_id < r.doc_id
        )
        SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
        FROM p WHERE hamming <= 3 ORDER BY id_a, id_b
    """


def _minhash_pairs_ctes() -> str:
    """The minhash LSH + exact-Jaccard-verify CTE chain (through
    ``verified``) — shared by the pairs oracle and the clusters oracle."""
    from trefoil_spark.operators.dedup import minhash_sql_duckdb

    toks, sig = minhash_sql_duckdb()
    bands = ", ".join(
        f"CAST(list_slice(minhash, {b * 4 + 1}, {b * 4 + 4}) AS VARCHAR) AS _k{b}"
        for b in range(4)
    )
    band_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, _k{b} AS key FROM s" for b in range(4)
    )
    return f"""d AS ({_DOCS_DUPS_SQL_DUCK}),
        s AS (
            SELECT doc_id, {bands} FROM (
                SELECT doc_id, _th, {sig} AS minhash FROM (
                    SELECT doc_id, {toks} AS _th FROM d
                )
            )
        ),
        banded0 AS ({band_union}),
        banded AS (
            -- hot-key guard mirror (dedup.DEFAULT_MAX_BUCKET): keep the
            -- deterministic Knuth-scramble stratified sample per key (r6)
            SELECT doc_id, band, key FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY band, key
                    ORDER BY {_scr_sql('doc_id')}, doc_id
                ) AS _rn FROM banded0
            ) WHERE _rn <= {_MAX_BUCKET}
        ),
        pairs AS (
            SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
            FROM banded l JOIN banded r
              ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
        ),
        sets AS (
            SELECT doc_id, list_distinct(string_split(text, ' ')) AS tok_set FROM d
        ),
        verified AS (
            SELECT id_a, id_b,
                   len(a.tok_set) + len(b.tok_set)
                       - len(list_distinct(list_concat(a.tok_set, b.tok_set))) AS inter,
                   len(list_distinct(list_concat(a.tok_set, b.tok_set))) AS union_size
            FROM pairs JOIN sets a ON pairs.id_a = a.doc_id
                       JOIN sets b ON pairs.id_b = b.doc_id
        )"""


def _dedup_neardup_oracle() -> str:
    """minhash + ngram (r4 merged row) + simhash (r7 merged row) stages
    united under method labels."""
    return f"""
        SELECT 'minhash' AS method, * FROM (
            WITH {_minhash_pairs_ctes()}
            SELECT id_a, id_b, inter, union_size FROM verified
            WHERE 2 * inter >= union_size
        ) AS mh
        UNION ALL
        SELECT 'ngram' AS method, * FROM ({_dedup_ngram_oracle()}) AS ng
        UNION ALL
        SELECT 'simhash' AS method, id_a, id_b, hamming AS inter,
               CAST(0 AS BIGINT) AS union_size
        FROM ({_dedup_simhash_oracle()}) AS sh
        ORDER BY method, id_a, id_b
    """


def _dedup_embedding_oracle() -> str:
    """Embedding-cosine near-dup twin: identical planted variants,
    identical LSH planes/bucket expression, identical left-fold cosine
    and threshold literal."""
    from trefoil_spark.operators.similarity import bucket_expr, hyperplanes

    planes = hyperplanes(64, n_planes=8)
    be = bucket_expr("embedding", planes, "duckdb")
    dot = (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        "list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x, y) -> x + y)"
    )
    cos = (
        dot.format(a="l.embedding", b="r.embedding")
        + " / (SQRT(" + dot.format(a="l.embedding", b="l.embedding") + ")"
        + " * SQRT(" + dot.format(a="r.embedding", b="r.embedding") + "))"
    )
    return f"""
        WITH base AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
            FROM embeddings
        ),
        planted AS (
            SELECT vec_id + 1000000 AS vec_id,
                   list_transform(embedding, x -> x + {_EMB_DUP_SHIFT}) AS embedding
            FROM base WHERE vec_id % 10 = 0
        ),
        hot AS (
            SELECT 3000000 + i AS vec_id,
                   list_transform(generate_series(1, 64),
                                  x -> CAST(0.5 AS DOUBLE)) AS embedding
            FROM generate_series(0, {_EMB_HOT_N - 1}) t(i)
        ),
        allv AS (
            SELECT * FROM base
            UNION ALL SELECT * FROM planted
            UNION ALL SELECT * FROM hot
        ),
        b0 AS (SELECT vec_id AS id, embedding, {be} AS bucket FROM allv),
        b AS (
            -- hot-key guard mirror (recall-fixture cap): deterministic
            -- Knuth-scramble stratified sample per bucket (r6 — recall
            -- in hot buckets is now > 0 at the same bounded cost)
            SELECT id, embedding, bucket FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY bucket
                    ORDER BY {_scr_sql('id')}, id
                ) AS _rn FROM b0
            ) WHERE _rn <= {_EMB_RECALL_CAP}
        ),
        found_pairs AS (
            SELECT DISTINCT l.id AS id_a, r.id AS id_b
            FROM b l JOIN b r ON l.bucket = r.bucket AND l.id < r.id
            WHERE {cos} >= {_EMB_DUP_TAU}
        ),
        pn AS (
            SELECT vec_id AS id_a, vec_id + 1000000 AS id_b
            FROM base WHERE vec_id % 10 = 0
        ),
        ph AS (
            SELECT 3000000 + 2 * i AS id_a, 3000000 + 2 * i + 1 AS id_b
            FROM generate_series(0, {_EMB_HOT_PAIRS - 1}) t(i)
        )
        SELECT 'pair' AS section, id_a, id_b FROM found_pairs
        UNION ALL
        SELECT 'recall_normal',
               (SELECT COUNT(*) FROM pn),
               (SELECT COUNT(*) FROM pn p
                JOIN found_pairs f ON p.id_a = f.id_a AND p.id_b = f.id_b)
        UNION ALL
        SELECT 'recall_hot',
               (SELECT COUNT(*) FROM ph),
               (SELECT COUNT(*) FROM ph p
                JOIN found_pairs f ON p.id_a = f.id_a AND p.id_b = f.id_b)
        ORDER BY section, id_a, id_b
    """


def _dedup_clusters_oracle() -> str:
    """Near-dup clusters via recursive transitive closure with min-label
    selection (SQL twin of the engine's distributed connected
    components). Component sizes here are tiny (a doc + its copies), so
    the closure set is small; the engine side has no such bound."""
    return f"""
        WITH RECURSIVE {_minhash_pairs_ctes()},
        vpairs AS (
            SELECT id_a, id_b FROM verified WHERE 2 * inter >= union_size
        ),
        e2 AS (
            SELECT id_a AS u, id_b AS v FROM vpairs
            UNION SELECT id_b, id_a FROM vpairs
        ),
        closure AS (
            SELECT DISTINCT u AS node, u AS root FROM e2
            UNION
            SELECT e2.u, c.root FROM e2, closure c WHERE c.node = e2.v
        ),
        comp AS (SELECT node, MIN(root) AS gid FROM closure GROUP BY node)
        SELECT CAST(gid AS BIGINT) AS canonical_id,
               CAST(COUNT(*) AS BIGINT) AS cluster_size,
               CAST(SUM(node) AS BIGINT) AS member_sum
        FROM comp GROUP BY gid ORDER BY canonical_id
    """


def _dedup_ngram_oracle() -> str:
    bigrams = (
        "list_distinct(list_transform(list_slice(string_split(text, ' '), 1, "
        "len(string_split(text, ' ')) - 1), (t, i) -> "
        "array_to_string(list_slice(string_split(text, ' '), i, i + 1), ' ')))"
    )
    return f"""
        WITH d AS ({_DOCS_DUPS_SQL_DUCK}),
        pairs AS (
            SELECT doc_id - 2000000 AS id_a, doc_id AS id_b FROM d
            WHERE doc_id >= 2000000
        ),
        sets AS (SELECT doc_id, {bigrams} AS tok_set FROM d)
        SELECT id_a, id_b,
               len(a.tok_set) + len(b.tok_set)
                   - len(list_distinct(list_concat(a.tok_set, b.tok_set))) AS inter,
               len(list_distinct(list_concat(a.tok_set, b.tok_set))) AS union_size
        FROM pairs JOIN sets a ON pairs.id_a = a.doc_id
                   JOIN sets b ON pairs.id_b = b.doc_id
        ORDER BY id_a
    """


def _knn_oracle() -> str:
    return f"""
        WITH pages AS ({_PAGES_CTE}),
        q AS (SELECT doc_id AS query_id, lon AS qlon, lat AS qlat FROM pages
              WHERE doc_id % 100 = 0),
        cand AS (
            SELECT q.query_id, p.doc_id AS neighbor_id,
                   (q.qlon - p.lon) * (q.qlon - p.lon)
                       + (q.qlat - p.lat) * (q.qlat - p.lat) AS d
            FROM pages p, q WHERE p.doc_id != q.query_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY d, neighbor_id) AS rank
            FROM cand
        )
        SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
        ORDER BY query_id, rank
    """


def _knn_strategies_oracle() -> str:
    """One brute-force kNN recompute replicated per strategy label: every
    registered strategy is exact on this fixture, so the union is the
    oracle for the parameterized knn_join row."""
    base = _knn_oracle()
    parts = [
        f"SELECT '{s}' AS strategy, * FROM ({base}) AS knn_{s}"
        for s in ("adaptive", "brute", "cells")
    ]
    return (
        " UNION ALL ".join(parts) + " ORDER BY strategy, query_id, rank"
    )


def _similarity_ann_oracle() -> str:
    """Per-strategy ANN oracles (exact brute cosine / IVF posting lists /
    LSH buckets) united under strategy labels."""
    parts = [
        f"SELECT 'exact' AS strategy, * FROM ({_similarity_oracle(lsh=False)}) AS ann_e",
        f"SELECT 'ivf' AS strategy, * FROM ({_similarity_ivf_oracle()}) AS ann_i",
        f"SELECT 'lsh' AS strategy, * FROM ({_similarity_oracle(lsh=True)}) AS ann_l",
    ]
    return (
        " UNION ALL ".join(parts) + " ORDER BY strategy, query_id, rank"
    )


def _warp_nearest_oracle() -> str:
    """lcc + webmerc nearest-warp recomputes united under dst labels."""
    parts = [
        f"SELECT 'lcc' AS dst, * FROM ({_warp_lcc_oracle()}) AS w_lcc",
        f"SELECT 'webmerc' AS dst, * FROM ({_warp_oracle()}) AS w_wm",
    ]
    return " UNION ALL ".join(parts) + " ORDER BY dst, ty, tx"


def _warp_kernels_oracle() -> str:
    """Per-kernel full-gather recomputes (bilinear/cubic/lanczos/mode)
    united under kernel labels on the shared floor_sum/count shape."""
    parts = [
        f"SELECT 'bilinear' AS kernel, * FROM ({_warp_bilinear_oracle()}) AS k_b",
        f"SELECT 'cubic' AS kernel, * FROM ({_warp_cubic_oracle()}) AS k_c",
        f"SELECT 'lanczos' AS kernel, * FROM ({_warp_lanczos_oracle()}) AS k_l",
        f"SELECT 'mode' AS kernel, * FROM ({_warp_mode_oracle()}) AS k_m",
    ]
    return " UNION ALL ".join(parts) + " ORDER BY kernel, ty, tx"


def _similarity_oracle(lsh: bool) -> str:
    from trefoil_spark.operators.similarity import bucket_expr, hyperplanes

    dot = (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        "list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x, y) -> x + y)"
    )
    cos = (
        dot.format(a="q.qv", b="p.pv")
        + " / (SQRT(" + dot.format(a="q.qv", b="q.qv") + ")"
        + " * SQRT(" + dot.format(a="p.pv", b="p.pv") + "))"
    )
    if lsh:
        be = bucket_expr("embedding", hyperplanes(64), "duckdb")
        src = f"SELECT vec_id, embedding, {be} AS bucket FROM embeddings"
        join_cond = "p.bucket = q.bucket AND p.vec_id != q.query_id"
        qsel = "SELECT vec_id AS query_id, embedding AS qv, bucket FROM e WHERE vec_id < 10"
        psel = "SELECT vec_id, embedding AS pv, bucket FROM e"
    else:
        src = "SELECT vec_id, embedding FROM embeddings"
        join_cond = "p.vec_id != q.query_id"
        qsel = "SELECT vec_id AS query_id, embedding AS qv FROM e WHERE vec_id < 10"
        psel = "SELECT vec_id, embedding AS pv FROM e"
    return f"""
        WITH e AS ({src}),
        q AS ({qsel}),
        p AS ({psel}),
        scored AS (
            SELECT q.query_id, p.vec_id AS neighbor_id, {cos} AS c
            FROM p JOIN q ON {join_cond}
        ),
        ranked AS (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY c DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
        ORDER BY query_id, rank
    """


def _cf360_oracle() -> str:
    frag = _cf360_sql("epoch(ts)")
    return f"""
        WITH e AS (
            SELECT {frag['year']} AS cf_year, {frag['month']} AS cf_month,
                   {frag['day']} AS cf_day,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents
            FROM events
        )
        SELECT cf_year, cf_month, cf_day, COUNT(*) AS count,
               CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM e GROUP BY cf_year, cf_month, cf_day
        ORDER BY cf_year, cf_month, cf_day
    """


def _similarity_ivf_oracle() -> str:
    """IVF twin: same centroid literals (gate sf per driver contract),
    same left-fold distance arithmetic, same cosine ranking."""
    from trefoil_spark.operators.similarity import (
        fixture_centroids,
        ivf_assign_sql_duckdb,
    )

    cents = fixture_centroids("/root/testdata/sf0.01", n_centroids=8)
    assign = ivf_assign_sql_duckdb("embedding", cents)
    dot = (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        "list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x, y) -> x + y)"
    )
    cos = (
        dot.format(a="q.qv", b="p.pv")
        + " / (SQRT(" + dot.format(a="q.qv", b="q.qv") + ")"
        + " * SQRT(" + dot.format(a="p.pv", b="p.pv") + "))"
    )
    return f"""
        WITH e AS (SELECT vec_id, embedding, {assign} AS l FROM embeddings),
        q AS (SELECT vec_id AS query_id, embedding AS qv, l FROM e WHERE vec_id < 10),
        p AS (SELECT vec_id, embedding AS pv, l FROM e),
        scored AS (
            SELECT q.query_id, p.vec_id AS neighbor_id, {cos} AS c
            FROM p JOIN q ON p.l = q.l AND p.vec_id != q.query_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY c DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
        ORDER BY query_id, rank
    """


def _zone_fid_case_sql() -> str:
    return " ".join(
        f"WHEN {pip_sql_expr('lon', 'lat', ZONE_LAYER[fid])} THEN {fid}"
        for fid in reversed(range(len(ZONE_LAYER)))
    )


def _warp_oracle() -> str:
    """Inverse-mercator gather in SQL — the identical arithmetic the numpy
    warp kernel runs (same constants inlined from the same driver math).
    Caveat: EXP/ATAN are libm-dependent; a 1-ulp divergence exactly at a
    pixel boundary would flip one gather — not observed at this size."""
    d = _DST_SPEC
    s = SPEC
    deg = "CAST(57.29577951308232 AS DOUBLE)"
    half_pi = "CAST(1.5707963267948966 AS DOUBLE)"
    R = "CAST(6378137.0 AS DOUBLE)"

    def dbl(v):
        return f"CAST({float(v)!r} AS DOUBLE)"

    n = d.width * d.height
    return f"""
        WITH px AS (
            SELECT CAST(i // {d.width} AS BIGINT) AS y,
                   CAST(i % {d.width} AS BIGINT) AS x
            FROM (SELECT UNNEST(range({n})) AS i)
        ), m AS (
            SELECT y, x,
                   {dbl(d.x0)} + (CAST(x AS DOUBLE) + CAST(0.5 AS DOUBLE)) * {dbl(d.dx)} AS mx,
                   {dbl(d.y0)} - (CAST(y AS DOUBLE) + CAST(0.5 AS DOUBLE)) * {dbl(d.dy)} AS my
            FROM px
        ), geo AS (
            SELECT y, x,
                   (mx / {R}) * {deg} AS slon,
                   (CAST(2 AS DOUBLE) * ATAN(EXP(my / {R})) - {half_pi}) * {deg} AS slat
            FROM m
        ), idx AS (
            SELECT y, x,
                   CAST(FLOOR((slon - {dbl(s.x0)}) / {dbl(s.dx)}) AS BIGINT) AS six,
                   CAST(FLOOR(({dbl(s.y0)} - slat) / {dbl(s.dy)}) AS BIGINT) AS siy
            FROM geo
        ), v AS (
            SELECT CAST(y // {d.tile} AS INT) AS ty, CAST(x // {d.tile} AS INT) AS tx,
                   CASE WHEN six >= 0 AND six < {s.width} AND siy >= 0 AND siy < {s.height}
                        THEN {value_sql('siy', 'six')} END AS val
            FROM idx
        )
        SELECT ty, tx, CAST(SUM(val) AS DOUBLE) AS sum, COUNT(val) AS count
        FROM v GROUP BY ty, tx ORDER BY ty, tx
    """


def _warp_lcc_oracle() -> str:
    """Full inverse-LCC gather recompute in DuckDB through the SQL-text
    backend (grid/projections.py) — the same Snyder formula the numpy
    kernel and the Catalyst corner math evaluate."""
    from trefoil_spark.grid import proj as _proj

    d, s = _LCC_SPEC, SPEC

    def dbl(v):
        return f"CAST({float(v)!r} AS DOUBLE)"

    slon, slat = _proj.transform_sql(_LCC_CRS, "EPSG:4326", "mx", "my")
    n = d.width * d.height
    return f"""
        WITH px AS (
            SELECT CAST(i // {d.width} AS BIGINT) AS y,
                   CAST(i % {d.width} AS BIGINT) AS x
            FROM (SELECT UNNEST(range({n})) AS i)
        ), m AS (
            SELECT y, x,
                   {dbl(d.x0)} + (CAST(x AS DOUBLE) + CAST(0.5 AS DOUBLE)) * {dbl(d.dx)} AS mx,
                   {dbl(d.y0)} - (CAST(y AS DOUBLE) + CAST(0.5 AS DOUBLE)) * {dbl(d.dy)} AS my
            FROM px
        ), geo AS (
            SELECT y, x, {slon} AS slon, {slat} AS slat FROM m
        ), idx AS (
            SELECT y, x,
                   CAST(FLOOR((slon - {dbl(s.x0)}) / {dbl(s.dx)}) AS BIGINT) AS six,
                   CAST(FLOOR(({dbl(s.y0)} - slat) / {dbl(s.dy)}) AS BIGINT) AS siy
            FROM geo
        ), v AS (
            SELECT CAST(y // {d.tile} AS INT) AS ty, CAST(x // {d.tile} AS INT) AS tx,
                   CASE WHEN six >= 0 AND six < {s.width} AND siy >= 0 AND siy < {s.height}
                        THEN {value_sql('siy', 'six')} END AS val
            FROM idx
        )
        SELECT ty, tx, CAST(SUM(val) AS DOUBLE) AS sum, COUNT(val) AS count
        FROM v GROUP BY ty, tx ORDER BY ty, tx
    """


def _warp_bilinear_oracle() -> str:
    """Bilinear gather recompute in DuckDB: identical inverse-mercator,
    identical left-associated weight arithmetic, NULL-propagating
    contributors, float32 rounding via CAST(REAL) — reduced to exact
    integers (Σ floor, count)."""
    from trefoil_spark.grid import proj as _proj

    d, s = _BILIN_DST_SPEC, SPEC

    def dbl(v):
        return f"CAST({float(v)!r} AS DOUBLE)"

    slon, slat = _proj.transform_sql("EPSG:3857", "EPSG:4326", "mx", "my")
    n = d.width * d.height
    w_, h_ = s.width, s.height
    return f"""
        WITH px AS (
            SELECT CAST(i // {d.width} AS BIGINT) AS y,
                   CAST(i % {d.width} AS BIGINT) AS x
            FROM (SELECT UNNEST(range({n})) AS i)
        ), m AS (
            SELECT y, x,
                   {dbl(d.x0)} + (CAST(x AS DOUBLE) + CAST(0.5 AS DOUBLE)) * {dbl(d.dx)} AS mx,
                   {dbl(d.y0)} - (CAST(y AS DOUBLE) + CAST(0.5 AS DOUBLE)) * {dbl(d.dy)} AS my
            FROM px
        ), g AS (
            SELECT y, x,
                   ({slon} - {dbl(s.x0)}) / {dbl(s.dx)} AS gx,
                   ({dbl(s.y0)} - {slat}) / {dbl(s.dy)} AS gy
            FROM m
        ), f AS (
            SELECT y, x, gx, gy,
                   gx - CAST(0.5 AS DOUBLE) AS fx,
                   gy - CAST(0.5 AS DOUBLE) AS fy
            FROM g
        ), wgt AS (
            SELECT y, x, gx, gy,
                   fx - FLOOR(fx) AS wx, fy - FLOOR(fy) AS wy,
                   CAST(LEAST(GREATEST(FLOOR(fx), 0), {w_ - 1}) AS BIGINT) AS xa,
                   CAST(LEAST(GREATEST(FLOOR(fx) + 1, 0), {w_ - 1}) AS BIGINT) AS xb,
                   CAST(LEAST(GREATEST(FLOOR(fy), 0), {h_ - 1}) AS BIGINT) AS ya,
                   CAST(LEAST(GREATEST(FLOOR(fy) + 1, 0), {h_ - 1}) AS BIGINT) AS yb
            FROM f
        ), v AS (
            SELECT CAST(y // {d.tile} AS INT) AS ty, CAST(x // {d.tile} AS INT) AS tx,
                   CASE WHEN gx >= 0 AND gx < {w_} AND gy >= 0 AND gy < {h_} THEN
                     CAST((
                         (({value_sql('ya', 'xa')} * (CAST(1 AS DOUBLE) - wy)) * (CAST(1 AS DOUBLE) - wx))
                       + (({value_sql('ya', 'xb')} * (CAST(1 AS DOUBLE) - wy)) * wx)
                       + (({value_sql('yb', 'xa')} * wy) * (CAST(1 AS DOUBLE) - wx))
                       + (({value_sql('yb', 'xb')} * wy) * wx)
                     ) AS REAL)
                   END AS vf
            FROM wgt
        )
        SELECT ty, tx,
               CAST(SUM(CAST(FLOOR(CAST(vf AS DOUBLE)) AS BIGINT)) AS BIGINT) AS floor_sum,
               COUNT(vf) AS count
        FROM v GROUP BY ty, tx ORDER BY ty, tx
    """


def _warp_cubic_oracle() -> str:
    """Cubic (Keys a=-0.5) gather recompute in DuckDB: identical inverse
    mercator, identical tap order (ky outer, kx inner, -1..2) and
    left-associated `(v * wy) * wx` accumulation, identical weight
    polynomial association — float32 via CAST(REAL)."""
    from trefoil_spark.grid import proj as _proj

    d, s = _BILIN_DST_SPEC, SPEC

    def dbl(v):
        return f"CAST({float(v)!r} AS DOUBLE)"

    def inner(sx):  # |s| <= 1 — mirrors warp.py inner(): (1.5*s-2.5)*s*s+1
        return (
            f"(({dbl(1.5)} * {sx} - {dbl(2.5)}) * {sx} * {sx} + {dbl(1.0)})"
        )

    def outer(sx):  # 1 < |s| <= 2 — ((-0.5*s+2.5)*s-4)*s+2
        return (
            f"((({dbl(-0.5)} * {sx} + {dbl(2.5)}) * {sx} - {dbl(4.0)}) "
            f"* {sx} + {dbl(2.0)})"
        )

    slon, slat = _proj.transform_sql("EPSG:3857", "EPSG:4326", "mx", "my")
    n = d.width * d.height
    w_, h_ = s.width, s.height
    # clamped tap index columns (k = -1, 0, 1, 2)
    tap_cols = []
    for axis, base, lim in (("x", "FLOOR(fx)", w_ - 1), ("y", "FLOOR(fy)", h_ - 1)):
        for i, k in enumerate((-1, 0, 1, 2)):
            off = f" + {k}" if k else ""
            tap_cols.append(
                f"CAST(LEAST(GREATEST({base}{off}, 0), {lim}) AS BIGINT)"
                f" AS {axis}t{i}"
            )
    wx = [outer(f"(tx + {dbl(1.0)})"), inner("tx"),
          inner(f"({dbl(1.0)} - tx)"), outer(f"({dbl(2.0)} - tx)")]
    wy = [outer(f"(ry + {dbl(1.0)})"), inner("ry"),
          inner(f"({dbl(1.0)} - ry)"), outer(f"({dbl(2.0)} - ry)")]
    terms = []
    for ky in range(4):
        for kx in range(4):
            terms.append(
                f"(({value_sql(f'yt{ky}', f'xt{kx}')} * wy{ky}) * wx{kx})"
            )
    acc = terms[0]
    for t in terms[1:]:
        acc = f"({acc} + {t})"
    return f"""
        WITH px AS (
            SELECT CAST(i // {d.width} AS BIGINT) AS y,
                   CAST(i % {d.width} AS BIGINT) AS x
            FROM (SELECT UNNEST(range({n})) AS i)
        ), m AS (
            SELECT y, x,
                   {dbl(d.x0)} + (CAST(x AS DOUBLE) + CAST(0.5 AS DOUBLE)) * {dbl(d.dx)} AS mx,
                   {dbl(d.y0)} - (CAST(y AS DOUBLE) + CAST(0.5 AS DOUBLE)) * {dbl(d.dy)} AS my
            FROM px
        ), g AS (
            SELECT y, x,
                   ({slon} - {dbl(s.x0)}) / {dbl(s.dx)} AS gx,
                   ({dbl(s.y0)} - {slat}) / {dbl(s.dy)} AS gy
            FROM m
        ), f AS (
            SELECT y, x, gx, gy,
                   gx - CAST(0.5 AS DOUBLE) AS fx,
                   gy - CAST(0.5 AS DOUBLE) AS fy
            FROM g
        ), wgt AS (
            SELECT y, x, gx, gy,
                   fx - FLOOR(fx) AS tx, fy - FLOOR(fy) AS ry,
                   {', '.join(tap_cols)}
            FROM f
        ), wts AS (
            SELECT *, {', '.join(f'{wx[i]} AS wx{i}' for i in range(4))},
                      {', '.join(f'{wy[i]} AS wy{i}' for i in range(4))}
            FROM wgt
        ), v AS (
            SELECT CAST(y // {d.tile} AS INT) AS ty, CAST(x // {d.tile} AS INT) AS tx,
                   CASE WHEN gx >= 0 AND gx < {w_} AND gy >= 0 AND gy < {h_} THEN
                     CAST({acc} AS REAL)
                   END AS vf
            FROM wts
        )
        SELECT ty, tx,
               CAST(SUM(CAST(FLOOR(CAST(vf AS DOUBLE)) AS BIGINT)) AS BIGINT) AS floor_sum,
               COUNT(vf) AS count
        FROM v GROUP BY ty, tx ORDER BY ty, tx
    """


def _warp_lanczos_oracle() -> str:
    """Lanczos-3 (6×6 windowed sinc) gather recompute in DuckDB: the
    identical sinc expression the numpy kernel evaluates
    (`CASE WHEN x=0 THEN 1 ELSE SIN(PI()*x)/(PI()*x) END` ≡ warp._sinc —
    np.pi and PI() are the same double, numpy float64 SIN and DuckDB SIN
    both resolve to this box's libm, already evidenced bit-identical by
    the warp_lcc trig oracle), identical fixed tap order (k=-2..3, ky
    outer kx inner), identical left-associated normalization sums and
    `(v * wy) * wx` accumulation — float32 via CAST(REAL)."""
    from trefoil_spark.grid import proj as _proj

    d, s = _BILIN_DST_SPEC, SPEC

    def dbl(v):
        return f"CAST({float(v)!r} AS DOUBLE)"

    def sinc(x):  # mirrors warp._sinc: px = PI()*x; x==0 -> 1
        return (
            f"(CASE WHEN {x} = CAST(0 AS DOUBLE) THEN CAST(1 AS DOUBLE) "
            f"ELSE SIN(PI() * {x}) / (PI() * {x}) END)"
        )

    def lw(dist):  # raw Lanczos-3 weight at distance expression `dist`
        return f"({sinc(dist)} * {sinc(f'({dist} / {dbl(3.0)})')})"

    slon, slat = _proj.transform_sql("EPSG:3857", "EPSG:4326", "mx", "my")
    n = d.width * d.height
    w_, h_ = s.width, s.height
    # clamped tap index columns (k = -2..3)
    tap_cols = []
    for axis, base, lim in (("x", "FLOOR(fx)", w_ - 1), ("y", "FLOOR(fy)", h_ - 1)):
        for i, k in enumerate((-2, -1, 0, 1, 2, 3)):
            off = f" + {k}" if k >= 0 else f" - {-k}"
            off = "" if k == 0 else off
            tap_cols.append(
                f"CAST(LEAST(GREATEST({base}{off}, 0), {lim}) AS BIGINT)"
                f" AS {axis}t{i}"
            )
    # raw weights at distances t-k (t in [0,1)): k=-2..3
    def raw_ws(t):
        dists = [f"({t} + {dbl(2.0)})", f"({t} + {dbl(1.0)})", t,
                 f"({t} - {dbl(1.0)})", f"({t} - {dbl(2.0)})",
                 f"({t} - {dbl(3.0)})"]
        return [lw(dist) for dist in dists]

    wx_raw = raw_ws("tx")
    wy_raw = raw_ws("ry")

    def lsum(cols):  # left-associated sum, matches _lanczos_weights
        acc = cols[0]
        for c in cols[1:]:
            acc = f"({acc} + {c})"
        return acc

    terms = []
    for ky in range(6):
        for kx in range(6):
            terms.append(
                f"(({value_sql(f'yt{ky}', f'xt{kx}')} * wy{ky}) * wx{kx})"
            )
    acc = terms[0]
    for t in terms[1:]:
        acc = f"({acc} + {t})"
    return f"""
        WITH px AS (
            SELECT CAST(i // {d.width} AS BIGINT) AS y,
                   CAST(i % {d.width} AS BIGINT) AS x
            FROM (SELECT UNNEST(range({n})) AS i)
        ), m AS (
            SELECT y, x,
                   {dbl(d.x0)} + (CAST(x AS DOUBLE) + CAST(0.5 AS DOUBLE)) * {dbl(d.dx)} AS mx,
                   {dbl(d.y0)} - (CAST(y AS DOUBLE) + CAST(0.5 AS DOUBLE)) * {dbl(d.dy)} AS my
            FROM px
        ), g AS (
            SELECT y, x,
                   ({slon} - {dbl(s.x0)}) / {dbl(s.dx)} AS gx,
                   ({dbl(s.y0)} - {slat}) / {dbl(s.dy)} AS gy
            FROM m
        ), f AS (
            SELECT y, x, gx, gy,
                   gx - CAST(0.5 AS DOUBLE) AS fx,
                   gy - CAST(0.5 AS DOUBLE) AS fy
            FROM g
        ), wgt AS (
            SELECT y, x, gx, gy,
                   fx - FLOOR(fx) AS tx, fy - FLOOR(fy) AS ry,
                   {', '.join(tap_cols)}
            FROM f
        ), raw AS (
            SELECT *, {', '.join(f'{wx_raw[i]} AS rwx{i}' for i in range(6))},
                      {', '.join(f'{wy_raw[i]} AS rwy{i}' for i in range(6))}
            FROM wgt
        ), nrm AS (
            SELECT *, {lsum([f'rwx{i}' for i in range(6)])} AS swx,
                      {lsum([f'rwy{i}' for i in range(6)])} AS swy
            FROM raw
        ), wts AS (
            SELECT *, {', '.join(f'(rwx{i} / swx) AS wx{i}' for i in range(6))},
                      {', '.join(f'(rwy{i} / swy) AS wy{i}' for i in range(6))}
            FROM nrm
        ), v AS (
            SELECT CAST(y // {d.tile} AS INT) AS ty, CAST(x // {d.tile} AS INT) AS tx,
                   CASE WHEN gx >= 0 AND gx < {w_} AND gy >= 0 AND gy < {h_} THEN
                     CAST({acc} AS REAL)
                   END AS vf
            FROM wts
        )
        SELECT ty, tx,
               CAST(SUM(CAST(FLOOR(CAST(vf AS DOUBLE)) AS BIGINT)) AS BIGINT) AS floor_sum,
               COUNT(vf) AS count
        FROM v GROUP BY ty, tx ORDER BY ty, tx
    """


def _warp_mode_oracle() -> str:
    """Majority-vote (ties → smallest class, nodata doesn't vote) over
    each dst pixel's exact 2×2 source box — pure integer SQL, reduced to
    the same per-tile (Σ floor, count) shape as the other kernels (class
    ids are integers, so floor(class) = class)."""
    d = _MODE_DST_SPEC
    n = d.width * d.height
    cls = classify_sql(value_sql("sy", "sx"), BREAKS)
    return f"""
        WITH dpx AS (
            SELECT CAST(i // {d.width} AS BIGINT) AS y,
                   CAST(i % {d.width} AS BIGINT) AS x
            FROM (SELECT UNNEST(range({n})) AS i)
        ), cand AS (
            SELECT y, x, 2*y + ky AS sy, 2*x + kx AS sx
            FROM dpx, (VALUES (0, 0), (0, 1), (1, 0), (1, 1)) AS k(ky, kx)
        ), cl AS (
            SELECT y, x, {cls} AS cls FROM cand
        ), counts AS (
            SELECT y, x, cls, COUNT(*) AS cnt
            FROM cl WHERE cls IS NOT NULL GROUP BY y, x, cls
        ), pick AS (
            SELECT y, x, cls,
                   ROW_NUMBER() OVER (PARTITION BY y, x ORDER BY cnt DESC, cls ASC) AS rn
            FROM counts
        )
        SELECT CAST(y // {d.tile} AS INT) AS ty, CAST(x // {d.tile} AS INT) AS tx,
               CAST(SUM(CAST(cls AS BIGINT)) AS BIGINT) AS floor_sum,
               COUNT(*) AS count
        FROM pick WHERE rn = 1 GROUP BY ty, tx ORDER BY ty, tx
    """


def _png_stability_oracle() -> str:
    """Frozen-literal PNG md5s (sf-independent: the render fixture is the
    synthetic SPEC grid). Regenerate with tools/freeze_png_md5.py if the
    renderer fixture ever changes INTENTIONALLY."""
    rows = ", ".join(f"({ty}, {tx}, '{h}')" for ty, tx, h in _PNG_MD5_FIXTURE)
    return f"""
        SELECT CAST(ty AS INT) AS ty, CAST(tx AS INT) AS tx, png_md5
        FROM (VALUES {rows}) AS t(ty, tx, png_md5)
        ORDER BY ty, tx
    """


def _regression_oracle() -> str:
    from trefoil_spark.raster.timeseries import regression_sql

    inner = regression_sql(
        "event_type", "t_rel", "cents", "ev", exact_ints=True, full=True
    )
    return f"""
        WITH ev AS (
            SELECT event_type,
                   -- FLOOR before cast: Spark's unix_timestamp truncates,
                   -- DuckDB's CAST(double AS BIGINT) rounds
                   CAST(FLOOR(epoch(ts)) AS BIGINT) - 1704067200 AS t_rel,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents
            FROM events
        )
        SELECT * FROM ({inner}) ORDER BY event_type
    """


def _albers_area_oracle() -> str:
    """Authalic per-pixel integer areas (same Snyder q, DuckDB libm —
    floor-level agreement with numpy asserted in tests), summed per
    rasterized zone."""
    from trefoil_spark.grid import proj as _proj

    e2 = _proj.WGS84_E2
    e = float(e2 ** 0.5)
    k = _proj.WGS84_A ** 2 / 2.0

    def q(lat):
        s = f"sin(radians({lat}))"
        return (
            f"((1-{e2!r})*({s}/(1-{e2!r}*{s}*{s}) "
            f"- (1/(2*{e!r}))*ln((1-{e!r}*{s})/(1+{e!r}*{s}))))"
        )

    top = f"({SPEC.y0!r} - y*{SPEC.dy!r})"
    bot = f"({SPEC.y0!r} - (y+1)*{SPEC.dy!r})"
    area = (
        f"CAST(FLOOR({k!r}*radians({SPEC.dx!r})*({q(top)} - {q(bot)})) AS BIGINT)"
    )
    return f"""
        WITH {_pixel_cte()},
        z AS (
            SELECT CASE {_zone_fid_case_sql()} END AS zone, {area} AS parea
            FROM geo
        )
        SELECT CAST(zone AS INT) AS zone, CAST(SUM(parea) AS BIGINT) AS area_m2
        FROM z WHERE zone IS NOT NULL
        GROUP BY zone ORDER BY zone
    """


def _autocrop_oracle() -> str:
    from trefoil_spark.raster.mask import border_mask_sql

    border = border_mask_sql(
        "y", "x", SPEC.height, SPEC.width, top=7, bottom=3, left=5, right=11
    )
    return f"""
        WITH {_pixel_cte()}
        SELECT MIN(y) AS ymin, MAX(y) AS ymax,
               MIN(x) AS xmin, MAX(x) AS xmax,
               COUNT(v) AS n_valid
        FROM geo WHERE v IS NOT NULL AND NOT {border}
    """


def _tile_zonal_oracle(masked: bool = False) -> str:
    from trefoil_spark.raster.mask import mask_sql

    cases = " ".join(
        f"WHEN {pip_sql_expr('lon', 'lat', ZONE_LAYER[fid])} THEN {fid}"
        for fid in reversed(range(len(ZONE_LAYER)))
    )
    v_expr = f"(CASE WHEN {mask_sql('y', 'x')} THEN NULL ELSE v END)" if masked else "v"
    return f"""
        WITH {_pixel_cte()},
        z AS (SELECT CASE {cases} END AS zone, {v_expr} AS v FROM geo)
        SELECT zone,
               SUM(v) / COUNT(v) AS mean, MIN(v) AS min, MAX(v) AS max,
               SQRT(SUM(v*v)/COUNT(v) - (SUM(v)/COUNT(v))*(SUM(v)/COUNT(v))) AS std,
               SUM(v) AS sum, COUNT(v) AS count
        FROM z WHERE zone IS NOT NULL AND v IS NOT NULL
        GROUP BY zone ORDER BY zone
    """


def _nc_export_oracle() -> str:
    w = SPEC.window_for_bbox(QUERY_BBOX)
    y0, y1 = w.y_slice.start, w.y_slice.stop
    x0, x1 = w.x_slice.start, w.x_slice.stop
    return f"""
        WITH {_pixel_cte()}
        SELECT CAST(SUM(CAST(FLOOR(v) AS BIGINT)) AS BIGINT) AS floor_sum,
               COUNT(v) AS count,
               CAST({y1 - y0} AS BIGINT) AS height,
               CAST({x1 - x0} AS BIGINT) AS width
        FROM geo
        WHERE y >= {y0} AND y < {y1} AND x >= {x0} AND x < {x1}
    """


def _tile_window_oracle() -> str:
    w = SPEC.window_for_bbox(QUERY_BBOX)
    y0, y1 = w.y_slice.start, w.y_slice.stop
    x0, x1 = w.x_slice.start, w.x_slice.stop
    return f"""
        WITH {_pixel_cte()}
        SELECT CAST(SUM(v) AS DOUBLE) AS sum, COUNT(v) AS count,
               MIN(y) AS ymin, MAX(y) AS ymax, MIN(x) AS xmin, MAX(x) AS xmax
        FROM geo
        WHERE y >= {y0} AND y < {y1} AND x >= {x0} AND x < {x1}
    """
