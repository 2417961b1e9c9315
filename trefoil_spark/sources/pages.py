"""Common-Crawl-style ``pages`` table (BASELINE.json input_hint).

Schema: ``url:string, warc_ts:timestamp, html:binary, text:string,
lang:string`` + derived ``lat, lon`` geotags and the qcell ``cell`` key.

Derived deterministically from the driver's ``documents`` parquet
(``doc_id, text, lang, source, n_chars``) via pure integer arithmetic so
the IDENTICAL formula runs as Spark expressions (whole-stage codegen) and
inside the DuckDB oracle SQL — no Python in the hot path, bit-identical
geotags in both engines.

Geotag model (FIXTURES.md §1): ~20% of pages ("hot", doc_id % 5 == 0)
cluster in a 0.2° urban box to create deliberate join-key skew; the rest
spread over a 12°x6° region resembling the reference fixture extent
(tmin_zones bbox ≈ -117.5..-115.8, 33.5..35.2).

The per-row invariant tracked through every shuffle: ``text`` (and its
``html`` encoding) stays byte-identical per ``url``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..grid import cells

# region extents (non-hot)
LON0, LON_SPAN = -125.0, 12.0
LAT0, LAT_SPAN = 32.0, 6.0
# hot urban box
HOT_LON0, HOT_LAT0, HOT_SPAN = -118.30, 33.90, 0.20

_P1, _P2 = 1000003, 999983  # primes for the two hash streams
EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z

DEFAULT_RES = 7


def _dbl(v: float) -> str:
    # bare decimal literals parse as DECIMAL in Spark & DuckDB → cast
    return f"CAST({float(v)!r} AS DOUBLE)"


def _derive_exprs() -> dict[str, str]:
    """SQL fragments shared verbatim by Spark and DuckDB."""
    u1 = f"(CAST((doc_id * 2654435761) % {_P1} AS DOUBLE) / {_P1})"
    u2 = f"(CAST((doc_id * 40503 + 9973) % {_P2} AS DOUBLE) / {_P2})"
    hot = "(doc_id % 5 = 0)"
    lon = (
        f"(CASE WHEN {hot} THEN {_dbl(HOT_LON0)} + {u1} * {_dbl(HOT_SPAN)} "
        f"ELSE {_dbl(LON0)} + {u1} * {_dbl(LON_SPAN)} END)"
    )
    lat = (
        f"(CASE WHEN {hot} THEN {_dbl(HOT_LAT0)} + {u2} * {_dbl(HOT_SPAN)} "
        f"ELSE {_dbl(LAT0)} + {u2} * {_dbl(LAT_SPAN)} END)"
    )
    url = "('https://' || source || '.example.com/doc/' || CAST(doc_id AS STRING))"
    warc_epoch = f"({EPOCH_2024} + doc_id)"
    return {"lon": lon, "lat": lat, "url": url, "warc_epoch": warc_epoch, "hot": hot}


def pages_cte_sql(
    doc_table: str = "documents",
    res: int = DEFAULT_RES,
    passthrough: tuple[str, ...] = ("text", "lang"),
) -> str:
    """SELECT deriving the pages columns — valid in Spark SQL *and* DuckDB.

    Emits: doc_id, url, warc_epoch (bigint), *passthrough, lat, lon, cell.
    (html/binary + real timestamp are Spark-side only; binary and
    timestamp types don't hash portably across engines.)
    """
    e = _derive_exprs()
    ix = cells.ix_sql_expr("lon", res)
    iy = cells.iy_sql_expr("lat", res)
    morton = cells.morton_sql_expr("ix", "iy", res)
    pt = ("".join(f"{c}, " for c in passthrough)).rstrip()
    return f"""
    WITH _pages0 AS (
        SELECT doc_id, {pt}
               {e['url']} AS url,
               {e['warc_epoch']} AS warc_epoch,
               {e['lat']} AS lat,
               {e['lon']} AS lon
        FROM {doc_table}
    ), _pages1 AS (
        SELECT *, {ix} AS ix, {iy} AS iy FROM _pages0
    )
    SELECT doc_id, url, warc_epoch, {pt} lat, lon,
           {morton} AS cell
    FROM _pages1
    """


# Reps per cross-joined row of build_pages_scaled. The nested-loop join
# emits all documents x chunk rows of one streamed row in one codegen
# call, and when the stage ends in a non-codegen operator (pip_join's
# Arrow refine) each is copied into a buffer first. One chunk per
# partition buffered the whole partition: on zonal-pages the driver
# JVM's old generation grew to 1.15 GB and young GCs took 3.3 s per 35 s,
# against 0.55 GB and 0.9 s with chunks of 10 (local[4], 2 GB heap).
SCALE_CHUNK = 10


def build_pages_scaled(
    spark: SparkSession, sf_dir: str, factor: int, res: int = DEFAULT_RES
) -> DataFrame:
    """Deterministic scale-up of the pages table for benchmarks.

    Every document expands into ``factor`` pages (page_id = doc_id *
    factor + rep, rep in [0, factor)) whose geotags derive from page_id,
    so every replica is a distinct deterministic point — no external
    data, same formulas as build_pages. text/lang ride along so shuffle
    volume is realistic. 5000 docs x 400 = 2M pages, the scale where
    local[8] vs local[32] is meaningful. The lazy plan is memoized like
    build_pages'.

    The expansion is a cross join of the small documents side with one
    row per chunk of at most ``SCALE_CHUNK`` reps, then
    ``explode(sequence(...))`` of that chunk: the join emits 5000 x 40
    rows and the generator the rest, where a join against
    ``range(factor)`` built all 2M rows in a broadcast nested-loop join
    (``sum(length(text))`` over 5000 docs x 400 on local[4], median of 6
    warm runs: 0.97-1.13 s → 0.44 s).
    """
    def build():
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        # r8: one partition per core (was par*4): the pipeline ends in an
        # ArrowEvalPython refine whose per-TASK Python round-trip dominated
        # at 4 tasks/core (measured 1.98 s → 0.92 s on the 2M-row bench
        # shape); `defaultParallelism` tracks cluster size, so the choice
        # stays scale-adaptive. Chunks of at most ceil(factor / par) reps
        # keep every partition busy and every sequence non-empty and
        # ascending.
        par = min(factor, spark.sparkContext.defaultParallelism)
        chunk = min(-(-factor // par), SCALE_CHUNK)
        nparts = -(-factor // chunk)
        parts = spark.range(0, nparts, numPartitions=par)
        lo, hi = f"id * {chunk}", f"least(id * {chunk} + {chunk}, {factor}) - 1"
        wide = parts.join(F.broadcast(docs)).selectExpr(
            f"explode(sequence(doc_id * {factor} + {lo}, doc_id * {factor} + {hi})) AS doc_id",
            "text", "lang", "source",
        )
        wide.createOrReplaceTempView("_trefoil_documents_scaled")
        return spark.sql(pages_cte_sql("_trefoil_documents_scaled", res))

    return _memo_plan(("scaled", spark, sf_dir, res, factor), build)


_PAGES_PLAN_CACHE: dict = {}


def _memo_plan(key: tuple, build) -> DataFrame:
    """The memoized lazy plan for ``key``, else ``build()``'s, which
    replaces it: only the latest plan is kept."""
    cached = _PAGES_PLAN_CACHE.get(key)
    if cached is None:
        cached = build()
        _PAGES_PLAN_CACHE.clear()
        _PAGES_PLAN_CACHE[key] = cached
    return cached


def build_pages(
    spark: SparkSession, sf_dir: str, res: int = DEFAULT_RES, with_html: bool = True
) -> DataFrame:
    """pages DataFrame from the documents parquet (all JVM-side exprs).

    r8: the LAZY plan is memoized per (session, path, res, with_html) —
    several queries build the same pages table, and each build paid a
    parquet footer/listing job plus analysis of the large derivation
    CTE (~0.18 s). Only the unexecuted plan object is reused (Spark
    itself caches file listings and catalog relations per session the
    same way); every action still computes from the parquet files.
    """
    # keyed on the session object: newSession()s share one applicationId
    # but each has its own SQL conf and temp views
    def build():
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        docs.createOrReplaceTempView("_trefoil_documents")
        df = spark.sql(pages_cte_sql("_trefoil_documents", res))
        df = df.withColumn("warc_ts", F.timestamp_seconds(F.col("warc_epoch")))
        if with_html:
            # html embeds the text — byte-identity of text implies html identity
            df = df.withColumn(
                "html",
                F.encode(
                    F.concat(F.lit("<html><body>"), F.col("text"), F.lit("</body></html>")),
                    "UTF-8",
                ),
            )
        return df

    return _memo_plan(("pages", spark, sf_dir, res, with_html), build)
