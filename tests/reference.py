"""Reference implementations that only tests use.

The engine never calls these. They are the independent side of parity
tests: DuckDB SQL twins of Spark operators, batch twins of streaming
queries, a numpy twin of the warp UDF, and writers/decoders that build
foreign-layout fixtures (WARC, PDF, AIFC, MP4/Matroska/Ogg/MP3
containers) or read back paletted PNGs. The twins the declared queries'
oracle SQL uses stay in the package next to their operators.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trefoil_spark.functions.aiff import _f80_encode
from trefoil_spark.functions.jpeg import encode_jpeg
from trefoil_spark.functions.mediainfo import (
    _BITRATES_V1L3,
    _EBML_MAGIC,
    _ID3_TEXT,
    _RATES,
)
from trefoil_spark.functions.png import _SIGNATURE
from trefoil_spark.geometry.pip import Polygon
from trefoil_spark.operators.dsir import DSIR_BUCKETS
from trefoil_spark.operators.pip_join import pip_join
from trefoil_spark.operators.textstats import (
    _SLD_EXT,
    _URL_HOST_RE,
    _URL_PATH_RE,
    token_hash_expr_duckdb,
)
from trefoil_spark.operators.urlnorm import (
    _HOST_IN_HP_RE,
    _PORT_RE,
    _SCHEME_RE,
    TRACKING_PARAM_RE,
)
from trefoil_spark.raster.gridspec import GridSpec
from trefoil_spark.raster.warp import sample_tile


# ---------------------------------------------------------------------------
# SQL twins of Spark operators (DuckDB, for parity tests)
# ---------------------------------------------------------------------------


def url_sql_duckdb(url_col: str = "url") -> dict[str, str]:
    """Exact DuckDB twins of the URL ops (operators/textstats.py)."""
    host = f"coalesce(regexp_extract({url_col}, '{_URL_HOST_RE}', 1), '')"
    parts = f"string_split({host}, '.')"
    n = f"len({parts})"
    sld_list = ", ".join(f"'{s}'" for s in _SLD_EXT)
    last2 = f"({parts}[-2] || '.' || {parts}[-1])"
    last3 = f"({parts}[-3] || '.' || {parts}[-2] || '.' || {parts}[-1])"
    return {
        "host": host,
        "path": (
            f"coalesce(regexp_extract({url_col}, "
            f"'{_URL_PATH_RE}', 1), '')"
        ),
        "domain": (
            f"CASE WHEN {n} <= 2 THEN {host} "
            f"WHEN {n} >= 3 AND {parts}[-2] IN ({sld_list}) THEN {last3} "
            f"ELSE {last2} END"
        ),
    }


def boilerplate_sql_duckdb(rel: str, url_col: str = "url",
                           min_frac_num: int = 1,
                           min_frac_den: int = 2,
                           min_pages: int = 4) -> str:
    """DuckDB twin of operators/cleaning.remove_host_boilerplate for the default
    newline split/join (the twin joins with chr(10)). SELECT doc_id,
    text."""
    host = f"lower({url_sql_duckdb(url_col)['host']})"
    return f"""
        WITH b AS (
            SELECT doc_id, {host} AS h, text FROM {rel}
        ), l AS (
            SELECT doc_id, h,
                   unnest(string_split_regex(text, '\n+')) AS line,
                   unnest(range(1, len(string_split_regex(text, '\n+')) + 1))
                       AS line_idx
            FROM b
        ), d AS (
            SELECT doc_id, h, line, line_idx, md5(line) AS digest
            FROM l WHERE length(trim(line)) > 0
        ), pl AS (
            SELECT h, digest, COUNT(DISTINCT doc_id) AS n_pages
            FROM d GROUP BY h, digest
        ), ph AS (
            SELECT h, COUNT(DISTINCT doc_id) AS n_docs
            FROM b GROUP BY h
        ), boiler AS (
            SELECT pl.h, pl.digest FROM pl JOIN ph ON pl.h = ph.h
            WHERE ph.n_docs >= {min_pages}
              AND pl.n_pages * {min_frac_den} >= ph.n_docs * {min_frac_num}
        ), kept AS (
            SELECT d.doc_id, d.line, d.line_idx
            FROM d LEFT JOIN boiler
              ON d.h = boiler.h AND d.digest = boiler.digest
            WHERE boiler.digest IS NULL
        )
        SELECT doc_id, string_agg(line, chr(10) ORDER BY line_idx) AS text
        FROM kept GROUP BY doc_id
    """


def dedup_latest_sql_duckdb(rel: str, key_col: str = "url",
                            ts_col: str = "warc_ts",
                            tiebreak_col: str = "doc_id") -> str:
    """DuckDB twin of operators/dedup.dedup_latest: the QUALIFY
    row_number formulation — equivalence with the Spark max_by plan is
    what the parity test checks."""
    return (
        f"SELECT * FROM {rel} QUALIFY row_number() OVER ("
        f"PARTITION BY {key_col} "
        f"ORDER BY {ts_col} DESC, {tiebreak_col} DESC) = 1"
    )


def nb_sql_duckdb(pos_rel: str, neg_rel: str, docs_rel: str,
                  text_col: str = "text") -> str:
    """Exact DuckDB twin of operators/classifier train+score: SELECT doc_id, n_tokens,
    score with the identical IEEE expression trees."""
    def toks(rel: str, cols: str = "") -> str:
        return (
            f"SELECT {cols}unnest(list_filter(string_split_regex("
            f"lower({text_col}), '\\s+'), x -> length(x) > 0)) AS w "
            f"FROM {rel}"
        )

    return f"""
        WITH cp AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS cp
            FROM ({toks(pos_rel)}) GROUP BY w
        ), cn AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS cn
            FROM ({toks(neg_rel)}) GROUP BY w
        ), j AS (
            SELECT COALESCE(cp.w, cn.w) AS w,
                   COALESCE(cp, 0) AS cp, COALESCE(cn, 0) AS cn
            FROM cp FULL OUTER JOIN cn ON cp.w = cn.w
        ), meta AS (
            SELECT CAST(SUM(cp) AS BIGINT) AS np,
                   CAST(SUM(cn) AS BIGINT) AS nn,
                   CAST(COUNT(*) AS BIGINT) AS v,
                   ln(CAST(1 AS DOUBLE) / CAST(CAST(SUM(cp) AS BIGINT) + COUNT(*) AS DOUBLE))
                   - ln(CAST(1 AS DOUBLE) / CAST(CAST(SUM(cn) AS BIGINT) + COUNT(*) AS DOUBLE))
                   AS llr0
            FROM j
        ), model AS (
            SELECT w,
                   ln(CAST(cp + 1 AS DOUBLE) / CAST(np + v AS DOUBLE))
                   - ln(CAST(cn + 1 AS DOUBLE) / CAST(nn + v AS DOUBLE))
                   AS llr
            FROM j, meta
        ), dt AS (
            {toks(docs_rel, "doc_id, ")}
        ), per_doc AS (
            SELECT dt.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   SUM(COALESCE(model.llr, meta.llr0)) AS score
            FROM dt LEFT JOIN model ON dt.w = model.w, meta
            GROUP BY dt.doc_id
        )
        SELECT d.doc_id,
               COALESCE(per_doc.n_tokens, 0) AS n_tokens,
               per_doc.score AS score
        FROM (SELECT doc_id FROM {docs_rel}) d
        LEFT JOIN per_doc ON d.doc_id = per_doc.doc_id
    """


def dsir_sql_duckdb(target_rel: str, raw_rel: str,
                    buckets: int = DSIR_BUCKETS,
                    alpha: int = 1,
                    text_col: str = "text") -> str:
    """DuckDB twin of operators/dsir: one query (raw_rel doc -> n_grams,
    logw) replaying featurize -> train -> score. Relations are named tables/CTEs with
    (doc_id, text)."""
    h = token_hash_expr_duckdb("g.g")
    toks = (
        f"list_filter(string_split_regex(lower({text_col}), '\\s+'), "
        "x -> length(x) > 0)"
    )
    grams = (
        f"list_concat({toks}, "
        f"list_transform(generate_series(1, len({toks}) - 1), "
        f"i -> ({toks})[i] || ' ' || ({toks})[i + 1]))"
    )
    buckets_of = (
        "SELECT doc_id, {h} % {b} AS bucket "
        "FROM (SELECT doc_id, unnest({grams}) AS g FROM {rel}) g"
    )

    def b_of(rel: str) -> str:
        return buckets_of.format(h=h, b=buckets, grams=grams, rel=rel)

    return f"""
        WITH tb AS ({b_of(target_rel)}),
        rb AS ({b_of(raw_rel)}),
        tcnt AS (SELECT bucket, COUNT(*) AS ct FROM tb GROUP BY bucket),
        rcnt AS (SELECT bucket, COUNT(*) AS cr FROM rb GROUP BY bucket),
        tot AS (
            SELECT (SELECT CAST(SUM(ct) AS BIGINT) FROM tcnt) AS nt,
                   (SELECT CAST(SUM(cr) AS BIGINT) FROM rcnt) AS nr
        ),
        w AS (
            SELECT COALESCE(tcnt.bucket, rcnt.bucket) AS bucket,
                   ln(CAST(COALESCE(ct, 0) AS DOUBLE) + CAST({alpha} AS DOUBLE))
                 - ln(CAST(nt AS DOUBLE) + CAST({alpha * buckets} AS DOUBLE))
                 - ln(CAST(COALESCE(cr, 0) AS DOUBLE) + CAST({alpha} AS DOUBLE))
                 + ln(CAST(nr AS DOUBLE) + CAST({alpha * buckets} AS DOUBLE))
                   AS logratio
            FROM tcnt FULL OUTER JOIN rcnt ON tcnt.bucket = rcnt.bucket
            CROSS JOIN tot
        ),
        sc AS (
            SELECT rb.doc_id, COUNT(*) AS n_grams,
                   SUM(logratio) AS logw
            FROM rb LEFT JOIN w USING (bucket)
            GROUP BY rb.doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(sc.n_grams, 0) AS BIGINT) AS n_grams,
               sc.logw
        FROM (SELECT DISTINCT doc_id FROM {raw_rel}) d
        LEFT JOIN sc USING (doc_id)
    """


def ppl_bucket_sql_duckdb(cuts: tuple[float, float],
                          ppl_col: str = "ppl") -> str:
    """Exact DuckDB twin of operators/lm.ppl_bucket_col (cuts injected as
    hex-exact float literals via repr)."""
    c1, c2 = float(cuts[0]), float(cuts[1])
    return (
        f"CASE WHEN {ppl_col} IS NULL THEN NULL "
        f"WHEN {ppl_col} <= CAST({c1!r} AS DOUBLE) THEN 'head' "
        f"WHEN {ppl_col} <= CAST({c2!r} AS DOUBLE) THEN 'middle' "
        f"ELSE 'tail' END"
    )


def token_budget_sql_duckdb(rel: str, budget: int,
                            by: str | None = None,
                            text_col: str = "text") -> str:
    """DuckDB twin of operators/seqpack.sample_to_token_budget: the kept doc_id
    set via the direct single-window formulation (the oracle runs at
    small scale, so the one-task funnel the Spark side avoids is fine
    here — and the equivalence of the two formulations is exactly what
    the parity test checks)."""
    toks = (
        f"list_filter(string_split_regex({text_col}, '\\s+'), "
        "x -> length(x) > 0)"
    )
    key = by if by else "''"
    return f"""
        SELECT doc_id FROM (
            SELECT doc_id,
                   COALESCE(SUM(n) OVER (
                       PARTITION BY k ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS off, n
            FROM (
                SELECT {key} AS k, doc_id,
                       CAST(len({toks}) AS BIGINT) AS n
                FROM {rel}
            )
        ) WHERE off + n <= {budget}
    """


def canonical_url_sql_duckdb(url_col: str = "url") -> str:
    """String-equal DuckDB twin of operators/urlnorm.canonical_url_col."""
    u = f"regexp_replace({url_col}, '#.*$', '')"
    scheme = f"lower(coalesce(regexp_extract({u}, '{_SCHEME_RE}', 1), ''))"
    rest = f"regexp_replace({u}, '{_SCHEME_RE}', '')"
    authority = f"coalesce(regexp_extract({rest}, '^([^/?]*)', 1), '')"
    host_port = f"regexp_replace({authority}, '^[^@]*@', '')"
    host = (
        "lower(regexp_replace(coalesce(regexp_extract("
        f"{host_port}, '{_HOST_IN_HP_RE}', 1), ''), '\\.$', ''))"
    )
    port = f"coalesce(regexp_extract({host_port}, '{_PORT_RE}', 1), '')"
    keep_port = (
        f"CASE WHEN ({scheme} = 'http' AND {port} = ':80') "
        f"OR ({scheme} = 'https' AND {port} = ':443') "
        f"THEN '' ELSE {port} END"
    )
    path = f"coalesce(regexp_extract({rest}, '^[^/?]*([^?]*)', 1), '')"
    path = f"CASE WHEN {path} = '' THEN '/' ELSE {path} END"
    query = f"coalesce(regexp_extract({rest}, '\\?(.*)$', 1), '')"
    params = (
        # coalesce: DuckDB array_to_string(empty list) is NULL
        "coalesce(array_to_string(list_sort(list_filter(string_split("
        f"{query}, '&'), p -> p <> '' AND NOT regexp_matches(p, "
        f"'{TRACKING_PARAM_RE}'))), '&'), '')"
    )
    rebuilt = (
        f"{scheme} || '://' || {host} || {keep_port} || {path} || "
        f"CASE WHEN {params} = '' THEN '' ELSE '?' || {params} END"
    )
    return f"CASE WHEN {scheme} = '' THEN {u} ELSE {rebuilt} END"


def robots_rules_sql_duckdb(rel: str, agent: str = "*",
                            host_col: str = "host",
                            body_col: str = "body") -> str:
    """DuckDB twin of operators/robots.parse_robots_rules: SELECT host, allow,
    prefix."""
    agent = agent.lower().replace("'", "''")
    return f"""
        WITH lines AS (
            SELECT {host_col} AS host,
                   unnest(string_split_regex({body_col}, '\\r?\\n')) AS raw,
                   unnest(range(1, len(string_split_regex({body_col},
                       '\\r?\\n')) + 1)) AS idx
            FROM {rel}
        ), parsed0 AS (
            SELECT host, idx,
                   trim(regexp_replace(raw, '#.*$', '')) AS line
            FROM lines
        ), parsed AS (
            SELECT host, idx,
                   lower(coalesce(regexp_extract(line,
                       '^([A-Za-z-]+)\\s*:', 1), '')) AS key,
                   trim(coalesce(regexp_extract(line,
                       '^[A-Za-z-]+\\s*:(.*)$', 1), '')) AS val
            FROM parsed0
            WHERE lower(coalesce(regexp_extract(line,
                '^([A-Za-z-]+)\\s*:', 1), ''))
                IN ('user-agent', 'allow', 'disallow')
        ), lagged AS (
            SELECT *,
                   CASE WHEN key = 'user-agent' THEN 1 ELSE 0 END AS ua,
                   COALESCE(LAG(CASE WHEN key = 'user-agent' THEN 1
                       ELSE 0 END) OVER (PARTITION BY host ORDER BY idx),
                       0) AS prev_ua
            FROM parsed
        ), grouped AS (
            SELECT host, idx, key, val,
                   SUM(CASE WHEN ua = 1 AND prev_ua = 0 THEN 1 ELSE 0
                       END)
                   OVER (PARTITION BY host ORDER BY idx
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS grp
            FROM lagged
        ), agents AS (
            SELECT host, grp,
                   MAX(CASE WHEN lower(val) = '{agent}' THEN 1 ELSE 0
                       END) AS has_agent,
                   MAX(CASE WHEN val = '*' THEN 1 ELSE 0 END) AS has_star
            FROM grouped WHERE key = 'user-agent' GROUP BY host, grp
        ), hha AS (
            SELECT host, MAX(has_agent) AS host_has_agent
            FROM agents GROUP BY host
        ), selected AS (
            SELECT agents.host, grp FROM agents JOIN hha
              ON agents.host = hha.host
            WHERE (host_has_agent = 1 AND has_agent = 1)
               OR (host_has_agent = 0 AND has_star = 1)
        )
        SELECT DISTINCT grouped.host, key = 'allow' AS allow,
               val AS prefix
        FROM grouped JOIN selected
          ON grouped.host = selected.host AND grouped.grp = selected.grp
        WHERE key IN ('allow', 'disallow') AND val <> ''
    """


# ---------------------------------------------------------------------------
# Batch twins of streaming queries and the numpy twin of the warp UDF
# ---------------------------------------------------------------------------


def batch_zonal_twin(
    df: DataFrame,
    polygons: list[Polygon],
    value_col: str = "n_chars",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Batch twin of streaming/zonal.streaming_zonal_stats with identical
    expressions (streaming/batch unification check)."""
    joined = pip_join(df, polygons, lon_col=lon_col, lat_col=lat_col)
    return joined.groupBy("zone_value").agg(
        F.count(F.lit(1)).cast("bigint").alias("count"),
        F.sum(F.col(value_col).cast("bigint")).cast("bigint").alias("value_sum"),
    )


def batch_interval_stats(
    df: DataFrame, ts_col: str = "ts", value_col: str = "value", window: str = "6 hours"
) -> DataFrame:
    """Batch twin of streaming/interval.py (same expressions) for
    equivalence tests."""
    return (
        df.groupBy(F.window(F.col(ts_col), window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.sum(F.col(value_col).cast("double")).alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "count",
            "value_sum",
        )
    )


def warp_tile_numpy(
    src: np.ndarray,
    src_spec: GridSpec,
    dst_spec: GridSpec,
    ty: int,
    tx: int,
    method: str = "nearest",
) -> np.ndarray:
    """Single-process twin of raster/warp: one dst tile gathered from a
    full src array."""
    return sample_tile(src, (0, 0), src_spec, dst_spec, ty, tx, method)


# ---------------------------------------------------------------------------
# Fixture writers and reference decoders for the codec and container tests
# ---------------------------------------------------------------------------


def decode_palette_png(data: bytes):
    """Minimal decoder for round-trip tests: returns (indices, palette,
    transparent_index). Only reads PNGs produced by encode_palette_png."""
    assert data[:8] == _SIGNATURE
    pos = 8
    pal = None
    trans = None
    idat = b""
    w = h = None
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", payload[:10])
            assert depth == 8 and ctype == 3
        elif tag == b"PLTE":
            pal = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"tRNS":
            alphas = np.frombuffer(payload, dtype=np.uint8)
            zero = np.flatnonzero(alphas == 0)
            trans = int(zero[0]) if zero.size else None
        elif tag == b"IDAT":
            idat += payload
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(h, w + 1)
    assert (raw[:, 0] == 0).all(), "only filter 0 supported"
    return raw[:, 1:].copy(), pal, trans


_AIFC_NAMES = {
    b"sowt": b"\x00",
    b"raw ": b"\x00",
    b"fl32": b"\x0532-bit floating point",  # pascal strings
    b"fl64": b"\x0564-bit floating point",
    b"NONE": b"\x0enot compressed\x00",
}


def encode_aifc(samples: np.ndarray, rate: int,
                compression: bytes = b"sowt") -> bytes:
    """Twin writer for the exactly-invertible AIFC forms: 'sowt'
    (little-endian int16), 'raw ' (offset-binary uint8), 'fl32'/'fl64'
    (big-endian IEEE float), 'NONE' (big-endian int16). Emits the
    spec-required FVER chunk (version timestamp 0xA2805140) and an
    AIFC-extended COMM."""
    s = np.asarray(samples)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    if compression == b"sowt":
        bits, body = 16, s.astype("<i2").tobytes()
    elif compression == b"raw ":
        bits, body = 8, (s.astype(np.int32) + 128).astype(np.uint8).tobytes()
    elif compression == b"fl32":
        bits, body = 32, s.astype(">f4").tobytes()
    elif compression == b"fl64":
        bits, body = 64, s.astype(">f8").tobytes()
    elif compression == b"NONE":
        bits, body = 16, s.astype(">i2").tobytes()
    else:
        raise NotImplementedError(
            f"AIFC twin for compression {compression!r}"
        )
    name = _AIFC_NAMES[compression]
    if (len(name)) & 1:
        name += b"\x00"
    comm = (struct.pack(">hIh", ch, n, bits) + _f80_encode(rate)
            + compression + name)
    ssnd = struct.pack(">II", 0, 0) + body

    def chunk(cc: bytes, payload: bytes) -> bytes:
        pad = b"\x00" if len(payload) & 1 else b""
        return cc + struct.pack(">I", len(payload)) + payload + pad

    form = (b"AIFC" + chunk(b"FVER", struct.pack(">I", 0xA2805140))
            + chunk(b"COMM", comm) + chunk(b"SSND", ssnd))
    return b"FORM" + struct.pack(">I", len(form)) + form


def mux_mp4(tracks: list, duration_ms: int = 0, brand: str = "isom") -> bytes:
    """Spec-layout MP4 twin with stub media: each track is a dict with
    kind ('video'/'audio'), codec fourcc, and width/height or
    sample_rate/channels. Emits ftyp + moov(mvhd + trak per entry) +
    empty mdat."""
    def box(t: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", len(payload) + 8) + t + payload

    ts = 1000
    mvhd = box(
        b"mvhd",
        b"\x00\x00\x00\x00" + struct.pack(
            ">IIII", 0, 0, ts, duration_ms
        ) + struct.pack(">IHHII", 0x00010000, 0x0100, 0, 0, 0)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24 + struct.pack(">I", len(tracks) + 1),
    )
    traks = b""
    for i, tr in enumerate(tracks):
        w = tr.get("width") or 0
        h = tr.get("height") or 0
        tkhd = box(
            b"tkhd",
            b"\x00\x00\x00\x07" + struct.pack(
                ">IIII", 0, 0, i + 1, 0
            ) + struct.pack(">I", duration_ms) + b"\x00" * 8
            + struct.pack(">HHHH", 0, 0, 0x0100 if tr["kind"] == "audio" else 0, 0)
            + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                          0x40000000)
            + struct.pack(">II", w << 16, h << 16),
        )
        mdhd = box(
            b"mdhd",
            b"\x00\x00\x00\x00" + struct.pack(
                ">IIII", 0, 0, tr.get("sample_rate") or ts,
                (tr.get("sample_rate") or ts) * duration_ms // 1000,
            ) + struct.pack(">HH", 0x55C4, 0),
        )
        hk = b"vide" if tr["kind"] == "video" else b"soun"
        hdlr = box(b"hdlr", b"\x00" * 8 + hk + b"\x00" * 12 + b"stub\x00")
        fourcc = tr["codec"].ljust(4)[:4].encode("latin-1")
        if tr["kind"] == "audio":
            entry = box(
                fourcc,
                b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 8
                + struct.pack(">HHHH", tr.get("channels") or 2, 16, 0, 0)
                + struct.pack(">I", (tr.get("sample_rate") or 44100) << 16),
            )
        else:
            entry = box(
                fourcc,
                b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 16
                + struct.pack(">HH", w, h) + b"\x00" * 50,
            )
        stsd = box(b"stsd", b"\x00" * 4 + struct.pack(">I", 1) + entry)
        stbl = box(b"stbl", stsd)
        minf = box(b"minf", stbl)
        mdia = box(b"mdia", mdhd + hdlr + minf)
        traks += box(b"trak", tkhd + mdia)
    moov = box(b"moov", mvhd + traks)
    ftyp = box(b"ftyp", brand.encode("latin-1") + struct.pack(">I", 0x200)
               + b"isommp41")
    return ftyp + moov + box(b"mdat", b"")


def _ebml_el(eid_bytes: bytes, payload: bytes) -> bytes:
    n = len(payload)
    if n < 0x7F:
        size = bytes([0x80 | n])
    else:
        size = bytes([0x40 | (n >> 8), n & 0xFF])
    return eid_bytes + size + payload


def _ebml_uint(v: int) -> bytes:
    out = b"" if v else b"\x00"
    while v:
        out = bytes([v & 0xFF]) + out
        v >>= 8
    return out


def mux_mkv(tracks: list, duration_ms: int = 0,
            webm: bool = False) -> bytes:
    """Spec-layout Matroska/WebM twin with stub media (no Clusters)."""
    doctype = b"webm" if webm else b"matroska"
    header = _ebml_el(
        _EBML_MAGIC,
        _ebml_el(b"\x42\x86", b"\x01")       # EBMLVersion
        + _ebml_el(b"\x42\xf7", b"\x01")     # EBMLReadVersion
        + _ebml_el(b"\x42\x82", doctype)     # DocType
        + _ebml_el(b"\x42\x87", b"\x04")     # DocTypeVersion
        + _ebml_el(b"\x42\x85", b"\x02"),
    )
    info = _ebml_el(
        b"\x15\x49\xa9\x66",
        _ebml_el(b"\x2a\xd7\xb1", _ebml_uint(1_000_000))
        + _ebml_el(b"\x44\x89", struct.pack(">d", float(duration_ms))),
    )
    entries = b""
    for i, tr in enumerate(tracks):
        fields = (
            _ebml_el(b"\xd7", _ebml_uint(i + 1))        # TrackNumber
            + _ebml_el(b"\x73\xc5", _ebml_uint(i + 1))  # TrackUID
            + _ebml_el(
                b"\x83", _ebml_uint(1 if tr["kind"] == "video" else 2)
            )
            + _ebml_el(b"\x86", tr["codec"].encode("latin-1"))
        )
        if tr["kind"] == "video":
            fields += _ebml_el(
                b"\xe0",
                _ebml_el(b"\xb0", _ebml_uint(tr["width"]))
                + _ebml_el(b"\xba", _ebml_uint(tr["height"])),
            )
        else:
            fields += _ebml_el(
                b"\xe1",
                _ebml_el(
                    b"\xb5", struct.pack(">d", float(tr["sample_rate"]))
                )
                + _ebml_el(b"\x9f", _ebml_uint(tr.get("channels") or 2)),
            )
        entries += _ebml_el(b"\xae", fields)
    tracks_el = _ebml_el(b"\x16\x54\xae\x6b", entries)
    segment = _ebml_el(b"\x18\x53\x80\x67", info + tracks_el)
    return header + segment


def build_mp3(n_frames: int = 10, kbps: int = 128, rate: int = 44100,
              mono: bool = False, id3_bytes: int = 0,
              tags: dict | None = None) -> bytes:
    """MP3 twin: valid MPEG-1 Layer III frame headers with zero-fill
    payloads (probe-parseable, not decodable audio), optional ID3v2
    (v2.3 text frames from ``tags`` {title/artist/album/...} followed
    by ``id3_bytes`` of padding)."""
    bridx = _BITRATES_V1L3.index(kbps)
    sridx = _RATES[3].index(rate)
    out = bytearray()
    if id3_bytes or tags:
        frames_b = bytearray()
        rev = {v: k for k, v in _ID3_TEXT.items() if k != "TDRC"}
        for name, val in (tags or {}).items():
            body = b"\x03" + val.encode("utf-8")  # enc 3 = UTF-8
            frames_b += (rev[name].encode() + struct.pack(">I", len(body))
                         + b"\x00\x00" + body)
        sz = len(frames_b) + id3_bytes
        out += b"ID3\x03\x00\x00" + bytes(
            [(sz >> 21) & 0x7F, (sz >> 14) & 0x7F, (sz >> 7) & 0x7F,
             sz & 0x7F]
        ) + frames_b + b"\x00" * id3_bytes
    for _ in range(n_frames):
        frame_len = 144 * kbps * 1000 // rate
        hdr = bytes([
            0xFF, 0xFB,  # MPEG1 Layer III, no CRC
            (bridx << 4) | (sridx << 2),
            0xC0 if mono else 0x00,
        ])
        out += hdr + b"\x00" * (frame_len - 4)
    return bytes(out)


def mux_ogg(codec: str = "vorbis", channels: int = 2, rate: int = 44100,
            n_samples: int = 0) -> bytes:
    """Ogg twin: a BOS page with a Vorbis/Opus ident header plus one
    EOS data page whose granule position encodes ``n_samples``."""
    def page(serial, seqno, body, flags, granule):
        segs = []
        rem = len(body)
        while rem >= 255:
            segs.append(255)
            rem -= 255
        segs.append(rem)
        hdr = (b"OggS\x00" + bytes([flags])
               + struct.pack("<qI", granule, serial)
               + struct.pack("<II", seqno, 0)
               + bytes([len(segs)]) + bytes(segs))
        return hdr + body

    if codec == "vorbis":
        ident = (b"\x01vorbis" + struct.pack("<IB", 0, channels)
                 + struct.pack("<IiiI", rate, 0, 0, 0) + b"\x01")
    elif codec == "opus":
        ident = (b"OpusHead\x01" + bytes([channels])
                 + struct.pack("<HIhB", 312, rate, 0, 0))
    else:
        raise ValueError("twin supports vorbis/opus")
    bos = page(1, 0, ident, 0x02, 0)
    eos = page(1, 1, b"\x00" * 10, 0x04, n_samples)
    return bos + eos


def mux_mp4_mjpeg(frames, fps: int = 10, quality: int = 90) -> bytes:
    """Twin writer: (h, w, 3) uint8 RGB frames → self-contained
    photo-JPEG MP4 (mdat before moov so stco offsets are absolute;
    full stts/stsc/stsz/stco sample tables; two chunks when there are
    4+ samples so the stsc expansion is exercised)."""
    def box(t: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + t + payload

    payloads = [encode_jpeg(np.asarray(f, np.uint8), quality)
                for f in frames]
    h, w = frames[0].shape[:2]
    n = len(payloads)
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2")
    # split samples into two chunks when possible
    c1 = n if n < 4 else (n + 1) // 2
    mdat_body = b"".join(payloads)
    mdat_off = len(ftyp) + 8
    off1 = mdat_off
    off2 = mdat_off + sum(len(p) for p in payloads[:c1])
    ts = int(fps)
    mvhd = box(b"mvhd", b"\x00" * 4 + struct.pack(
        ">IIII", 0, 0, ts, n) + b"\x00" * 80)
    tkhd = box(b"tkhd", b"\x00\x00\x00\x07" + struct.pack(
        ">IIIII", 0, 0, 1, 0, n) + b"\x00" * 52
        + struct.pack(">II", w << 16, h << 16))
    mdhd = box(b"mdhd", b"\x00" * 4 + struct.pack(
        ">IIII", 0, 0, ts, n) + b"\x00" * 4)
    hdlr = box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12 + b"mjpeg\x00")
    entry = (b"\x00" * 6 + struct.pack(">H", 1)      # SampleEntry
             + b"\x00" * 16
             + struct.pack(">HH", w, h)
             + struct.pack(">II", 0x480000, 0x480000)
             + b"\x00" * 4 + struct.pack(">H", 1)
             + b"\x00" * 32
             + struct.pack(">Hh", 24, -1))
    stsd = box(b"stsd", b"\x00" * 4 + struct.pack(">I", 1)
               + box(b"jpeg", entry))
    stts = box(b"stts", b"\x00" * 4 + struct.pack(">III", 1, n, 1))
    if n < 4:
        stsc = box(b"stsc", b"\x00" * 4 + struct.pack(">I", 1)
                   + struct.pack(">III", 1, n, 1))
        stco = box(b"stco", b"\x00" * 4 + struct.pack(">II", 1, off1))
    else:
        stsc = box(b"stsc", b"\x00" * 4 + struct.pack(">I", 2)
                   + struct.pack(">III", 1, c1, 1)
                   + struct.pack(">III", 2, n - c1, 1))
        stco = box(b"stco", b"\x00" * 4 + struct.pack(">I", 2)
                   + struct.pack(">II", off1, off2))
    stsz = box(b"stsz", b"\x00" * 4 + struct.pack(">II", 0, n)
               + b"".join(struct.pack(">I", len(p)) for p in payloads))
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = box(b"minf", box(b"vmhd", b"\x00\x00\x00\x01" + b"\x00" * 8)
               + stbl)
    mdia = box(b"mdia", mdhd + hdlr + minf)
    trak = box(b"trak", tkhd + mdia)
    moov = box(b"moov", mvhd + trak)
    return ftyp + box(b"mdat", mdat_body) + moov


def write_pdf(pages: list[str], compress: bool = True) -> bytes:
    """Twin writer: list of page texts (lines separated by \\n) → a
    complete single-font PDF with a correct xref table. Each line
    becomes one Tj run followed by T*."""
    objs: list[bytes] = []

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    n_pages = len(pages)
    kids = " ".join(f"{4 + 2 * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    objs.append(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )
    for i, text in enumerate(pages):
        content = b"BT /F1 11 Tf 50 780 Td 14 TL\n"
        for line in text.split("\n"):
            content += b"(" + esc(line).encode("latin-1") + b") Tj T*\n"
        content += b"ET"
        if compress:
            stream = zlib.compress(content, 6)
            sdict = (
                b"<< /Filter /FlateDecode /Length "
                + str(len(stream)).encode() + b" >>"
            )
        else:
            stream = content
            sdict = b"<< /Length " + str(len(stream)).encode() + b" >>"
        objs.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Resources << /Font << /F1 3 0 R >> >> "
                f"/Contents {5 + 2 * i} 0 R >>"
            ).encode()
        )
        objs.append(sdict + b"\nstream\n" + stream + b"\nendstream")
    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, obj in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + obj + b"\nendobj\n"
    xref_pos = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        b"trailer\n<< /Size " + str(len(objs) + 1).encode()
        + b" /Root 1 0 R >>\nstartxref\n" + str(xref_pos).encode()
        + b"\n%%EOF\n"
    )
    return bytes(out)


def write_warc(records: list, gzip_members: bool = True) -> bytes:
    """Twin writer: list of (record_type, target_uri, payload bytes) →
    WARC bytes (one gzip member per record when gzip_members — the
    splittable layout real crawls use)."""
    out = bytearray()
    for i, (rtype, uri, payload) in enumerate(records):
        if rtype == "response":
            body = (
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                + b"Content-Length: " + str(len(payload)).encode() + b"\r\n"
                + b"\r\n" + payload
            )
        else:
            body = payload
        rec = (
            b"WARC/1.0\r\n"
            + b"WARC-Type: " + rtype.encode() + b"\r\n"
            + b"WARC-Record-ID: <urn:uuid:rec-" + str(i).encode() + b">\r\n"
            + b"WARC-Target-URI: " + uri.encode() + b"\r\n"
            + b"WARC-Date: 2026-01-01T00:00:00Z\r\n"
            + b"Content-Length: " + str(len(body)).encode() + b"\r\n"
            + b"\r\n" + body + b"\r\n\r\n"
        )
        if gzip_members:
            co = zlib.compressobj(6, zlib.DEFLATED, 31)
            out += co.compress(bytes(rec)) + co.flush()
        else:
            out += rec
    return bytes(out)
